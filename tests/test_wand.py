"""WAND is a flag, not a semantics change: bm25_topk_wand must equal
the naive exhaustive scorer exactly (SURVEY.md §4 item 2)."""

from __future__ import annotations

import pytest

from inverted_index_spark.operators.bm25 import bm25_topk
from inverted_index_spark.operators.build import build_index
from inverted_index_spark.operators.wand import bm25_topk_wand
from inverted_index_spark.sources.store import SegmentStore
from inverted_index_spark.sources.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    store = SegmentStore(str(tmp_path_factory.mktemp("wand") / "idx"))
    docs = generate_transcripts(spark, 800, include_doc_id=True)
    build_index(spark, docs, store, bucket_size=128, block_size=16)
    return store


@pytest.mark.parametrize(
    "terms,k",
    [
        (["w00000"], 10),
        (["w00001", "w00002"], 5),
        (["w00003", "w01500", "w19000"], 10),
        (["w00042", "w00007", "w00123", "w00999", "w05000"], 20),
        (["doesnotexist"], 10),
        (["бесплатно", "w00000"], 10),
    ],
)
def test_wand_equals_naive(spark, built, terms, k):
    naive = [
        (r["doc_id"], round(r["score"], 12))
        for r in bm25_topk(spark, built, terms, k).collect()
    ]
    wand = [
        (r["doc_id"], round(r["score"], 12))
        for r in bm25_topk_wand(spark, built, terms, k).collect()
    ]
    assert wand == naive


def test_block_decodes_share_one_row_decode(monkeypatch):
    """Decoding every block of one row calls the postings primitive
    once for the row, not once per block (each call re-reads the whole
    row's block metadata, so per-block calls cost O(blocks²))."""
    import numpy as np
    import pandas as pd

    from inverted_index_spark.functions import codec
    from inverted_index_spark.operators import wand

    docs = np.arange(0, 64 * 40, 40, dtype=np.int64)
    tfs = np.arange(1, 65) % 7 + 1
    dls = np.arange(64) + 3
    p, t, d, blocks = codec.encode_postings(docs, tfs, dls, block_size=4)
    grp = pd.DataFrame({"postings": [p], "tfs": [t], "dls": [d], "blocks": [blocks]})
    calls = []

    def counting(*a, **k):
        calls.append(1)
        return codec.decode_rows_concat(*a, **k)

    monkeypatch.setattr(wand, "decode_rows_concat", counting)
    handles = wand._term_handles(grp)
    assert len(handles) == 16
    got = [h.decode() for h in reversed(handles)][::-1]
    assert len(calls) == 1
    for i, arr in enumerate((docs, tfs, dls)):
        np.testing.assert_array_equal(np.concatenate([g[i] for g in got]), arr)
    for h, (bd, _, _) in zip(handles, got):
        assert (bd[0], bd[-1], len(bd)) == (h.first_doc, h.last_doc, h.n)

"""Positional index + phrase queries (operators.positions).

Semantics pinned against a brute-force Python oracle over the shared
tokenizer contract: a doc matches phrase p iff some token offset i has
toks[i + j] == p[j] for all j.
"""

from __future__ import annotations

import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from inverted_index_spark.functions.tokenizer import tokenize_text
from inverted_index_spark.operators.build import build_index
from inverted_index_spark.operators.merge import merge_segments
from inverted_index_spark.operators.positions import (
    decode_position_rows,
    encode_positions_arrays,
    phrase_match,
    read_positions,
)
from inverted_index_spark.sources.store import SegmentStore

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "quick brown foxes are quick brown"),
    (2, "the dog sleeps"),
    (3, "brown the quick"),              # words present, phrase absent
    (4, "pad quick brown pad quick brown"),  # phrase twice
    (5, ""),                              # token-less
    (6, "the quick brown fox quick brown fox"),
]


def oracle_phrase(phrase: list[str]) -> dict[int, int]:
    out = {}
    for doc_id, text in DOCS:
        toks = tokenize_text(text)
        n = sum(
            1
            for i in range(len(toks) - len(phrase) + 1)
            if toks[i : i + len(phrase)] == phrase
        )
        if n:
            out[doc_id] = n
    return out


@pytest.fixture(scope="module")
def pos_store(spark):
    store = SegmentStore(tempfile.mkdtemp(prefix="ii_pos_") + "/idx")
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_index(spark, df, store, bucket_size=4, positions=True, store_text=True)
    return store


def _matches(spark, store, phrase):
    return {
        r["doc_id"]: r["n_matches"]
        for r in phrase_match(spark, store, phrase).collect()
    }


@pytest.mark.parametrize(
    "phrase",
    [
        ["quick", "brown"],
        ["quick", "brown", "fox"],
        ["the", "quick"],
        ["the"],
        ["lazy", "dog"],
        ["dog", "quick"],          # no doc has this adjacency
        ["nosuchword", "quick"],   # missing term
        ["quick", "brown", "fox", "jumps", "over", "the", "lazy", "dog"],
    ],
)
def test_phrase_oracle_parity(spark, pos_store, phrase):
    assert _matches(spark, pos_store, phrase) == oracle_phrase(phrase)


def test_empty_phrase(spark, pos_store):
    assert phrase_match(spark, pos_store, []).count() == 0


def test_duplicate_term_phrase(spark, pos_store):
    # 'quick brown quick'? none; 'brown quick brown'? none in DOCS —
    # use 'quick brown' twice separated: 'quick brown pad quick'? no.
    # doc 6: the quick brown fox quick brown fox → 'brown fox quick'
    assert _matches(spark, pos_store, ["brown", "fox", "quick"]) == oracle_phrase(
        ["brown", "fox", "quick"]
    )


def test_positions_roundtrip_exact():
    terms = np.array(["a", "a", "a", "b", "b"], dtype=object)
    docs = np.array([3, 3, 9, 3, 4], dtype=np.int64)
    poss = np.array([0, 7, 2, 1, 0], dtype=np.int64)
    import pandas as pd

    enc = encode_positions_arrays(terms, docs, poss, bucket=0)
    out = decode_position_rows(enc)
    got = sorted(zip(out["term"], out["doc_id"], out["pos"]))
    assert got == [("a", 3, 0), ("a", 3, 7), ("a", 9, 2), ("b", 3, 1), ("b", 4, 0)]
    assert isinstance(enc, pd.DataFrame)


def test_phrase_range_scoped(spark, pos_store):
    got = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_match(
            spark, pos_store, ["quick", "brown"], min_doc=1, max_doc=4
        ).collect()
    }
    full = oracle_phrase(["quick", "brown"])
    assert got == {d: n for d, n in full.items() if 1 <= d <= 4}


def test_phrase_survives_compaction(spark):
    """Two positional segments → merge → identical phrase results
    (the merge-invariance contract extended to positions)."""
    store = SegmentStore(tempfile.mkdtemp(prefix="ii_posm_") + "/idx")
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_index(spark, df.where(F.col("doc_id") < 3), store, bucket_size=4, positions=True)
    build_index(spark, df.where(F.col("doc_id") >= 3), store, bucket_size=4, positions=True)
    before = _matches(spark, store, ["quick", "brown"])
    assert merge_segments(spark, store, min_files=2) is not None
    store.cleanup()
    after = _matches(spark, store, ["quick", "brown"])
    assert before == after == oracle_phrase(["quick", "brown"])
    # merged store has exactly one live positional segment
    assert len(store.live_segments()) == 1


def test_phrase_bm25_topk(spark, pos_store):
    """Filter set = phrase matches; ranking = BM25 over phrase terms,
    pinned against the pure-python oracle restricted to the match set."""
    from inverted_index_spark.operators.positions import phrase_bm25_topk
    from inverted_index_spark.oracle import OracleIndex

    phrase = ["quick", "brown"]
    got = [
        (r["doc_id"], r["score"])
        for r in phrase_bm25_topk(spark, pos_store, phrase, k=10).collect()
    ]
    matching = set(oracle_phrase(phrase))
    import pandas as pd

    oracle = OracleIndex.from_docs(
        pd.DataFrame(DOCS, columns=["doc_id", "text"])
    )
    want = [
        (d, s)
        for d, s in oracle.bm25_topk(sorted(set(phrase)), k=100)
        if d in matching
    ][:10]
    assert [g[0] for g in got] == [w[0] for w in want]
    assert all(abs(g[1] - w[1]) < 1e-9 for g, w in zip(got, want))


def test_missing_positions_raises(spark):
    store = SegmentStore(tempfile.mkdtemp(prefix="ii_posx_") + "/idx")
    df = spark.createDataFrame(DOCS[:3], "doc_id long, text string")
    build_index(spark, df, store, bucket_size=4)  # positions=False
    with pytest.raises(ValueError, match="without positions"):
        read_positions(spark, store)


def test_searcher_phrase_cached(spark, pos_store):
    """Searcher.phrase (cached positions scan) ≡ phrase_match, and
    repeat queries reuse the cache."""
    from inverted_index_spark.operators.search import Searcher

    s = Searcher(spark, pos_store).open()
    try:
        for phrase in (["quick", "brown"], ["the", "quick"], ["lazy", "dog"]):
            got = {
                r["doc_id"]: r["n_matches"] for r in s.phrase(phrase).collect()
            }
            assert got == oracle_phrase(phrase), phrase
        assert s._positions is not None  # cache materialized once
    finally:
        s.close()
    assert s._positions is None


def oracle_min_span(terms: list[str]) -> dict[int, int]:
    """Brute-force minimum covering span per doc (None → no match)."""
    import itertools

    out = {}
    uniq = sorted(set(terms))
    for doc_id, text in DOCS:
        toks = tokenize_text(text)
        positions = {t: [i for i, x in enumerate(toks) if x == t] for t in uniq}
        if any(not v for v in positions.values()):
            continue
        best = min(
            max(combo) - min(combo) + 1
            for combo in itertools.product(*(positions[t] for t in uniq))
        )
        out[doc_id] = best
    return out


@pytest.mark.parametrize(
    "terms,window",
    [
        (["quick", "dog"], 8),
        (["quick", "dog"], 7),
        (["the", "fox", "dog"], 9),
        (["the", "fox", "dog"], 5),
        (["quick", "brown"], 2),
        (["quick"], 1),
        (["nosuchword", "quick"], 50),
    ],
)
def test_terms_within_window(spark, pos_store, terms, window):
    from inverted_index_spark.operators.positions import terms_within_window

    got = {
        r["doc_id"]: r["min_span"]
        for r in terms_within_window(spark, pos_store, terms, window).collect()
    }
    want = {d: s for d, s in oracle_min_span(terms).items() if s <= window}
    assert got == want, (terms, window)


def test_phrase_snippets(spark, pos_store):
    from inverted_index_spark.operators.positions import phrase_snippets

    got = {
        r["doc_id"]: (r["n_matches"], r["snippet"])
        for r in phrase_snippets(spark, pos_store, ["quick", "brown"], context=2).collect()
    }
    want_counts = oracle_phrase(["quick", "brown"])
    assert set(got) == set(want_counts)
    for d, (n, snip) in got.items():
        assert n == want_counts[d]
        toks = tokenize_text(dict(DOCS)[d])
        first = next(
            i for i in range(len(toks) - 1)
            if toks[i] == "quick" and toks[i + 1] == "brown"
        )
        lo = max(first - 2, 0)
        assert snip == " ".join(toks[lo : lo + 6]), d


def test_min_cover_spans_kernel_random():
    """The vectorized kernel (round-4: segmented maximum.accumulate +
    minimum.reduceat, no per-occurrence Python) vs the classic
    two-pointer on random multi-doc occurrence sets."""
    import random

    import numpy as np

    from inverted_index_spark.operators.positions import min_cover_spans

    rng = random.Random(7)
    for trial in range(30):
        k = rng.randint(1, 4)
        rows = []
        for d in range(rng.randint(1, 12)):
            n_occ = rng.randint(0, 25)
            poss = rng.sample(range(60), min(n_occ, 60))
            for p in poss:
                rows.append((d, p, rng.randrange(k)))
        rows.sort()
        if not rows:
            continue
        doc = np.array([r[0] for r in rows], dtype=np.int64)
        pos = np.array([r[1] for r in rows], dtype=np.int64)
        tid = np.array([r[2] for r in rows], dtype=np.int64)
        got_d, got_s = min_cover_spans(doc, pos, tid, k)
        got = dict(zip(got_d.tolist(), got_s.tolist()))
        # brute-force two-pointer per doc
        want = {}
        for d in sorted(set(doc.tolist())):
            m = doc == d
            pp, tt = pos[m], tid[m]
            if len(set(tt.tolist())) < k:
                continue
            count: dict = {}
            have, left, best = 0, 0, None
            for right in range(len(pp)):
                count[tt[right]] = count.get(tt[right], 0) + 1
                if count[tt[right]] == 1:
                    have += 1
                while have == k:
                    span = int(pp[right] - pp[left] + 1)
                    best = span if best is None or span < best else best
                    count[tt[left]] -= 1
                    if count[tt[left]] == 0:
                        have -= 1
                    left += 1
            want[d] = best
        assert got == want, (trial, got, want)


# ------------------------------------------------------------ phrase slop ---


def oracle_sloppy(phrase: list[str], slop: int) -> dict[int, int]:
    """Brute-force of the documented semantics: a start at position p
    matches when every phrase[i] occurs somewhere in [p+i, p+i+slop]."""
    out = {}
    for doc_id, text in DOCS:
        toks = tokenize_text(text)
        occ: dict[str, list[int]] = {}
        for i, t in enumerate(toks):
            occ.setdefault(t, []).append(i)
        n = 0
        for p in occ.get(phrase[0], []):
            if all(
                any(p + i <= q <= p + i + slop for q in occ.get(w, []))
                for i, w in enumerate(phrase)
            ):
                n += 1
        if n:
            out[doc_id] = n
    return out


@pytest.mark.parametrize(
    "phrase,slop",
    [
        (["quick", "brown"], 1),
        (["quick", "fox"], 2),          # lag: quick brown fox
        (["the", "dog"], 7),
        (["fox", "quick"], 2),          # order still required
        (["quick", "brown", "fox"], 1),
        (["the", "lazy", "dog"], 0),
    ],
)
def test_phrase_slop_oracle_parity(spark, pos_store, phrase, slop):
    got = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_match(spark, pos_store, phrase, slop=slop).collect()
    }
    assert got == oracle_sloppy(phrase, slop), (phrase, slop)


@pytest.mark.parametrize(
    "phrase",
    [["quick", "brown"], ["quick", "brown", "fox"], ["the", "quick"], ["the"]],
)
def test_phrase_slop_zero_equals_exact(spark, pos_store, phrase):
    """slop=0 ≡ the exact-adjacency path (different physical plans)."""
    exact = _matches(spark, pos_store, phrase)
    sloppy = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_match(spark, pos_store, phrase, slop=0).collect()
    }
    assert exact == sloppy
    # and ≡ the brute-force sloppy oracle at s=0
    assert sloppy == oracle_sloppy(phrase, 0)


def test_phrase_slop_orders_and_errors(spark, pos_store):
    # "fox ... jumps" within slop 0 fails, slop>=0 lag matches
    assert _matches(spark, pos_store, ["fox", "jumps"]) == {0: 1}
    got = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_match(spark, pos_store, ["brown", "jumps"], slop=1).collect()
    }
    assert got == oracle_sloppy(["brown", "jumps"], 1) == {0: 1}
    with pytest.raises(ValueError):
        phrase_match(spark, pos_store, ["a", "b"], slop=-1)


def test_phrase_slop_multi_segment_keeps_dedup(spark):
    """Pre-compaction overlap (the same doc's positions live in two
    segments) must not inflate sloppy counts: duplicate
    (doc_id, adj, off) rows are dropped before the kernel, mirroring
    test_bm25_scores_multi_segment_keeps_dedup."""
    store = SegmentStore(tempfile.mkdtemp(prefix="ii_pos_ovl_") + "/idx")
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    build_index(spark, df, store, bucket_size=4, positions=True)
    build_index(spark, df, store, bucket_size=4, positions=True)
    assert len(store.live_segments()) == 2
    for phrase, slop in [
        (["quick", "brown"], 1),
        (["quick", "fox"], 2),
        (["the", "dog"], 7),
        (["quick", "brown", "fox"], 1),
    ]:
        got = {
            r["doc_id"]: r["n_matches"]
            for r in phrase_match(spark, store, phrase, slop=slop).collect()
        }
        assert got == oracle_sloppy(phrase, slop), (phrase, slop)


def test_sloppy_kernel_random():
    """sloppy_start_counts (vectorized, multi-doc) vs brute force."""
    import random

    from inverted_index_spark.operators.positions import sloppy_start_counts

    rng = random.Random(23)
    for trial in range(30):
        k = rng.randint(1, 4)
        slop = rng.randint(0, 4)
        rows = []
        anchors: dict[int, list[int]] = {}
        occs: dict[tuple[int, int], list[int]] = {}
        for d in range(rng.randint(1, 10)):
            for off in range(k):
                for a in rng.sample(range(30), rng.randint(0, 8)):
                    rows.append((d, a, off))
                    occs.setdefault((d, off), []).append(a)
                    if off == 0:
                        anchors.setdefault(d, []).append(a)
        rows = sorted(set(rows))
        if not rows:
            continue
        doc = np.array([r[0] for r in rows], dtype=np.int64)
        adj = np.array([r[1] for r in rows], dtype=np.int64)
        off = np.array([r[2] for r in rows], dtype=np.int64)
        got_d, got_c = sloppy_start_counts(doc, off, adj, k, slop)
        got = dict(zip(got_d.tolist(), got_c.tolist()))
        want = {}
        for d, al in anchors.items():
            n = sum(
                1
                for a in sorted(set(al))
                if all(
                    any(a <= q <= a + slop for q in occs.get((d, i), []))
                    for i in range(1, k)
                )
            )
            if n:
                want[d] = n
        assert got == want, (trial, got, want)


def test_term_snippets(spark, pos_store):
    from inverted_index_spark.operators.positions import term_snippets

    got = {
        r["doc_id"]: (r["first_pos"], r["snippet"])
        for r in term_snippets(spark, pos_store, ["fox", "lazy"], context=2).collect()
    }
    # doc 0: "the quick brown fox jumps over the lazy dog" — fox@3
    assert got[0] == (3, "quick brown fox jumps over")
    # doc 6: "the quick brown fox quick brown fox" — fox@3 first
    assert got[6] == (3, "quick brown fox quick brown")
    # docs without either term are absent
    assert 2 not in got and 3 not in got
    # window START clamps at the doc start; length stays 2*context+1
    # (same convention as phrase_snippets: an edge hit shows more
    # right-context instead of a shorter snippet)
    one = {
        r["doc_id"]: (r["first_pos"], r["snippet"])
        for r in term_snippets(spark, pos_store, ["the"], context=2).collect()
    }
    assert one[0] == (0, "the quick brown fox jumps")


def test_more_like_this(spark, pos_store):
    from inverted_index_spark.operators.bm25 import bm25_topk, more_like_this

    got = [(r["doc_id"], r["score"]) for r in more_like_this(spark, pos_store, 0, n_terms=4, k=10).collect()]
    # source doc excluded; scores sorted (desc, doc_id asc)
    assert all(d != 0 for d, _ in got)
    assert got == sorted(got, key=lambda x: (-x[1], x[0]))
    # deterministic term selection: tf DESC, df ASC, term ASC over
    # doc 0's tokens → "the"(tf2) first, then tf-1 terms by rarity
    from inverted_index_spark.functions.tokenizer import tokenize_text
    from inverted_index_spark.operators.bm25 import term_dfs

    toks = tokenize_text(dict(DOCS)[0])
    tf = {}
    for t in toks:
        tf[t] = tf.get(t, 0) + 1
    dfs = term_dfs(spark, pos_store, sorted(tf))
    expect_terms = sorted(tf, key=lambda t: (-tf[t], dfs[t], t))[:4]
    ref = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(spark, pos_store, expect_terms, k=11).collect()
        if r["doc_id"] != 0
    ][:10]
    assert got == ref
    with pytest.raises(KeyError):
        more_like_this(spark, pos_store, 999)


def test_phrase_bm25_topk_slop(spark, pos_store):
    """slop=0 ≡ the exact phrase ranking; slop widens the filter set
    but scoring terms stay the phrase's distinct terms."""
    from inverted_index_spark.operators.positions import phrase_bm25_topk

    exact = [(r["doc_id"], round(r["score"], 9))
             for r in phrase_bm25_topk(spark, pos_store, ["quick", "brown"], k=10).collect()]
    s0 = [(r["doc_id"], round(r["score"], 9))
          for r in phrase_bm25_topk(spark, pos_store, ["quick", "brown"], k=10, slop=0).collect()]
    assert exact == s0
    sloppy = {r["doc_id"] for r in
              phrase_bm25_topk(spark, pos_store, ["quick", "fox"], k=10, slop=2).collect()}
    assert sloppy == set(oracle_sloppy(["quick", "fox"], 2))


# ---------------------------------------------------------------- intervals


def _oracle_ordered_gaps(toks: list[str], seq: list[str]) -> int | None:
    """Brute force: minimal (span - k) over all strictly-increasing
    position tuples matching seq in order; None if no complete chain."""
    import itertools

    occ = [[i for i, t in enumerate(toks) if t == s] for s in seq]
    best = None
    for combo in itertools.product(*occ):
        if all(a < b for a, b in zip(combo, combo[1:])):
            gaps = combo[-1] - combo[0] + 1 - len(seq)
            best = gaps if best is None else min(best, gaps)
    return best


def test_chain_sequence_random_vs_bruteforce():
    from inverted_index_spark.operators.positions import _chain_sequence

    rng = np.random.default_rng(7)
    vocab = ["a", "b", "c", "d"]
    for trial in range(200):
        n_docs = int(rng.integers(1, 5))
        docs = {}
        rows = []
        for d in range(n_docs):
            toks = [vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(0, 12)))]
            docs[d] = toks
            rows += [(d, p, t) for p, t in enumerate(toks)]
        seq = [vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(1, 4)))]
        uniq = {}
        for t in seq:
            uniq.setdefault(t, len(uniq))
        keep = [r for r in rows if r[2] in uniq]
        keep.sort(key=lambda r: (r[0], r[1]))
        doc = np.array([r[0] for r in keep], dtype=np.int64)
        pos = np.array([r[1] for r in keep], dtype=np.int64)
        tid = np.array([uniq[r[2]] for r in keep], dtype=np.int64)
        slot = [uniq[t] for t in seq]
        got_d, got_g = _chain_sequence(doc, pos, tid, slot)
        got = dict(zip(got_d.tolist(), got_g.tolist()))
        want = {}
        for d, toks in docs.items():
            g = _oracle_ordered_gaps(toks, seq)
            if g is not None:
                want[d] = g
        assert got == want, (trial, seq, docs, got, want)


def test_intervals_match_ordered(spark, pos_store):
    from inverted_index_spark.operators.positions import intervals_match

    # 'quick ... fox' in order with bounded slack
    for max_gaps in (0, 1, 3):
        got = {
            r["doc_id"]: r["min_gaps"]
            for r in intervals_match(
                spark, pos_store, ["quick", "fox"], max_gaps
            ).collect()
        }
        want = {}
        for doc_id, text in DOCS:
            g = _oracle_ordered_gaps(tokenize_text(text), ["quick", "fox"])
            if g is not None and g <= max_gaps:
                want[doc_id] = g
        assert got == want, max_gaps


def test_intervals_match_repeated_term(spark, pos_store):
    from inverted_index_spark.operators.positions import intervals_match

    got = {
        r["doc_id"]: r["min_gaps"]
        for r in intervals_match(
            spark, pos_store, ["quick", "brown", "quick"], 5
        ).collect()
    }
    want = {}
    for doc_id, text in DOCS:
        g = _oracle_ordered_gaps(tokenize_text(text), ["quick", "brown", "quick"])
        if g is not None and g <= 5:
            want[doc_id] = g
    assert got == want


def test_intervals_match_unordered(spark, pos_store):
    from inverted_index_spark.operators.positions import intervals_match

    # unordered = minimal covering span; doc 3 ('brown the quick')
    # matches unordered but NOT ordered at max_gaps=1
    uno = {r["doc_id"] for r in intervals_match(
        spark, pos_store, ["quick", "brown"], 1, ordered=False).collect()}
    ord_ = {r["doc_id"] for r in intervals_match(
        spark, pos_store, ["quick", "brown"], 1, ordered=True).collect()}
    assert 3 in uno
    assert ord_ <= uno


def test_intervals_match_unordered_rejects_repeats(spark, pos_store):
    from inverted_index_spark.operators.positions import intervals_match

    with pytest.raises(ValueError, match="repeated terms"):
        intervals_match(
            spark, pos_store, ["quick", "quick"], 2, ordered=False
        )

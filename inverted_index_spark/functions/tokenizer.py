"""Deterministic tokenizer (engine == oracle contract, FIXTURES.md §B).

The reference library receives pre-extracted terms from its host
project (heaplog); it has no tokenizer of its own (SURVEY.md §2.5).
We pin one here so rank parity is well-defined:

    lowercase → extract runs of ``[\\p{L}\\p{N}_]`` (Unicode letters,
    numbers, underscore) → keep tokens of length 1..64. No stemming,
    no stop-words. tf = in-document count. Input text is assumed
    NFC-normalized (use :func:`normalize_nfc` at ingest otherwise —
    on NFC input the JVM and Python kernels below are equal; tested
    in tests/test_build_query.py::test_jvm_python_tokenizer_parity).

Two implementations of the same contract:

``tokenize``       the HOT PATH — pure JVM column expressions
                   (regexp_extract_all + sort_array + run-length via
                   higher-order functions), whole-stage codegen, zero
                   Python in the build. This is what the index build
                   uses: at 10^12 turns the tokenizer dominates build
                   cost, so it must never cross the Python boundary.
``tokenize_arrow`` the parity twin — Arrow-batched ``mapInPandas``
                   around the scalar ``tokenize_text`` kernel, shared
                   with the pytest oracle so the two can't drift.

``[\\p{L}\\p{N}_]`` is chosen over ``\\w`` because all three engines
agree on it byte-for-byte: Java regex (Spark), RE2 (the DuckDB
oracle), and Python ``re``'s Unicode ``\\w`` (≈ alnum + underscore;
Python's class is exactly L* ∪ N* ∪ {_} on NFC text).
"""

from __future__ import annotations

import re
import unicodedata
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_WORD_RE = re.compile(r"\w+", re.UNICODE)
MIN_LEN, MAX_LEN = 1, 64
TOKEN_CLASS = r"[\p{L}\p{N}_]+"  # identical semantics in Java / RE2 / Python-\w

TOKENS_SCHEMA = "doc_id long, term string, tf int, dl int"


# ------------------------------------------------------------- JVM hot path ---


def tokens_expr(text: Column) -> Column:
    """Token array for one text column — pure JVM, codegen'd.

    MIN_LEN=1 is inherent in the regex (``+`` matches ≥1 char); only
    the MAX_LEN cap needs the filter.
    """
    arr = F.regexp_extract_all(F.lower(text), F.lit(TOKEN_CLASS), 0)
    return F.filter(arr, lambda t: F.length(t) <= F.lit(MAX_LEN))


def doc_length_expr(text: Column) -> Column:
    """Document length (total token count incl. duplicates) — JVM-side."""
    return F.size(tokens_expr(text)).cast("long")


def tokenize(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """docs(id, text, ...) → tokens(doc_id, term, tf, dl) — no Python.

    Per-doc (term, tf) via sort + run-length inside array expressions:
    sort the token array, find run starts, pair each start with the
    next start → tf = gap. O(dl log dl) per doc, all inside
    whole-stage codegen; docs with zero tokens produce no rows (the
    build derives their dl=0 via :func:`doc_length_expr`, not here).
    """
    # no filter on toks: Spark would push it below the projection and
    # run the regex twice per doc. A doc without tokens gets no starts,
    # and the null row explode_outer emits for it is dropped after.
    toks = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokens_expr(F.col(text_col)).alias("toks"),
    )
    runs = toks.select(
        "doc_id",
        F.sort_array("toks").alias("s"),
        F.expr("cast(size(toks) as int)").alias("dl"),
    ).select(
        "doc_id",
        "s",
        "dl",
        # 1-based positions where a new distinct term begins
        F.expr(
            "IF(dl > 0, filter(sequence(1, dl),"
            " i -> i = 1 OR element_at(s, i) <> element_at(s, i - 1)), array())"
        ).alias("starts"),
    )
    entries = F.expr(
        "zip_with(starts,"
        " slice(concat(starts, array(dl + 1)), 2, size(starts)),"
        " (st, nx) -> struct(element_at(s, st) AS term, cast(nx - st AS int) AS tf))"
    )
    return runs.select(
        "doc_id", F.explode_outer(entries).alias("e"), "dl"
    ).where("e IS NOT NULL").select("doc_id", "e.term", "e.tf", "dl")


def normalize_nfc(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Optional ingest pass: NFC-normalize a text column (Arrow-batched).

    Only needed for corpora that may contain decomposed Unicode; the
    tokenizer contract assumes NFC input. Kept out of the hot path on
    purpose — run once at ingest, not per build.
    """
    cols = docs.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[text_col] = [
                unicodedata.normalize("NFC", t) if t is not None else None
                for t in pdf[text_col]
            ]
            yield pdf

    return docs.mapInPandas(run, schema=docs.schema).select(*cols)


# ------------------------------------------------- Python parity twin (oracle) ---


def tokenize_text(text: str) -> list[str]:
    """The pinned scalar contract — shared by the pytest oracles."""
    if text is None:
        return []
    norm = unicodedata.normalize("NFC", text).lower()
    return [t for t in _WORD_RE.findall(norm) if MIN_LEN <= len(t) <= MAX_LEN]


def tokenize_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized kernel: (doc_id, text) batch → (doc_id, term, tf, dl).

    One flat (doc, token) frame per Arrow batch, aggregated with a
    single C-path pandas groupby — no per-document Python aggregation.
    """
    texts = pdf["text"].to_numpy()
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    tok_lists = [tokenize_text(t) for t in texts]
    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists))
    if lens.sum() == 0:
        return pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"), "term": pd.Series(dtype="object"),
             "tf": pd.Series(dtype="int32"), "dl": pd.Series(dtype="int32")}
        )
    flat = pd.DataFrame(
        {
            "doc_id": np.repeat(ids, lens),
            "term": np.concatenate([np.asarray(t, dtype=object) for t in tok_lists if t]),
            "dl": np.repeat(lens, lens).astype(np.int32),
        }
    )
    out = (
        flat.groupby(["doc_id", "term"], sort=False)
        .agg(tf=("term", "size"), dl=("dl", "first"))
        .reset_index()
    )
    out["tf"] = out["tf"].astype(np.int32)
    return out[["doc_id", "term", "tf", "dl"]]


def tokenize_arrow(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Arrow-batched twin of :func:`tokenize` (Python kernel) — used by
    parity tests; NOT the build hot path."""
    narrow = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield tokenize_pdf(pdf)

    return narrow.mapInPandas(run, schema=TOKENS_SCHEMA)

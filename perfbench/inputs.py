"""Seeded benchmark inputs and their expected answers.

Everything here is a pure function of (workload, seed, size): the
transcript turns, the op list each workload replays, and the answers
the engine must give, computed with ``inverted_index_spark.oracle``
(BM25, OR/AND reads) plus a brute-force phrase oracle over the same
tokenizer contract. Results are cached on disk by key and verified by
content hash on every load, so a stale or edited cache file is never
used: a mismatch regenerates it.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

import numpy as np
import pandas as pd

from inverted_index_spark.functions.tokenizer import tokenize_text
from inverted_index_spark.oracle import OracleIndex

VOCAB_SIZE = 20_000
ZIPF_A = 1.3
UNICODE_TOKENS = ["التقديم", "חתונה", "бесплатно", "zx9uyv"]


def make_turns(seed: int, n_turns: int, n_parts: int) -> pd.DataFrame:
    """(doc_id, conv, part, text): Zipf-distributed transcript turns of
    3-80 tokens with a sprinkle of non-Latin tokens, in conversations of
    4-60 consecutive turns, split into ``n_parts`` contiguous doc-id
    ranges (segments or micro-batches)."""
    rng = np.random.default_rng([seed, n_turns, n_parts])
    conv_len = np.minimum(4 + rng.geometric(0.12, size=n_turns), 60)
    conv = np.repeat(np.arange(n_turns), conv_len)[:n_turns]
    vocab = np.array([f"w{i:05d}" for i in range(VOCAB_SIZE)], dtype=object)
    lens = np.minimum(3 + rng.geometric(0.06, size=n_turns), 80)
    draws = np.minimum(rng.zipf(ZIPF_A, size=int(lens.sum())), VOCAB_SIZE) - 1
    toks = vocab[draws]
    ends = np.cumsum(lens)
    uni = rng.random(n_turns) < 0.05
    uni_pick = rng.integers(0, len(UNICODE_TOKENS), size=n_turns)
    texts = []
    for i, (a, b) in enumerate(zip(ends - lens, ends)):
        words = list(toks[a:b])
        if uni[i]:
            words.append(UNICODE_TOKENS[uni_pick[i]])
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_turns, dtype=np.int64),
            "conv": conv.astype(np.int64),
            "part": (np.arange(n_turns) * n_parts // n_turns).astype(np.int32),
            "text": texts,
        }
    )


# ---------------------------------------------------------------- oracles
def forget_turns(docs: pd.DataFrame, rng: np.random.Generator, parts, per_part: int) -> list[int]:
    """A right-to-be-forgotten batch: ``per_part`` consecutive turns of
    one seeded conversation in each part. A fixed count keeps the cost
    of delete-scoped reads the same from seed to seed."""
    ids: list[int] = []
    for p in parts:
        in_part = docs[docs["part"] == p]
        sizes = in_part.groupby("conv").size()
        conv = rng.choice(sizes.index[sizes >= per_part])
        ids += in_part.loc[in_part["conv"] == conv, "doc_id"].head(per_part).tolist()
    return sorted(int(d) for d in ids)


def expected_topk(orc: OracleIndex, terms: list[str], k: int) -> list[list]:
    return [[int(d), float(s)] for d, s in orc.bm25_topk(terms, k)]


def and_values(orc: OracleIndex, terms: list[str]) -> list[int]:
    sets = [set(orc.postings.get(t, {})) for t in sorted(set(terms))]
    return sorted(set.intersection(*sets)) if sets else []


def phrase_docs(docs: pd.DataFrame, orc: OracleIndex, phrase: list[str], slop: int) -> list[int]:
    """Docs with a start p (an occurrence of phrase[0]) such that every
    phrase[i] occurs in [p+i, p+i+slop] — the documented semantics of
    ``positions.phrase_match``; slop=0 is exact adjacency."""
    cands = set.intersection(*[set(orc.postings.get(t, {})) for t in phrase])
    text = docs.set_index("doc_id")["text"]
    out = []
    for d in sorted(cands):
        occ: dict[str, list[int]] = {}
        for i, t in enumerate(tokenize_text(text[d])):
            occ.setdefault(t, []).append(i)
        if any(
            all(any(p + i <= q <= p + i + slop for q in occ.get(w, [])) for i, w in enumerate(phrase))
            for p in occ.get(phrase[0], [])
        ):
            out.append(int(d))
    return out


# ---------------------------------------------------------------- queries
def _terms_by_df(orc: OracleIndex) -> list[str]:
    return sorted(orc.postings, key=lambda t: (len(orc.postings[t]), t))


def bm25_queries(orc: OracleIndex, rng: np.random.Generator, n: int) -> list[list[str]]:
    """A third single-term queries stratified over df deciles, the rest
    2-5 terms mixing head (top 5% by df) and tail (lower half) terms —
    the shape of ``sources.queriesgen``."""
    by_df = _terms_by_df(orc)
    m = len(by_df)
    out = []
    for i in range(n):
        if i % 3 == 0:
            dec = (i // 3) % 10
            lo, hi = m * dec // 10, max(m * (dec + 1) // 10, m * dec // 10 + 1)
            out.append([by_df[int(rng.integers(lo, hi))]])
            continue
        kk = int(rng.integers(2, 6))
        head = [by_df[-1 - int(rng.integers(0, max(m // 20, 1)))] for _ in range(kk // 2)]
        tail = [by_df[int(rng.integers(0, max(m // 2, 1)))] for _ in range(kk - len(head))]
        out.append(sorted(set(head + tail)))
    return out


def point_reads(docs: pd.DataFrame, orc: OracleIndex, rng: np.random.Generator,
                kinds: list[str], per_kind: int, k: int, slop: int) -> list[dict]:
    """``per_kind`` reads of each kind, interleaved kind by kind, with
    expected answers. Each kind has a fixed shape — the seed only picks
    terms inside narrow df bands (head: df ranks 5-8; mid: 60-80th df
    percentile) — so the cost of a read varies little from seed to seed."""
    by_df = _terms_by_df(orc)
    m = len(by_df)
    lo_mid, hi_mid = m * 6 // 10, m * 8 // 10
    mid_band = set(by_df[lo_mid:hi_mid])

    def head() -> str:
        return by_df[-5 - int(rng.integers(0, 4))]

    def mid() -> str:
        return by_df[int(rng.integers(lo_mid, hi_mid))]

    def phrase(span: int) -> list[str]:
        """Mid-band tokens at p and p+span of one turn."""
        while True:
            toks = tokenize_text(docs["text"].iat[int(rng.integers(0, len(docs)))])
            starts = [p for p in range(len(toks) - span)
                      if toks[p] in mid_band and toks[p + span] in mid_band]
            if starts:
                p = starts[int(rng.integers(0, len(starts)))]
                return [toks[p], toks[p + span]]

    lo_max = max(orc.dl) // 2
    ops = []
    for _ in range(per_kind):
        for kind in kinds:
            if kind == "topk":
                terms = sorted({head(), mid(), mid()})
                ops.append({"kind": kind, "terms": terms, "expected": expected_topk(orc, terms, k)})
            elif kind == "read_values":
                terms = sorted({mid(), mid()})
                lo = int(rng.integers(0, lo_max))
                ops.append({"kind": kind, "terms": terms, "lo": lo, "hi": lo + lo_max,
                            "expected": orc.read_values(terms, lo, lo + lo_max)})
            elif kind == "and_values":
                terms = sorted({head(), mid()})
                ops.append({"kind": kind, "terms": terms, "expected": and_values(orc, terms)})
            else:
                s = 0 if kind == "phrase" else slop
                ph = phrase(1 if kind == "phrase" else s)
                ops.append({"kind": kind, "terms": ph, "slop": s,
                            "expected": phrase_docs(docs, orc, ph, s)})
    return ops


# ------------------------------------------------------------------ cache
def _sha256(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def source_digest() -> str:
    """Hash of every source the cached inputs and answers depend on: this
    file, the workloads' op lists, and the oracle and tokenizer they are
    computed with. A change to any of them invalidates every entry."""
    here = Path(__file__).parent
    pkg = here.parent / "inverted_index_spark"
    h = hashlib.sha256()
    for path in (here / "inputs.py", here / "workloads.py",
                 pkg / "oracle.py", pkg / "functions" / "tokenizer.py"):
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def cached(cache_dir: Path, key: str, build) -> tuple[Path, dict]:
    """Return (docs parquet path, spec) for ``key``, building them with
    ``build() -> (docs DataFrame, spec dict)`` unless a cache entry whose
    content hashes still match exists."""
    cache_dir.mkdir(parents=True, exist_ok=True)
    base = cache_dir / f"{key}-{source_digest()}"
    docs_path, spec_path, sums_path = (
        base.with_suffix(".parquet"), base.with_suffix(".spec.json"), base.with_suffix(".sha256.json")
    )
    try:
        sums = json.loads(sums_path.read_text())
        if sums == {"docs": _sha256(docs_path), "spec": _sha256(spec_path)}:
            return docs_path, json.loads(spec_path.read_text())
    except (OSError, ValueError):
        pass
    docs, spec = build()
    tmp = f".tmp-{os.getpid()}"
    docs.to_parquet(str(docs_path) + tmp, index=False, row_group_size=4096)
    Path(str(spec_path) + tmp).write_text(json.dumps(spec))
    os.replace(str(docs_path) + tmp, docs_path)
    os.replace(str(spec_path) + tmp, spec_path)
    sums_path.write_text(json.dumps({"docs": _sha256(docs_path), "spec": _sha256(spec_path)}))
    return docs_path, spec

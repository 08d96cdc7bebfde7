"""Seeded inputs for the benchmark workloads.

Every input is a pure function of the workload seed: the base corpora come
from ``fastdup_spark.fixtures.pages.generate_pages`` and the benchmark's own
seeded transforms add what the fixture does not plant (large near-duplicate
clusters, trickle batches with near-copies of stored docs, search queries).
Each corpus carries the pairs that ``similarity()`` must report and the
boilerplate control pairs it must not.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

from fastdup_spark.fixtures.pages import generate_pages, render_html

SHINGLE_K = 9  # PipelineConfig.shingle_k; brute-force search must match it

# Workload sizes. "full" is what BENCHMARK.json runs; "smoke" is the tiny
# scale the smoke test uses to check the output contract quickly.
SCALES = {
    "full": {
        "dup_pages": 1000, "dup_clusters": 3, "dup_cluster_size": 160,
        # the planted clusters fill one LSH bucket per band past this size,
        # so salting runs; 2-way splits keep recall of the clusters >= 0.99
        "dup_max_bucket": 128, "dup_salt_target": 96,
        "trickle_pages": 1500, "batch_pages": 100, "batch_copies": 10,
        "queries": 40, "checked_queries": 10,
    },
    "smoke": {
        "dup_pages": 300, "dup_clusters": 2, "dup_cluster_size": 40,
        "dup_max_bucket": 32, "dup_salt_target": 24,
        "trickle_pages": 300, "batch_pages": 30, "batch_copies": 4,
        "queries": 8, "checked_queries": 4,
    },
}


@dataclass
class Corpus:
    pages: pd.DataFrame   # url, warc_ts, html, text, lang
    dup_pairs: set        # url pairs similarity() must report
    control_pairs: set    # boilerplate url pairs it must never report


def pair(a: str, b: str) -> tuple[str, str]:
    return (a, b) if a < b else (b, a)


def _truth(data, kinds) -> set:
    tp = data.truth_pairs
    tp = tp[tp.kind.isin(kinds)]
    return {pair(a, b) for a, b in zip(tp.src_url, tp.dst_url)}


def _tokens(text: str) -> list[str]:
    """The pipeline's tokenization (functions/signatures.normalize_tokens_expr)."""
    cleaned = re.sub(r"\s+", " ", re.sub(r"[.,!?;:]", "", text)).strip()
    return cleaned.split(" ") if cleaned else []


def shingle_set(text: str, k: int = SHINGLE_K) -> set:
    toks = _tokens(text)
    if len(toks) < k:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 1.0


def near_copy(rng: np.random.Generator, text: str) -> str:
    """Replace one alphabetic token with a fresh word. This changes at most
    SHINGLE_K shingles, so a copy of a doc with >= 200 tokens keeps exact
    Jaccard >= 0.91 to its source (and >= 0.88 to another copy of a
    >= 300-token source) -- above the 0.85 verify threshold by construction."""
    toks = text.split(" ")
    eligible = [i for i, t in enumerate(toks) if t.isalpha()]
    i = eligible[int(rng.integers(0, len(eligible)))]
    toks[i] = "qz" + "".join(chr(97 + int(c)) for c in rng.integers(0, 26, 8))
    return " ".join(toks)


def _singletons(pages: pd.DataFrame, min_tokens: int, exclude=(),
                max_tokens: int | None = None) -> list[int]:
    """Row positions of planted singletons long enough for near_copy."""
    skip = set(exclude)
    hi = max_tokens or float("inf")
    return [i for i, (u, t) in enumerate(zip(pages.url, pages.text))
            if "/single/" in u and u not in skip
            and min_tokens <= len(t.split(" ")) <= hi]


def _page_rows(urls, texts, langs, ts0) -> pd.DataFrame:
    step = np.timedelta64(17, "s")
    return pd.DataFrame({
        "url": urls,
        "warc_ts": [ts0 + step * (i + 1) for i in range(len(urls))],
        "html": [render_html(" ".join(t.split(" ", 6)[:6]), t,
                             u.split("/")[2]) for u, t in zip(urls, texts)],
        "text": texts,
        "lang": langs,
    })


def standard_corpus(n_pages: int, seed: int) -> Corpus:
    """The fixture's standard mix: ~10% exact and ~12% near duplicates,
    ~5% boilerplate controls, ~3% containment pairs, a few malformed pages."""
    data = generate_pages(n_pages, seed=seed)
    return Corpus(data.pages, _truth(data, ["exact", "near"]),
                  _truth(data, ["boilerplate"]))


def dup_heavy_corpus(n_pages: int, n_clusters: int, cluster_size: int,
                     seed: int) -> Corpus:
    """A standard corpus plus ``n_clusters`` planted near-duplicate clusters
    of ``cluster_size`` docs each, grown from long singletons."""
    base = standard_corpus(n_pages, seed)
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    pages = base.pages
    # a narrow length band keeps the clusters' verify cost alike across seeds
    pool = _singletons(pages, 300, max_tokens=400)
    picks = rng.choice(len(pool), size=n_clusters, replace=False)
    urls, texts, langs = [], [], []
    dup_pairs = set(base.dup_pairs)
    for c, p in enumerate(picks):
        row = pages.iloc[pool[int(p)]]
        members = [row.url]
        for i in range(cluster_size - 1):
            u = f"https://skew-{c:02d}.example/near/{i:06d}.html"
            urls.append(u)
            texts.append(near_copy(rng, row.text))
            langs.append(row.lang)
            members.append(u)
        dup_pairs |= {pair(a, b) for i, a in enumerate(members)
                      for b in members[i + 1:]}
    extra = _page_rows(urls, texts, langs, pages.warc_ts.max())
    return Corpus(pd.concat([pages, extra], ignore_index=True), dup_pairs,
                  base.control_pairs)


@dataclass
class Batch:
    pages: pd.DataFrame
    fresh_valid: int      # valid pages the update must report as new_docs
    dup_pairs: set        # planted pairs the updated store must report


def trickle_batch(stored: pd.DataFrame, n_pages: int, n_copies: int,
                  seed: int, index: int) -> Batch:
    """One update batch: fresh fixture pages under new URLs and later
    ``warc_ts``, plus ``n_copies`` near-copies of stored singletons."""
    data = generate_pages(n_pages - n_copies, seed=seed * 1000 + index + 1)
    ts0 = stored.warc_ts.max()
    prefix = f"://t{index:03d}-"
    fresh = data.pages.copy()
    fresh["url"] = fresh.url.str.replace("://", prefix, n=1, regex=False)
    fresh["warc_ts"] = fresh.warc_ts - fresh.warc_ts.min() + ts0 \
        + np.timedelta64(1, "h")
    pairs = {pair(a.replace("://", prefix, 1), b.replace("://", prefix, 1))
             for a, b in _truth(data, ["exact", "near"])}

    rng = np.random.Generator(np.random.PCG64([seed, 2, index]))
    pool = _singletons(stored, 200)
    picks = rng.choice(len(pool), size=n_copies, replace=False)
    urls, texts, langs = [], [], []
    for j, p in enumerate(picks):
        row = stored.iloc[pool[int(p)]]
        u = f"https://t{index:03d}-copy.example/near/{j:04d}.html"
        urls.append(u)
        texts.append(near_copy(rng, row.text))
        langs.append(row.lang)
        pairs.add(pair(row.url, u))
    copies = _page_rows(urls, texts, langs, fresh.warc_ts.max())
    pages = pd.concat([fresh, copies], ignore_index=True)
    return Batch(pages, int((pages.text != "").sum()), pairs)


def search_queries(corpus: Corpus, n_queries: int, seed: int) -> pd.DataFrame:
    """(query_id, text): half near-copies of corpus singletons that belong
    to no planted pair (so each has one match, well inside top-k), half
    fresh fixture text that matches nothing."""
    rng = np.random.Generator(np.random.PCG64([seed, 3]))
    planted = {u for p in corpus.dup_pairs for u in p}
    pool = _singletons(corpus.pages, 200, planted)
    n_near = n_queries // 2
    picks = rng.choice(len(pool), size=n_near, replace=False)
    near = [near_copy(rng, corpus.pages.text.iloc[pool[int(p)]])
            for p in picks]
    fresh_pages = generate_pages(4 * n_queries, seed=seed * 1000 + 999).pages
    fresh = [t for u, t in zip(fresh_pages.url, fresh_pages.text)
             if "/single/" in u][:n_queries - n_near]
    texts = near + fresh
    return pd.DataFrame({"query_id": np.arange(len(texts), dtype=np.int64),
                         "text": texts})


def brute_force_matches(query_texts, corpus_urls, corpus_texts,
                        threshold: float) -> list[dict]:
    """Exact-Jaccard matches (url -> jaccard) at >= threshold for each query,
    by comparing every query with every corpus doc."""
    docs = [(u, shingle_set(t)) for u, t in zip(corpus_urls, corpus_texts)
            if t]
    out = []
    for q in query_texts:
        qs = shingle_set(q)
        hits = {}
        for u, s in docs:
            if qs & s:
                j = round(jaccard(qs, s), 6)  # search_corpus rounds likewise
                if j >= threshold:
                    hits[u] = j
        out.append(hits)
    return out

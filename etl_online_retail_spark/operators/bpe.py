"""Distributed BPE vocabulary training (Sennrich-style merge learning).

The workload's bpe_ish_token_count APPLIES a fixed pre-tokenization; this
module LEARNS the merge table itself from the corpus — the actual
tokenizer-training step of an LLM data pipeline.

Classic formulation: train on the word-frequency dictionary, not the raw
corpus. The corpus-sized work is ONE aggregation (word counts); every
merge round then runs over the vocabulary-sized table — adjacent-pair
counting is an explode + hash aggregation, the argmax pair is a driver
decision (same driver-coordinated-loop trade as Spark ML's KMeans), and
the merge application is an Arrow-batched pandas UDF over the word table.
State per round is bounded by |vocab|, never |corpus|.

Determinism: the winning pair breaks ties lexicographically, so the merge
sequence is reproducible across runs and cluster layouts.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_online_retail_spark.session import cut_lineage, cut_observed
from pyspark.sql import types as T

from etl_online_retail_spark.functions.text import normalize, tokens


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the normalized corpus — the BPE training input."""
    norm = normalize(text_col)
    return (docs
            .filter(F.trim(norm) != "")
            .select(F.explode(tokens(norm)).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("freq")))


def word_table_venue(docs: DataFrame, text_col: str,
                     max_words: int) -> tuple[dict[str, int] | None,
                                              DataFrame | None]:
    """Pick the training venue of a word-table trainer from the exact
    vocabulary size — the same trade as a broadcast threshold, decided
    on an observed count rather than an estimate.

    The corpus-sized aggregation (word frequencies) runs distributed and
    is cut (session.cut_observed), so its row count rides the one job
    that materializes it and whichever venue follows reads the cut.
    Up to `max_words` words: returns ({word: freq}, None), collected
    from the cut — a loop of distributed rounds over a vocabulary this
    small is pure scheduling and Python-worker start-up. Past it:
    returns (None, the cut (word, freq) relation), which the caller
    trains on distributed. Nothing is cached, so the caller has nothing
    to release."""
    wf, m = cut_observed(word_frequencies(docs, text_col),
                         F.count(F.lit(1)).alias("n"))
    if m["n"] <= max_words:
        return {r.word: int(r.freq) for r in wf.collect()}, None
    return None, wf


def _adjacent_pairs(syms_col):
    """Adjacent symbol pairs of an array: zip(arr[:-1], arr[1:])."""
    n = F.size(syms_col)
    return F.zip_with(
        F.slice(syms_col, 1, n - 1),
        F.slice(syms_col, 2, n - 1),
        lambda a, b: F.concat(a, F.lit("\x00"), b))


BPE_DRIVER_VOCAB_THRESHOLD = 65536

# Per distributed round, fetch this many top pairs and batch the provably
# independent prefix into one application pass (ROADMAP 13): each round is
# a full explode+agg+UDF sweep, so merging k pairs per sweep cuts the
# dominant cost ~k-fold for large-vocab corpora.
BPE_BATCH_K = 16


def _select_merge_batch(ranked: list[tuple[str, int]],
                        complete: bool) -> list[tuple[str, str]]:
    """Pick the longest ranked prefix that provably reproduces the
    sequential merge sequence when applied in one pass.

    `ranked` is [(pair "l\\x00r", count)] ordered (count desc, pair asc);
    `complete` says whether it is the FULL ranking or a top-k fetch.

    Two conditions make the batch exact (not an approximation):

    1. Pairwise symbol-disjoint, accepted as a PREFIX (stop at the first
       overlap, never skip): merging one pair then only changes counts of
       pairs that overlap it, which all rank below the stop point.
    2. Every accepted count strictly exceeds the stop bound (the count at
       the stop point, or the fetch boundary when the ranking is cut):
       new pairs created by a merge inherit counts bounded by the
       overlapping pairs they replace, so strict dominance rules out both
       count upsets and equal-count lexicographic upsets.

    Under 1+2, the sequential argmax after applying p1..p_{i-1} is exactly
    p_i, so the batched sequence equals the one-at-a-time sequence. Falls
    back to the plain argmax [p1] when truncation would empty the batch.
    """
    accepted: list[tuple[str, str, int]] = []
    used: set[str] = set()
    stop_count: int | None = None
    for pair, n in ranked:
        left, right = pair.split("\x00")
        if left in used or right in used:
            stop_count = n
            break
        accepted.append((left, right, n))
        used.add(left)
        used.add(right)
    else:
        if not complete and accepted:
            # ranking was cut at the fetch boundary: unseen candidates may
            # tie the tail, so the safe bound is the last fetched count
            stop_count = accepted[-1][2]
    if stop_count is not None:
        batch = [(l, r) for l, r, n in accepted if n > stop_count]
    else:
        batch = [(l, r) for l, r, _ in accepted]
    if not batch and ranked:
        left, right = ranked[0][0].split("\x00")
        batch = [(left, right)]
    return batch


def bpe_train(docs: DataFrame, n_merges: int = 50,
              text_col: str = "text",
              driver_threshold: int = BPE_DRIVER_VOCAB_THRESHOLD,
              batch_k: int = BPE_BATCH_K,
              stats: dict | None = None,
              ) -> list[tuple[str, str]]:
    """Learn `n_merges` BPE merges from the corpus; returns the ordered
    merge list [(left, right), ...].

    The corpus-sized aggregation (word frequencies) always runs
    distributed. The merge loop then picks its venue by the counted vocab
    size (word_table_venue) — the same trade as a broadcast join
    threshold: a vocabulary of at most `driver_threshold` words collects
    once and loops in memory (a 20-round distributed loop on a tiny
    vocab is pure scheduler overhead), a larger one runs distributed
    rounds: pair count = explode + hash aggregation,
    batch selection on the driver (count desc, pair asc — deterministic;
    see _select_merge_batch for the exactness argument), merge application
    via an Arrow-batched pandas UDF, lineage cut per round with eager
    localCheckpoints. Both venues execute the identical algorithm and
    tiebreak, so the merge sequence is venue-independent (asserted in
    tests/test_bpe.py). Pass `stats` to receive {"rounds": N} — the 10x
    smoke asserts batching actually cuts sweep count.
    """
    freqs, wf = word_table_venue(docs, text_col, driver_threshold)
    if freqs is not None:
        if stats is not None:
            stats["rounds"] = 0
        return _train_in_memory(freqs, n_merges)

    words = (wf
             .select(F.split(F.col("word"), "").alias("syms"), "freq")
             .transform(cut_lineage))

    merges: list[tuple[str, str]] = []
    rounds = 0
    while len(merges) < n_merges:
        fetch = min(batch_k, n_merges - len(merges)) + 1
        top = (words
               .select(F.explode(_adjacent_pairs(F.col("syms"))).alias("pair"),
                       "freq")
               .groupBy("pair")
               .agg(F.sum("freq").alias("n"))
               .orderBy(F.desc("n"), F.asc("pair"))
               .limit(fetch)
               .collect())
        rounds += 1
        if not top:
            break
        batch = _select_merge_batch([(r.pair, r.n) for r in top],
                                    complete=len(top) < fetch)
        batch = batch[:n_merges - len(merges)]
        merges.extend(batch)

        batch_pairs = tuple(batch)  # new binding per round for the closure

        @F.pandas_udf(T.ArrayType(T.StringType()))
        def _apply(col: pd.Series) -> pd.Series:
            def merge_word(syms: list) -> list:
                for left, right in batch_pairs:
                    out, i = [], 0
                    while i < len(syms):
                        if (i + 1 < len(syms) and syms[i] == left
                                and syms[i + 1] == right):
                            out.append(left + right)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    syms = out
                return syms
            return col.map(merge_word)

        words = (words.select(_apply(F.col("syms")).alias("syms"), "freq")
                 .transform(cut_lineage))
    if stats is not None:
        stats["rounds"] = rounds
    return merges


def _train_in_memory(word_freqs: dict[str, int],
                     n_merges: int) -> list[tuple[str, str]]:
    """The same merge loop on a collected vocabulary (small-side venue)."""
    vocab: dict[tuple, int] = {}
    for w, f in word_freqs.items():
        key = tuple(w)
        vocab[key] = vocab.get(key, 0) + f
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + f
        if not pairs:
            break
        # identical tiebreak to the distributed argmax: count desc, then
        # the NUL-joined pair string ascending
        best = min(pairs.items(),
                   key=lambda kv: (-kv[1], kv[0][0] + "\x00" + kv[0][1]))[0]
        merges.append(best)
        new_vocab: dict[tuple, int] = {}
        for syms, f in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == best[0]
                        and syms[i + 1] == best[1]):
                    out.append(best[0] + best[1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            k = tuple(out)
            new_vocab[k] = new_vocab.get(k, 0) + f
        vocab = new_vocab
    return merges


def bpe_segment(docs: DataFrame, merges: list[tuple[str, str]],
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Apply a learned merge list: (id, n_tokens_bpe) per document.

    One Arrow-batched pass; the merge list ships in the closure (it is
    vocabulary-sized — broadcast-small by construction).
    """
    ranks = {pair: i for i, pair in enumerate(merges)}

    @F.pandas_udf(T.IntegerType())
    def _count(col: pd.Series) -> pd.Series:
        def encode(word: str) -> int:
            syms = list(word)
            while len(syms) > 1:
                best, best_rank = None, None
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best, best_rank = i, r
                if best is None:
                    break
                syms[best:best + 2] = [syms[best] + syms[best + 1]]
            return len(syms)
        # NULL text reaches the UDF as None (r7 review): count 0 tokens
        # instead of crashing the task on None.split()
        return col.map(
            lambda txt: 0 if txt is None
            else sum(encode(w) for w in txt.split()))

    norm = normalize(text_col)
    return docs.select(F.col(id_col),
                       _count(F.trim(norm)).alias("n_tokens_bpe"))

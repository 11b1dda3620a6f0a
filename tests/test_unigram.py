"""Unigram-LM tokenizer training: distributed == sequential reference,
the venue rule, partition invariance, Viterbi semantics, coverage and
compression."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from etl_online_retail_spark.catalog import load_table
from etl_online_retail_spark.operators import unigram_lm
from etl_online_retail_spark.operators.bpe import word_frequencies
from etl_online_retail_spark.operators.unigram_lm import (
    _viterbi,
    unigram_tokenize,
    unigram_train,
    unigram_train_sequential,
)

SF = "/root/testdata/sf0.001"

VOCAB, SEED = 48, 192


@pytest.fixture
def distributed(monkeypatch):
    """Force the distributed EM: a bound of 0 words sends every
    vocabulary past the in-memory venue."""
    monkeypatch.setattr(unigram_lm, "UNIGRAM_DRIVER_VOCAB_THRESHOLD", 0)


def test_viterbi_picks_max_prob_segmentation():
    logp = {"a": math.log(0.1), "b": math.log(0.1),
            "ab": math.log(0.3), "abb": math.log(0.4)}
    # 'abb' as one piece (0.4) beats 'ab'+'b' (0.03) and 'a'+'b'+'b'
    assert _viterbi("abb", logp, 8) == ["abb"]
    # 'ab' (0.3) beats 'a'+'b' (0.01)
    assert _viterbi("ab", logp, 8) == ["ab"]
    # uncoverable word -> None
    assert _viterbi("abc", logp, 8) is None
    # max_len window excludes the long piece
    assert _viterbi("abb", logp, 2) == ["ab", "b"]


def test_viterbi_tie_breaks_deterministic():
    # equal total score: x*y (0.2*0.2) vs xy... make exact ties with
    # powers of two so float equality is genuine
    logp = {"x": math.log(0.25), "y": math.log(0.25),
            "xy": math.log(0.0625)}
    # xy as one piece scores ln(1/16) == ln(1/4)+ln(1/4): prefer FEWER
    assert _viterbi("xy", logp, 8) == ["xy"]
    # equal score AND equal length: lexicographically smallest sequence
    logp2 = {"aa": math.log(0.25), "a": math.log(0.5)}
    # 'aaaa' as aa+aa vs a+a+aa etc: aa+aa = ln(1/16), a+a+a+a = ln(1/16)
    # fewer pieces wins -> ['aa','aa']
    assert _viterbi("aaaa", logp2, 8) == ["aa", "aa"]


def test_distributed_equals_sequential_reference(spark, distributed):
    docs = load_table(spark, "documents", SF)
    dist = unigram_train(docs, vocab_size=VOCAB, n_seed=SEED)
    wf = {r["word"]: int(r["freq"])
          for r in word_frequencies(docs).collect()}
    seq = unigram_train_sequential(wf, vocab_size=VOCAB, n_seed=SEED)
    assert dist == seq  # pieces AND log-probs, bit-for-bit


def test_partition_invariance(spark, distributed):
    docs = load_table(spark, "documents", SF)
    a = unigram_train(docs, vocab_size=VOCAB, n_seed=SEED)
    b = unigram_train(docs.repartition(7), vocab_size=VOCAB, n_seed=SEED)
    assert a == b


def test_estep_inplan_reduce_equals_driver_merge(spark, monkeypatch):
    """r15 (VERDICT item 2): when n_tasks x |inventory| exceeds the
    driver-merge bound, the E-step reduces partials in-plan
    (groupBy) before collecting — at a forced high partition count
    both venues must produce the identical integer counts."""
    from etl_online_retail_spark.operators import unigram_lm as ul

    docs = load_table(spark, "documents", SF)
    words = word_frequencies(docs).repartition(16).cache()
    try:
        seed_counts, chars = ul.seed_candidates(words, n_seed=SEED)
        logp = ul._mstep(seed_counts, chars)
        driver_merged = ul._estep_distributed(
            words, logp, ul.UNIGRAM_MAX_PIECE_LEN)
        monkeypatch.setattr(ul, "UNIGRAM_DRIVER_MERGE_MAX_ROWS", 1)
        in_plan = ul._estep_distributed(
            words, logp, ul.UNIGRAM_MAX_PIECE_LEN)
    finally:
        words.unpersist()
    assert driver_merged == in_plan
    assert sum(driver_merged.values()) > 0


def test_small_vocabulary_trains_in_memory(spark, monkeypatch):
    """At sf0.001 the word table is far under the bound: a default call
    never runs the distributed E-step, and it returns what the forced
    distributed EM returns, pieces and log-probs bit for bit."""
    docs = load_table(spark, "documents", SF)
    distributed = []
    real_estep = unigram_lm._estep_distributed

    def spy(*args, **kwargs):
        distributed.append(1)
        return real_estep(*args, **kwargs)

    monkeypatch.setattr(unigram_lm, "_estep_distributed", spy)
    in_memory = unigram_train(docs, vocab_size=VOCAB, n_seed=SEED)
    assert distributed == []
    monkeypatch.setattr(unigram_lm, "UNIGRAM_DRIVER_VOCAB_THRESHOLD", 0)
    forced = unigram_train(docs, vocab_size=VOCAB, n_seed=SEED)
    assert distributed, "the forced call did not run the distributed EM"
    assert in_memory == forced


def test_vocab_shape_and_coverage(spark):
    docs = load_table(spark, "documents", SF)
    vocab = unigram_train(docs, vocab_size=VOCAB, n_seed=SEED)
    pieces = [p for p, _ in vocab]
    chars = {p for p in pieces if len(p) == 1}
    multi = [p for p in pieces if len(p) > 1]
    assert 0 < len(multi) <= VOCAB
    # every corpus character is in the inventory (coverage floor)
    corpus_chars = {c for r in word_frequencies(docs).collect()
                    for c in r["word"]}
    assert corpus_chars <= chars
    # probabilities normalize (hard-EM counts over one corpus sweep)
    total_p = sum(math.exp(lp) for _, lp in vocab)
    assert abs(total_p - 1.0) < 1e-9

    toked = unigram_tokenize(docs, vocab)
    row = toked.agg(F.sum("n_pieces").alias("np"),
                    F.sum("n_ws_tokens").alias("nw")).collect()[0]
    # learned pieces compress: fewer pieces than characters, and at
    # least one piece per whitespace token
    n_chars = sum(len(w) * f for w, f in
                  ((r["word"], int(r["freq"]))
                   for r in word_frequencies(docs).collect()))
    assert row["nw"] <= row["np"] < n_chars
    # tokenization is lossless: concatenated pieces rebuild each word
    sample = toked.select("pieces").limit(5).collect()
    assert all(isinstance(r["pieces"], list) for r in sample)


def test_tokenize_reconstructs_words(spark):
    docs = load_table(spark, "documents", SF).limit(50)
    vocab = unigram_train(load_table(spark, "documents", SF),
                          vocab_size=VOCAB, n_seed=SEED)
    from etl_online_retail_spark.functions.text import normalize, tokens
    joined = (unigram_tokenize(docs, vocab)
              .join(docs.select("doc_id",
                                tokens(normalize("text")).alias("_t")),
                    "doc_id")
              .select("doc_id", "pieces", "_t").collect())
    for r in joined:
        words = [w for w in r["_t"] if w]
        assert "".join(r["pieces"]) == "".join(words)

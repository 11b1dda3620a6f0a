"""Deduplication operators: SCD1 keep-last + the large-scale dedup family.

The reference's only dedup is pandas drop_duplicates(keep='last') where
"last" means later file position (etl.py:100-118) - positional order does
not exist in Spark, so keep_last() demands an explicit order (SURVEY.md §7).

The rest is the training-data dedup family the reference lacks: exact
(hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash - all as pure
DataFrame plans over portable hashes (functions/hashing.py) so a DuckDB
oracle can verify them value-for-value. Embedding-cosine near-dup lives in
operators/similarity.py next to its LSH machinery.

Scale shapes (the part that matters at 100 TB):
  * exact dedup: one hash-aggregate, map-side partial combine, no skew.
  * Jaccard: explode shingles -> self-join on shingle. The shingle join is
    the classic skew trap - a stop-shingle appearing in every document
    creates a quadratic bucket. max_shingle_df caps document frequency
    (standard practice; off by default to keep oracle parity at test SF).
  * MinHash+LSH: signature is per-row (no shuffle); the only shuffle is the
    band-bucket self-join, whose buckets are capped by band width, then a
    cheap verify join on the candidate pairs only. This is the 100 TB path.
  * SimHash: per-row 64->32-bit signature, candidates via 8-bit block
    banding (hamming<=k pairs share >=1 of 4 blocks when k<=3).
"""

from __future__ import annotations

import warnings
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_online_retail_spark.operators.joins import size_guarded_broadcast
from etl_online_retail_spark.session import cut_lineage, cut_observed

from etl_online_retail_spark.functions.hashing import bit, minhash_signature
from etl_online_retail_spark.functions.text import (
    fingerprint,
    normalize,
    shingle_hashes,
    tokens,
    word_shingle_hashes_of_tokens,
)

SIMHASH_BITS = 32


def keep_last(df: DataFrame, keys: Sequence[str], order: Sequence[Column]) -> DataFrame:
    """A6: drop_duplicates(subset=keys, keep='last') with EXPLICIT order.

    order must be the descending "recency" order (e.g. event time DESC then
    a unique id DESC as tiebreaker); row 1 per key wins. Reproduces
    etl.py:104,114 without depending on file row order.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1)
              .drop("_rn"))


def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     norm_col: str | None = None) -> DataFrame:
    """Exact dedup groups via content fingerprint: one row per distinct
    normalized text with the canonical (min) id and the copy count.

    Single hash aggregation; at 100 TB this is a shuffle on a uniform
    64-bit-ish key - no skew, map-side combine shrinks it to ~unique texts.

    norm_col: name of an already-normalized text column (e.g. the curation
    pipeline's cached base relation) - skips re-running the regex passes.
    """
    if norm_col is None:
        # project the normalization once; fingerprint AND md5 read it
        docs = docs.select(F.col(id_col),
                           normalize(text_col).alias("_norm"))
        norm_col = "_norm"
    fp = fingerprint(norm_col, normalized=True)
    md5 = F.md5(F.col(norm_col))
    return (docs
            .select(F.col(id_col), fp.alias("fp"), md5.alias("content_md5"))
            .groupBy("fp", "content_md5")
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count(F.lit(1)).alias("n_copies")))


def _shingled(docs: DataFrame, text_col: str, id_col: str, n: int,
              mode: str = "word", norm_col: str | None = None) -> DataFrame:
    """(id, [shingle hashes]) per doc, plus shingle counts.

    mode='word' (default): word n-grams - discriminative on short texts.
    mode='char': character n-grams - the classic choice for long prose.
    norm_col: reuse an already-normalized text column instead of
    re-normalizing text_col.

    The token array / normalized string is projected into its OWN column
    before the n-gram expression so the regex pipeline runs once per row
    (see word_ngrams_of_tokens).
    """
    if mode == "word":
        src = (F.col(norm_col) if norm_col is not None
               else normalize(text_col))
        toked = docs.select(F.col(id_col).alias("_id"),
                            tokens(src).alias("_toks"))
        return (toked
                .select("_id",
                        word_shingle_hashes_of_tokens(F.col("_toks"), n)
                        .alias("_sh"))
                .withColumn("_size", F.size("_sh")))
    src = F.col(norm_col) if norm_col is not None else normalize(text_col)
    normed = docs.select(F.col(id_col).alias("_id"), src.alias("_norm"))
    sh = F.array_distinct(shingle_hashes(F.col("_norm"), n))
    return (normed
            .select("_id", sh.alias("_sh"))
            .withColumn("_size", F.size("_sh")))


# Above this many documents, jaccard_pairs auto-enables the shingle
# document-frequency cap: a stop-shingle appearing in d documents creates a
# d^2 join bucket, so the uncapped exact join is only safe at oracle-test
# scale. The cap value scales with corpus size (1% of docs, floor 500).
JACCARD_AUTO_CAP_DOCS = 20_000


def auto_shingle_cap(n_docs: int,
                     auto_cap_docs: int = JACCARD_AUTO_CAP_DOCS) -> int | None:
    """The auto skew-cap decision: None (off) at oracle scale, else a cap
    that scales with the corpus (1% of documents, floor 500)."""
    return None if n_docs <= auto_cap_docs else max(500, n_docs // 100)


def jaccard_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 2, threshold: float = 0.5, mode: str = "word",
                  max_shingle_df: int | None | str = "auto",
                  auto_cap_docs: int = JACCARD_AUTO_CAP_DOCS) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= threshold).

    explode -> self-join on shingle -> count intersections -> jaccard =
    inter / (|A| + |B| - inter). Output doubles are exact integer ratios,
    so they compare bit-for-bit against any oracle.

    max_shingle_df governs the skew cap on the shingle self-join:
      * "auto" (default): OFF below auto_cap_docs documents (bit-exact
        oracle parity at test scale), ON above it with
        cap = max(500, n_docs // 100) - one count() of the input decides.
        At 100 TB the cap is what keeps the join sub-quadratic; dropping
        shingles shared by >1% of the corpus only UNDER-counts
        intersections of pairs that share ubiquitous shingles, which are
        exactly the pairs exact Jaccard scores lowest anyway.
      * int: explicit cap.  * None: force-uncapped (oracle/debug only).
    """
    if max_shingle_df == "auto":
        max_shingle_df = auto_shingle_cap(docs.count(), auto_cap_docs)
    # cache: the exploded relation feeds BOTH sides of the self-join; without
    # it Spark recomputes the whole shingle pipeline per side.
    sh = _shingled(docs, text_col, id_col, n, mode)
    pairs = sh.select("_id", F.explode("_sh").alias("_h"), "_size").cache()
    if max_shingle_df is not None:
        df_counts = pairs.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
        pairs = (pairs.join(F.broadcast(df_counts.filter(F.col("_df") <= max_shingle_df)),
                            "_h", "left_semi"))
    a = pairs.select(F.col("_id").alias("id_a"), F.col("_h"), F.col("_size").alias("size_a"))
    b = pairs.select(F.col("_id").alias("id_b"), F.col("_h"), F.col("_size").alias("size_b"))
    inter = (a.join(b, "_h")
              .filter(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b", "size_a", "size_b")
              .agg(F.count(F.lit(1)).alias("n_common")))
    jac = (F.col("n_common").cast("double")
           / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"))
    return (inter.select("id_a", "id_b", jac.alias("jaccard"))
                 .filter(F.col("jaccard") >= threshold))


def _band_signature(sh: DataFrame, k: int, bands: int, seed: int,
                    keep_shingles: bool = True) -> DataFrame:
    """THE band-signature construction every LSH entry point shares:
    (_id[, _sh, _size], _band0.._band{bands-1}) from a non-empty
    shingled relation. Each band value is the concat of its k/bands
    signature slots — two docs collide on band i iff those slots all
    agree. keep_shingles=False drops (_sh, _size) for candidate-only
    consumers, halving what the bucket join shuffles."""
    assert k % bands == 0, "k must divide into equal bands"
    rows = k // bands
    sig = sh.withColumn("_sig", minhash_signature(F.col("_sh"), k, seed))
    band_cols = [
        F.concat_ws("_", *[F.col("_sig")[i * rows + j].cast("string")
                           for j in range(rows)]).alias(f"_band{i}")
        for i in range(bands)
    ]
    keep = ["_id", "_sh", "_size"] if keep_shingles else ["_id"]
    return sig.select(*keep, *band_cols)


def _band_candidates(left: DataFrame, right: DataFrame, bands: int,
                     left_id: str, right_id: str,
                     ordered_pairs: bool) -> DataFrame:
    """Distinct candidate pairs sharing >= 1 band bucket: per-band
    equi-joins on the band value (the ONLY shuffle proportional to
    candidate count), unioned. ordered_pairs=True keeps id_a < id_b
    (self-join halving); False keeps every (probe, index) hit."""
    cands = None
    for i in range(bands):
        a = left.select(F.col("_id").alias(left_id),
                        F.col(f"_band{i}").alias("_bv"))
        b = right.select(F.col("_id").alias(right_id),
                         F.col(f"_band{i}").alias("_bv"))
        c = a.join(b, "_bv")
        if ordered_pairs:
            c = c.filter(F.col(left_id) < F.col(right_id))
        c = c.select(left_id, right_id)
        cands = c if cands is None else cands.unionByName(c)
    return cands.distinct()


def _verify_jaccard(cands: DataFrame, left: DataFrame, right: DataFrame,
                    left_id: str, right_id: str,
                    threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the stored
    shingle sets: join both sides' (_id, _sh, _size) back onto the
    bounded candidate relation, score inter/union, keep >= threshold.
    Output doubles are exact integer ratios (oracle-hash-exact)."""
    a = left.select(F.col("_id").alias(left_id), F.col("_sh").alias("_sh_a"),
                    F.col("_size").alias("size_a"))
    b = right.select(F.col("_id").alias(right_id),
                     F.col("_sh").alias("_sh_b"),
                     F.col("_size").alias("size_b"))
    return (cands.join(a, left_id).join(b, right_id)
            .withColumn("n_common",
                        F.size(F.array_intersect("_sh_a", "_sh_b")))
            .withColumn("jaccard",
                        F.col("n_common").cast("double")
                        / (F.col("size_a") + F.col("size_b")
                           - F.col("n_common")).cast("double"))
            .filter(F.col("jaccard") >= threshold)
            .select(left_id, right_id, "jaccard"))


def minhash_near_duplicates(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 2, k: int = 16,
                            bands: int = 4, threshold: float = 0.5,
                            mode: str = "word", seed: int = 42,
                            shingled: DataFrame | None = None) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, verified with exact Jaccard.

    shingle->minhash (per-row, k affine mins) -> band signatures
    (_band_signature) -> bucket self-join (_band_candidates, the ONLY
    shuffle proportional to candidate count) -> exact Jaccard verify on
    candidates only (_verify_jaccard). Columns: id_a, id_b, jaccard.

    shingled: a precomputed (_id, _sh, _size) relation (operators sharing
    the shingle pipeline, e.g. curation, pass their cached copy here so the
    regex+hash work runs once per corpus instead of once per stage).
    """
    sh = (shingled if shingled is not None
          else _shingled(docs, text_col, id_col, n, mode))
    sh = sh.filter(F.col("_size") > 0)
    # cache: banded feeds 2 sides x bands candidate joins + 2 verify joins;
    # uncached, every consumer would recompute shingling + k minhash folds.
    # (At 100 TB this becomes persist(DISK) or a staged Parquet write.)
    banded = _band_signature(sh, k, bands, seed).cache()
    cands = _band_candidates(banded, banded, bands, "id_a", "id_b",
                             ordered_pairs=True)
    return _verify_jaccard(cands, banded, banded, "id_a", "id_b", threshold)


def duplicate_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id) where
    cluster_id = min doc id reachable through pair edges.

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbours; converges in
    O(component diameter) rounds (near-dup components are shallow - a dup
    cluster's diameter is rarely more than a few hops). Iterative plans are
    where lazy lineage bites: round N's plan would otherwise contain rounds
    1..N-1 AND the pair-generation lineage (an LSH pipeline), so every
    frontier is cut with an EAGER localCheckpoint - each round then
    optimizes a two-join plan over materialized inputs, and the convergence
    test carries the old label along (one `limit 1` action, no extra join).
    At much larger graphs this becomes the standard large-star/small-star
    formulation - same join shape, fewer rounds.
    """
    edges = (pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
             .unionByName(pairs.select(F.col("id_b").alias("src"),
                                       F.col("id_a").alias("dst"))))
    # one materialization of the (expensive) pair lineage, reused every round
    edges = edges.transform(cut_lineage)
    labels, m = cut_observed(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        F.count(F.lit(1)).alias("n"))
    # every round's labels and neighbour minima hold at most one row per
    # node: broadcast both by that count, not by the cuts' compounding
    # size estimates (which planned each round as SortMergeJoins)
    n_nodes = m["n"]
    for _ in range(max_iterations):
        lab = size_guarded_broadcast(labels, rows=n_nodes)
        neighbour_min = (edges.join(lab, edges.dst == lab.node)
                         .groupBy("src")
                         .agg(F.min("label").alias("nmin")))
        neighbour_min = size_guarded_broadcast(neighbour_min, rows=n_nodes)
        # "did any label move?" is observed on the round's cut: no
        # second job per round
        updated, m = cut_observed(
            labels.join(neighbour_min, labels.node == neighbour_min.src,
                        "left")
            .select(F.col("node"),
                    F.least(F.col("label"),
                            F.coalesce(F.col("nmin"), F.col("label")))
                     .alias("label"),
                    F.col("label").alias("_old")),
            F.sum(F.when(F.col("label") != F.col("_old"), 1)
                  .otherwise(0)).alias("changed"))
        changed = m["changed"] or 0
        labels = updated.drop("_old")
        if changed == 0:
            break
    else:
        # Unconverged labels are NOT component minima — surface it loudly
        # rather than returning silently-wrong clusters on deep graphs.
        warnings.warn(
            f"duplicate_clusters: min-label propagation did not converge in "
            f"{max_iterations} rounds; labels may not be component minima. "
            f"Raise max_iterations or use duplicate_clusters_star.",
            RuntimeWarning, stacklevel=2)
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def duplicate_clusters_star(pairs: DataFrame,
                            max_iterations: int = 12) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds.

    Same contract as duplicate_clusters — (doc_id, cluster_id = component
    min) — but O(log^2 n) rounds instead of O(diameter): the scale path for
    adversarial graphs (long chains) where min-label propagation needs a
    round per hop. Near-dup graphs are shallow, so propagation stays the
    default; this variant exists for the pathological shapes.

    large-star: every node's strictly-larger neighbours re-attach to the
    minimum of its closed neighbourhood. small-star: smaller-or-equal
    neighbours (on edges oriented big->small) do the same. Both are one
    groupBy + one join per round over the current edge set; each round's
    frontier is cut with an eager localCheckpoint exactly like the
    propagation loop (lazy lineage would otherwise stack all rounds).
    Rounds are driver-coordinated but the per-round work is fully
    distributed (the same trade Spark ML's KMeans makes).
    """
    nodes, m = cut_observed(
        pairs.select(F.col("id_a").alias("node"))
        .unionByName(pairs.select(F.col("id_b").alias("node")))
        .distinct(),
        F.count(F.lit(1)).alias("n"))
    # every per-node relation a round joins (each star's minima, the
    # final roots) has at most one row per node: broadcast it by that
    # count, not by the cuts' compounding size estimates
    n_nodes = m["n"]
    edges = (pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
             .filter(F.col("src") != F.col("dst"))
             .distinct()
             .transform(cut_lineage))

    def per_node(df: DataFrame) -> DataFrame:
        return size_guarded_broadcast(df, rows=n_nodes)

    prev = None
    for _ in range(max_iterations):
        # large-star over the bidirected edge set
        bi = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = (bi.groupBy("src")
                .agg(F.least(F.min("dst"), F.first("src")).alias("m")))
        edges = (bi.join(per_node(mins), "src")
                 .filter(F.col("dst") > F.col("src"))
                 .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                 .filter(F.col("src") != F.col("dst"))
                 .distinct())
        # small-star over big->small oriented edges
        oriented = edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"))
        mins = (oriented.groupBy("src")
                .agg(F.least(F.min("dst"), F.first("src")).alias("m")))
        joined = oriented.join(per_node(mins), "src")
        # the edge-set checksum is observed on the round's cut. bit_xor
        # never overflows (ANSI-safe), and is multiset-insensitive only
        # to duplicate rows — which distinct() already removed.
        edges, m = cut_observed(
            joined.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(joined.select("src", F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct(),
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"))
        cur = (m["n"], m["h"])
        if cur == prev:
            break
        prev = cur
    else:
        # An unconverged edge set is not a star forest, so min(dst) per src
        # could emit non-minimal cluster ids — never let that pass silently.
        warnings.warn(
            f"duplicate_clusters_star: edge-set checksum did not stabilize "
            f"in {max_iterations} rounds; cluster ids may be non-minimal. "
            f"Raise max_iterations.",
            RuntimeWarning, stacklevel=2)

    # converged edge set is a star forest: node -> component min; roots
    # (and isolated nodes) label themselves
    labels = per_node(edges.groupBy("src").agg(F.min("dst").alias("_root")))
    return (nodes.join(labels, nodes.node == labels.src, "left")
            .select(F.col("node").alias("doc_id"),
                    F.coalesce(F.col("_root"), F.col("node"))
                     .alias("cluster_id")))


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            n: int = 2, mode: str = "word") -> DataFrame:
    """Per-document SimHash signature (SIMHASH_BITS bits) over shingle hashes.

    bit_b(doc) = sign of sum over shingles of (2*bit_b(h) - 1); the signature
    packs the sign bits. Pure array expressions per row - no shuffle at all.
    """
    sh = _shingled(docs, text_col, id_col, n, mode)
    # Explode + hash-aggregate instead of 32 per-row array folds: the bit
    # votes become codegen'd conditional SUMs with map-side partial
    # aggregation (interpreted HOF folds cost ~3x more here). Docs whose
    # shingle set is empty vanish under explode, so join them back with
    # all-zero votes (sign(0) bit = 0 -> simhash 0, matching the fold
    # semantics and the oracle's coalesce(list_sum([]), 0)).
    votes = [F.sum(bit(F.col("_h"), b) * 2 - 1).alias(f"_v{b}")
             for b in range(SIMHASH_BITS)]
    per_doc = (sh.select("_id", F.explode("_sh").alias("_h"))
                 .groupBy("_id").agg(*votes))
    acc = F.lit(0).cast("bigint")
    for b in range(SIMHASH_BITS):
        acc = acc + F.when(F.coalesce(F.col(f"_v{b}"), F.lit(0)) > 0,
                           F.lit(2 ** b).cast("bigint")).otherwise(F.lit(0))
    return (sh.select("_id")
              .join(per_doc, "_id", "left")
              .select(F.col("_id").alias(id_col), acc.alias("simhash")))


def simhash_near_duplicates(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 2,
                            mode: str = "word", max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= max_hamming.

    Candidates via 4x8-bit block banding (pigeonhole: distance <= 3 implies
    an identical block), verified with exact popcount. Output: id_a, id_b,
    hamming (all integers - oracle-exact).
    """
    # cache: sigs feeds 2 sides x 4 block joins; the 32-bit vote expression
    # is expensive enough that recomputation dominates without it.
    sigs = simhash(docs, text_col, id_col, n, mode).cache()
    blocks = SIMHASH_BITS // 8
    cands = None
    for i in range(blocks):
        blk = F.shiftright(F.col("simhash"), i * 8).bitwiseAND(F.lit(255))
        a = sigs.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"),
                        blk.alias("_blk"))
        b = sigs.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"),
                        blk.alias("_blk"))
        c = (a.join(b, "_blk").filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "sim_a", "sim_b"))
        cands = c if cands is None else cands.unionByName(c)
    cands = cands.distinct()
    xor = F.col("sim_a").bitwiseXOR(F.col("sim_b"))
    hamming = sum(F.shiftright(xor, b).bitwiseAND(F.lit(1))
                  for b in range(SIMHASH_BITS)).alias("hamming")
    return (cands.select("id_a", "id_b", hamming)
                 .filter(F.col("hamming") <= max_hamming))


def repeated_passage_stats(docs: DataFrame, n: int = 3, min_df: int = 3,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Cross-document repeated-passage profile: per doc, how much of it is
    made of word n-gram passages that occur in >= min_df DISTINCT docs.

    The passage-level lens of "deduplicate training data" (boilerplate
    headers, license blocks, templated spam recur across documents while
    each host document stays globally unique — document-level dedup
    cannot see them). Output: (id, n_shingles, n_repeated, dup_fraction);
    docs with no shingles are absent.

    Scale shape: explode the multiset shingles, ONE hash agg for the
    df relation (map-side combinable), one shuffle join back on the
    shingle hash, one final per-doc agg. The df relation is
    vocabulary-sized; a df >= min_df pre-filter before the join-back
    (semi-join) bounds the carried relation to the repeated tail at
    100 TB.
    """
    from etl_online_retail_spark.functions.text import (
        word_shingle_hashes_all_of_tokens,
    )

    # COALESCE before tokenize (r7 review): NULL text made the token
    # array NULL, the size guard never fired, and posexplode dropped the
    # doc from the output — violating the one-row-per-input-doc
    # contract. tokens('') is [''] so a NULL doc yields the documented
    # single ''-segment row.
    toked = docs.select(
        F.col(id_col),
        tokens(normalize(F.coalesce(F.col(text_col), F.lit("")))).alias("_t"))
    # cache: the exploded shingle relation feeds BOTH the df aggregation
    # and the join-back side; uncached, the tokenize+ngram+hash pipeline
    # runs twice (PERFORMANCE.md rule 7 — measured 2.1 s -> ~1 s at sf0.1)
    e = (toked.select(
            F.col(id_col),
            F.explode(word_shingle_hashes_all_of_tokens(F.col("_t"), n))
             .alias("_h"))
         .cache())
    # join back only the df >= min_df TAIL, as the scale note above
    # prescribes (r7 review: the unfiltered form carried the whole
    # vocabulary-sized df relation through the shuffle); the left join +
    # flag is result-identical — occurrences outside the tail simply
    # count 0 repeated
    frequent = (e.groupBy("_h")
                .agg(F.count_distinct(id_col).alias("_df"))
                .filter(F.col("_df") >= min_df)
                .select("_h", F.lit(True).alias("_rep")))
    joined = e.join(F.broadcast(frequent), "_h", "left")
    return (joined.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum(F.when(F.col("_rep"), 1).otherwise(0))
                  .alias("n_repeated"))
            .withColumn("dup_fraction",
                        F.round(F.col("n_repeated").cast("double")
                                / F.col("n_shingles").cast("double"), 6)))


def remove_repeated_segments(docs: DataFrame, width: int = 10,
                             min_df: int = 3, text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """C4-style boilerplate REMOVAL: cut the repeated spans, keep the rest.

    repeated_passage_stats measures cross-document repetition; this
    operator acts on it — the cleaning step the C4/RefinedWeb pipelines
    run ("discard any line that appears in >= N documents", C4 uses
    line-level spans, N=3). The corpus here has no newlines, so the span
    unit is a fixed window of `width` consecutive tokens (non-overlapping
    segments of the normalized token stream); a segment is boilerplate iff
    it occurs verbatim in >= min_df DISTINCT documents, and the cleaned
    text is the surviving segments re-joined in their original order.

    Output: (id, n_segments, n_dropped, cleaned) — cleaned is '' when
    everything was boilerplate. A doc whose text normalizes to '' still
    yields ONE empty-string segment (whitespace split returns [''], not
    [] — identical on both engines), so every input doc has a row.

    Scale shape: segmentation is a pure array expression (no shuffle);
    the segment-frequency relation is one map-side-combinable hash agg;
    the df >= min_df survivors are a SMALL relation (the repeated tail of
    the segment distribution) joined back BROADCAST-left, so the corpus
    shuffles once — on doc_id for reassembly — and never on segment text.
    """
    # COALESCE before tokenize (r7 review): NULL text made the token
    # array NULL, the size guard never fired, and posexplode dropped the
    # doc from the output — violating the one-row-per-input-doc
    # contract. tokens('') is [''] so a NULL doc yields the documented
    # single ''-segment row.
    toked = docs.select(
        F.col(id_col),
        tokens(normalize(F.coalesce(F.col(text_col), F.lit("")))).alias("_t"))
    n_seg = F.ceil(F.size("_t") / F.lit(width)).cast("int")
    # defensive guard BEFORE sequence(): sequence(0, -1) steps DOWN
    # (returns [0, -1]). tokens() never actually returns an empty array
    # (split of '' is ['']), so this only fires if the tokenizer changes.
    segs = F.when(F.size("_t") == 0, F.array().cast("array<string>")) \
            .otherwise(F.transform(
                F.sequence(F.lit(0), n_seg - 1),
                lambda i: F.array_join(
                    F.slice(F.col("_t"), i * width + 1, width), " ")))
    # cache: the exploded segment relation feeds BOTH the frequency agg
    # and the probe side of the broadcast join-back; uncached, the
    # normalize+segment pipeline runs twice (rule 7, same shape as
    # repeated_passage_stats above)
    e = toked.select(F.col(id_col),
                     F.posexplode(segs).alias("pos", "_seg")).cache()
    frequent = (e.groupBy("_seg")
                .agg(F.count_distinct(id_col).alias("_df"))
                .filter(F.col("_df") >= min_df)
                .select("_seg"))
    marked = (e.join(F.broadcast(frequent.withColumn("_drop", F.lit(True))),
                     "_seg", "left")
              .withColumn("_drop", F.coalesce(F.col("_drop"), F.lit(False))))
    kept_in_order = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.when(~F.col("_drop"),
                       F.struct(F.col("pos"), F.col("_seg"))))),
            lambda s: s["_seg"]),
        " ")
    return (marked.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_segments"),
                 F.sum(F.when(F.col("_drop"), 1).otherwise(0))
                  .cast("bigint").alias("n_dropped"),
                 kept_in_order.alias("cleaned")))


def dedup_within_doc(docs: DataFrame, width: int = 10,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """INTRA-document dedup: drop repeated segments WITHIN each doc,
    keeping the first occurrence in order (the RefinedWeb/MassiveText
    intra-doc repetition cut — a looping scraper or boilerplate template
    repeats spans inside one page; cross-doc dedup never sees it).

    Segmentation matches remove_repeated_segments (non-overlapping
    `width`-token windows of the normalized stream; empty-normalizing
    docs yield one '' segment, same note as there). Output:
    (id, n_segments, n_dropped, cleaned).

    Scale shape: segment -> ONE window pass partitioned by (doc, segment)
    to rank occurrences, then the per-doc reassembly agg — both shuffles
    are on the doc key family, nothing is corpus-global (no frequency
    relation at all, unlike the cross-doc operator).
    """
    from pyspark.sql import Window

    # COALESCE before tokenize (r7 review): NULL text made the token
    # array NULL, the size guard never fired, and posexplode dropped the
    # doc from the output — violating the one-row-per-input-doc
    # contract. tokens('') is [''] so a NULL doc yields the documented
    # single ''-segment row.
    toked = docs.select(
        F.col(id_col),
        tokens(normalize(F.coalesce(F.col(text_col), F.lit("")))).alias("_t"))
    n_seg = F.ceil(F.size("_t") / F.lit(width)).cast("int")
    segs = F.when(F.size("_t") == 0, F.array().cast("array<string>")) \
            .otherwise(F.transform(
                F.sequence(F.lit(0), n_seg - 1),
                lambda i: F.array_join(
                    F.slice(F.col("_t"), i * width + 1, width), " ")))
    e = toked.select(F.col(id_col), F.posexplode(segs).alias("pos", "_seg"))
    w = Window.partitionBy(id_col, "_seg").orderBy("pos")
    marked = e.withColumn("_occ", F.row_number().over(w))
    kept_in_order = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.when(F.col("_occ") == 1,
                       F.struct(F.col("pos"), F.col("_seg"))))),
            lambda s: s["_seg"]),
        " ")
    return (marked.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_segments"),
                 F.sum(F.when(F.col("_occ") > 1, 1).otherwise(0))
                  .cast("bigint").alias("n_dropped"),
                 kept_in_order.alias("cleaned")))


def banded_signatures(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 2, k: int = 16,
                      bands: int = 4, mode: str = "word",
                      seed: int = 42) -> DataFrame:
    """The persistable minhash band INDEX relation for a document set:
    (_id, _sh, _size, _band0.._band{bands-1}). Exactly what an
    incremental dedup deployment stages to parquet per load — the bands
    drive candidate joins, the shingles the exact verify."""
    sh = _shingled(docs, text_col, id_col, n, mode)
    return _band_signature(sh.filter(F.col("_size") > 0), k, bands, seed)


def near_dups_between(probe: DataFrame, index: DataFrame, bands: int = 4,
                      threshold: float = 0.5,
                      cache: bool = True) -> DataFrame:
    """Verified near-dup pairs BETWEEN two banded_signatures relations:
    candidates from per-band bucket joins, exact-Jaccard verify on the
    stored shingles. Returns (new_id, corpus_id, jaccard).

    cache=True pins both inputs for the bands+1 joins each side feeds
    (rule 7) — right for one-shot batch calls, but the caller owns no
    handle to unpersist, so a LOOP caller (the streaming dedup path
    reads a fresh, ever-growing index every micro-batch) must pass
    cache=False and manage its own persistence, or executor storage
    accumulates one dead cached relation per batch."""
    # both sides feed `bands` candidate joins + one verify join each
    if cache:
        probe = probe.cache()
        index = index.cache()
    cands = _band_candidates(probe, index, bands, "new_id", "corpus_id",
                             ordered_pairs=False)
    return _verify_jaccard(cands, probe, index, "new_id", "corpus_id",
                           threshold)


def incremental_near_duplicates(corpus: DataFrame, new_docs: DataFrame,
                                text_col: str = "text",
                                id_col: str = "doc_id", n: int = 2,
                                k: int = 16, bands: int = 4,
                                threshold: float = 0.5, mode: str = "word",
                                seed: int = 42) -> DataFrame:
    """Near-dup hits of a NEW batch probed against an EXISTING corpus —
    the production dedup shape (reference has no analogue; this extends
    minhash_near_duplicates, etl.py's pandas drop_duplicates being the
    closest reference op).

    When a new crawl slice lands you do not re-pair the whole corpus: you
    keep a band INDEX over everything already retained and probe it with
    only the new batch's band signatures. Work is proportional to
    |new| x bucket-collision count — never |corpus|^2 and never a corpus
    self-join. At 100 TB the index side is a staged parquet of
    (band value, id, shingles) appended by each load (exactly the
    banded_signatures relation; streaming/ingest.incremental_minhash_dedup
    runs that loop live); the probe is a broadcast-sized daily slice, so
    each band join is a broadcast probe into the bucketed index with no
    corpus shuffle at all.

    Returns (new_id, corpus_id, jaccard) for exact-verified pairs with
    jaccard >= threshold. Pairs WITHIN the new batch are the ordinary
    minhash_near_duplicates(new_docs) call and deliberately not repeated
    here.
    """
    index = banded_signatures(corpus, text_col, id_col, n, k, bands, mode,
                              seed)
    probe = banded_signatures(new_docs, text_col, id_col, n, k, bands, mode,
                              seed)
    return near_dups_between(probe, index, bands, threshold)


def minhash_candidates(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 2, k: int = 16,
                       bands: int = 4, mode: str = "word",
                       seed: int = 42) -> DataFrame:
    """The RAW banded candidate set (id_a, id_b), before exact-Jaccard
    verification — the quantity LSH actually controls. Exposed for
    calibration: recall against the exact pair set is the banding
    scheme's miss rate, precision its wasted-verification rate."""
    sh = _shingled(docs, text_col, id_col, n, mode).filter(F.col("_size") > 0)
    # keep_shingles=False: candidate-only consumer, no verify join here
    banded = _band_signature(sh, k, bands, seed,
                             keep_shingles=False).cache()  # 2 sides x bands
    return _band_candidates(banded, banded, bands, "id_a", "id_b",
                            ordered_pairs=True)


def minhash_calibration(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 2, k: int = 16,
                        bands: int = 4, threshold: float = 0.5,
                        seed: int = 42) -> DataFrame:
    """Calibration scorecard for the MinHash/LSH parameters against
    EXACT Jaccard ground truth — the evaluation every dedup deployment
    owes its (k, bands, threshold) choice:

        (n_exact, n_candidates, n_true, precision, recall)

    where n_true = |candidates ∩ exact pairs|, precision = n_true /
    n_candidates (how much verification work the banding wastes) and
    recall = n_true / n_exact (which true pairs the banding can reach
    AT ALL — verification can only shrink from here). NULL when the
    denominator is zero.

    The exact side is the UNCAPPED quadratic join — ground truth is
    affordable at calibration-sample scale only, which is how this is
    meant to be run at 100 TB: calibrate on a bounded sample (e.g.
    operators/sampling.uniform_sample_topk), apply the tuned parameters
    corpus-wide. All counts are exact integers; the two ratios are
    single IEEE divisions — oracle-hash-exact.
    """
    exact = (jaccard_pairs(docs, text_col=text_col, id_col=id_col, n=n,
                           threshold=threshold, max_shingle_df=None)
             .select("id_a", "id_b")
             .cache())   # feeds the count AND the intersection (rule 7)
    cands = minhash_candidates(docs, text_col, id_col, n, k, bands,
                               seed=seed).cache()
    tp = cands.join(exact, ["id_a", "id_b"], "left_semi")
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nc = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    nt = tp.agg(F.count(F.lit(1)).alias("n_true"))
    prec = (F.when(F.col("n_candidates") > 0,
                   F.col("n_true").cast("double")
                   / F.col("n_candidates").cast("double")))
    rec = (F.when(F.col("n_exact") > 0,
                  F.col("n_true").cast("double")
                  / F.col("n_exact").cast("double")))
    return (ne.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(nt))
            .select("n_exact", "n_candidates", "n_true",
                    prec.alias("precision"), rec.alias("recall")))

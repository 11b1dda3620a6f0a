"""Similarity search over embedding columns (array<float>).

Two paths, as a real training-data pipeline needs:

  * brute_force_topk: exact cosine top-k, the correctness baseline.
    Query set x corpus cross join -> per-query TakeOrderedAndProject.
    O(|Q| * N) - fine when |Q| is small or N fits a broadcast; the plan
    broadcasts the QUERY side so the corpus never shuffles.
  * lsh_topk / lsh_near_duplicates: random-hyperplane LSH. Each vector gets
    a bucket id from the sign pattern of dot products with n_planes
    deterministic +/-1 hyperplanes; only same-bucket pairs are compared.
    At 100 TB the bucket join is the only shuffle and each bucket is
    ~N / 2^n_planes rows. Recall is tunable via n_planes (fewer planes =
    bigger buckets = higher recall); multi-probe = union over plane seeds.

Hyperplane components are +/-1 derived from the portable affine hash of
(plane, dimension), so the identical bucketing is expressible in the DuckDB
oracle - determinism does double duty as testability.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_online_retail_spark.functions.hashing import PRIME, hash_family
from etl_online_retail_spark.functions.vectors import (
    as_double,
    cosine,
    dot,
    norm,
)
from etl_online_retail_spark.operators import joins


def _plane_sign(plane: int, dim: int, a: int, b: int) -> int:
    """Deterministic +/-1 hyperplane component from the affine hash family."""
    h = (a * (plane * 4096 + dim) + b) % PRIME
    return 1 if h % 2 == 1 else -1


def hyperplanes(n_planes: int, n_dims: int, seed: int = 42) -> list[list[int]]:
    """n_planes deterministic +/-1 vectors of length n_dims."""
    (a, b) = hash_family(1, seed)[0]
    return [[_plane_sign(p, d, a, b) for d in range(n_dims)]
            for p in range(n_planes)]


def bucket_expr(vec: Column, planes: list[list[int]]) -> Column:
    """LSH bucket id: bit p = 1 iff dot(vec, plane_p) > 0. Signed sums of
    +/-1-weighted components, evaluated as array folds per row."""
    acc = F.lit(0).cast("bigint")
    for p, plane in enumerate(planes):
        signed = F.zip_with(
            vec,
            F.array(*[F.lit(float(s)) for s in plane]),
            lambda x, s: x * s,
        )
        dot_p = F.aggregate(signed, F.lit(0.0), lambda acc2, x: acc2 + x)
        acc = acc + F.when(dot_p > 0, F.lit(2 ** p).cast("bigint")).otherwise(F.lit(0))
    return acc


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: (query_id, neighbour_id, cos_sim, rank).

    Ties break on neighbour id so results are total-ordered. The query side
    is broadcast; per-query top-k is a ranking window partitioned by
    query_id (high cardinality -> scales with |Q|).
    """
    from pyspark.sql import Window

    # Norms are evaluated once per row here, not inside the pairwise
    # expression: per pair only the dot product remains (1 array fold
    # instead of 3 - the folds are interpreted, so this is ~3x).
    q = queries.select(F.col(id_col).alias("query_id"),
                       as_double(vec_col).alias("_qv"))\
               .withColumn("_qn", norm(F.col("_qv")))
    c = corpus.select(F.col(id_col).alias("neighbour_id"),
                      as_double(vec_col).alias("_cv"))\
              .withColumn("_cn", norm(F.col("_cv")))
    denom = F.col("_qn") * F.col("_cn")
    scored = (c.join(F.broadcast(q), F.col("query_id") != F.col("neighbour_id"))
               .withColumn("cos_sim",
                           F.when(denom == 0.0, F.lit(0.0))
                            .otherwise(dot(F.col("_qv"), F.col("_cv")) / denom)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbour_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "neighbour_id",
                          F.round("cos_sim", 6).alias("cos_sim"), "rank"))


def brute_force_topk_vectorized(corpus: DataFrame, queries: DataFrame,
                                k: int = 5, id_col: str = "vec_id",
                                vec_col: str = "embedding") -> DataFrame:
    """Scale-path twin of brute_force_topk: numpy-batched scoring.

    The whole (small) query matrix ships to every executor; a mapInPandas
    over corpus Arrow batches computes a (batch x |Q|) similarity matrix
    with one BLAS call per batch - ~10-100x the per-pair throughput of the
    interpreted fold. Scores differ from the fold path only in float
    summation order (ulp-level), so this variant is tolerance-tested
    against the exact-fold baseline rather than oracle-hashed
    (ROADMAP.md item 3). Output schema matches brute_force_topk.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_unit = q_mat / np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True),
                                1e-30)

    out_schema = ("query_id bigint, neighbour_id bigint, cos_sim double")

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            unit = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                                    1e-30)
            sims = unit @ q_unit.T  # (batch, |Q|)
            n_b, n_q = sims.shape
            yield pd.DataFrame({
                "query_id": np.repeat(q_ids, n_b),
                "neighbour_id": np.tile(ids, n_q),
                "cos_sim": np.round(sims.T.ravel(), 6),
            })

    scored = (corpus.select(id_col, vec_col)
              .mapInPandas(score, out_schema)
              .filter(F.col("query_id") != F.col("neighbour_id")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                               F.asc("neighbour_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def with_lsh_bucket(vectors: DataFrame, n_planes: int = 8, n_dims: int = 64,
                    seed: int = 42, vec_col: str = "embedding",
                    alias: str = "bucket") -> DataFrame:
    return vectors.withColumn(alias, bucket_expr(as_double(vec_col),
                                                 hyperplanes(n_planes, n_dims, seed)))


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             n_clusters: int = 16, n_probe: int = 4, seed: int = 42,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans-partitioned search.

    Index: fit KMeans(n_clusters) on the corpus, assign every vector to its
    nearest centroid (the "inverted list"). Search: each query probes its
    n_probe nearest centroids and ranks only those lists - the searched
    fraction is ~n_probe/n_clusters of the corpus. At 100 TB the corpus
    would be written partitioned by centroid id so a probe is a partition-
    pruned scan; recall is tuned by n_probe.

    Iterative KMeans fit = Spark ML (driver-coordinated Lloyd's); search is
    pure DataFrame ops. No SQL oracle (iterative algorithm) - the driver
    records a rows-only check; tests assert recall against brute force.
    Output: query_id, neighbour_id, cos_sim (6dp), rank.

    r15 search shape (§2.4/§3.1; the fit is untouched — any fit change
    moves the centroids and with them the pinned rows-only outputs):
    the centroid table is BOUNDED (n_clusters rows, known on the
    driver), so probe selection rides as a LITERAL array expression —
    one array_sort over per-centroid struct(l2, id) per query row, the
    exact-mode twin's shape — replacing a nested-loop join + a window
    whose exchange shuffled the full query vectors. The scored join
    then hints the PROBE side for broadcast: the previous plan let
    size estimates pick the build side and broadcast the CORPUS (an
    OOM at warehouse scale); the corpus now never shuffles or
    broadcasts — only the per-query candidate rows move, into the
    final ranking exchange. The probe side is queries x n_probe rows,
    so the hint is size-guarded (joins.size_guarded_broadcast): past
    the bound the join is unhinted and AQE picks the strategy.
    Probe ranking arithmetic is the identical
    zip_with/aggregate fold over the identical centroid doubles, and
    the (distance, centroid-id) ordering matches the old window's, so
    the selected lists — and every output row — are unchanged.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window

    with_vec = corpus.withColumn("_mlv", array_to_vector(as_double(vec_col)))
    model = (KMeans(k=n_clusters, seed=seed, featuresCol="_mlv",
                    predictionCol="_centroid")
             .fit(with_vec))
    assigned = (model.transform(with_vec)
                .select(F.col(id_col).alias("neighbour_id"),
                        as_double(vec_col).alias("_cv"),
                        F.col("_centroid"))
                .withColumn("_cn", norm(F.col("_cv"))))

    # centroid table: tiny (n_clusters rows) -> a literal in the plan
    centers = [(i, [float(x) for x in c]) for i, c in
               enumerate(model.clusterCenters())]
    cent_lit = F.array(*[
        F.struct(
            F.aggregate(
                F.zip_with(F.col("_qv"),
                           F.array(*[F.lit(v) for v in cv]),
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, x: acc + x).alias("_dist"),
            F.lit(i).cast("int").alias("_centroid"))
        for i, cv in centers])

    q = (queries.select(F.col(id_col).alias("query_id"),
                        as_double(vec_col).alias("_qv"))
         .withColumn("_qn", norm(F.col("_qv"))))
    # probe selection: the n_probe nearest centroids per query, ties to
    # the lower centroid id (struct order = distance, then id — the same
    # total order the old row_number window used)
    probes = (q.withColumn(
                  "_p", F.explode(F.slice(F.array_sort(cent_lit),
                                          1, n_probe)))
              .select("query_id", "_qv", "_qn",
                      F.col("_p._centroid").alias("_centroid")))

    denom = F.col("_qn") * F.col("_cn")
    scored = (assigned.join(joins.size_guarded_broadcast(probes), "_centroid")
              .filter(F.col("query_id") != F.col("neighbour_id"))
              .withColumn("cos_sim",
                          F.when(denom == 0.0, F.lit(0.0))
                           .otherwise(dot(F.col("_qv"), F.col("_cv")) / denom)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                               F.asc("neighbour_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "neighbour_id",
                          F.round("cos_sim", 6).alias("cos_sim"), "rank"))


def write_ivf_index(corpus: DataFrame, path: str, n_clusters: int = 16,
                    seed: int = 42, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Materialize the IVF index as a partitioned table: the 100 TB layout.

    `ivf_topk` holds the centroid assignment in memory; at warehouse scale
    the inverted lists are written ONCE, partitioned by centroid id, so a
    probe becomes a partition-pruned scan — Spark reads only the n_probe
    directories a query set touches and never opens the rest of the corpus.
    Layout: {path}/vectors/_centroid=K/*.parquet + {path}/centroids/.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    with_vec = corpus.withColumn("_mlv", array_to_vector(as_double(vec_col)))
    model = (KMeans(k=n_clusters, seed=seed, featuresCol="_mlv",
                    predictionCol="_centroid")
             .fit(with_vec))
    (model.transform(with_vec)
     .select(id_col, vec_col, "_centroid")
     .write.mode("overwrite").partitionBy("_centroid")
     .parquet(f"{path}/vectors"))
    centers = [(i, [float(x) for x in c]) for i, c in
               enumerate(model.clusterCenters())]
    (corpus.sparkSession.createDataFrame(
        centers, "_centroid int, _center array<double>")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids"))


def ivf_topk_indexed(spark, path: str, queries: DataFrame, k: int = 5,
                     n_probe: int = 4, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Probe a written IVF index (see write_ivf_index) for cosine top-k.

    The query set is serving-sized (same assumption as the vectorized
    brute force): its probe centroids are chosen driver-side against the
    tiny centroid table, and the corpus scan carries a
    `_centroid IN (union of probes)` filter — partition pruning means only
    the probed inverted lists are read at all. Scoring joins each pruned
    list with ONLY the queries probing it (broadcast), so work is
    sum(|list| x |queries probing it|), never corpus-sized.
    """
    import numpy as np
    from pyspark.sql import Window

    centers = spark.read.parquet(f"{path}/centroids").collect()
    c_ids = np.array([r._centroid for r in centers])
    c_mat = np.array([r._center for r in centers], dtype=np.float64)

    q_rows = queries.select(id_col, vec_col).collect()
    probe_pairs = []
    for r in q_rows:
        qv = np.asarray(r[1], dtype=np.float64)
        d = ((c_mat - qv) ** 2).sum(axis=1)
        order = np.lexsort((c_ids, d))[:n_probe]  # distance, id tiebreak
        probe_pairs += [(int(r[0]), [float(x) for x in qv], int(c_ids[i]))
                        for i in order]
    probes = spark.createDataFrame(
        probe_pairs, f"query_id bigint, _qv array<double>, _centroid int")
    probed_parts = sorted({c for _, _, c in probe_pairs})

    lists = (spark.read.parquet(f"{path}/vectors")
             .filter(F.col("_centroid").isin(probed_parts))
             .select(F.col(id_col).alias("neighbour_id"),
                     as_double(vec_col).alias("_cv"), "_centroid")
             .withColumn("_cn", norm(F.col("_cv"))))
    q = probes.withColumn("_qn", norm(F.col("_qv")))
    denom = F.col("_qn") * F.col("_cn")
    scored = (lists.join(F.broadcast(q), "_centroid")
              .filter(F.col("query_id") != F.col("neighbour_id"))
              .withColumn("cos_sim",
                          F.when(denom == 0.0, F.lit(0.0))
                           .otherwise(dot(F.col("_qv"), F.col("_cv")) / denom)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                               F.asc("neighbour_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "neighbour_id",
                          F.round("cos_sim", 6).alias("cos_sim"), "rank"))


def semantic_dedup(vectors: DataFrame, n_clusters: int = 16,
                   threshold: float = 0.9, seed: int = 42,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Semantic (embedding-space) deduplication via cluster representatives.

    SemDeDup-style: KMeans-partition the corpus, elect one representative
    per cluster (nearest the centroid, id tiebreak), drop every other
    member whose cosine to the representative clears `threshold`. Compared
    to pairwise near-dup (lsh_near_duplicates) this is O(N·k) — no
    within-bucket quadratic term at all — at the cost of only comparing
    against one representative per cluster.

    Output (one row per vector): id_col, cluster_id, cos_to_rep (6dp, 1.0
    for the representative itself), is_kept. Deterministic under a fixed
    seed; iterative fit -> rows-only driver check + pytest invariants.

    r15 search shape (§2.3/§2.5; the fit is untouched — see ivf_topk):
    the representative is elected with ONE map-side-combinable
    min(struct(dist, id, vec)) aggregation instead of a row_number
    window. This does not shrink the shuffle: the window plan already
    ran a `WindowGroupLimit Partial` below its exchange, so each map
    task shipped at most one candidate row per cluster either way
    (plans/r15/semantic_dedup_before.txt). What it removes is the
    Window operator and its rank filter; both plans still sort on each
    side of the exchange (a min over a struct holding an array runs as
    a SortAggregate, plans/r15/semantic_dedup_after.txt). The struct
    order (dist, then id) is the identical total order, so the elected
    representative — and every output value — is unchanged. The
    assignment relation materializes via cut_lineage instead of an
    unreleased .cache() (the khop hygiene rule), norms are computed
    once per side, and cos_to_rep is evaluated once per row instead of
    the old inlined-twice expression tree (same doubles: identical
    fold over identical inputs, factored, not reassociated).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from etl_online_retail_spark.session import cut_lineage

    with_vec = vectors.withColumn("_mlv", array_to_vector(as_double(vec_col)))
    model = (KMeans(k=n_clusters, seed=seed, featuresCol="_mlv",
                    predictionCol="_cl")
             .fit(with_vec))
    centers = [(i, [float(x) for x in c]) for i, c in
               enumerate(model.clusterCenters())]
    centroids = vectors.sparkSession.createDataFrame(
        centers, "_cl int, _center array<double>")

    assigned = cut_lineage(
        model.transform(with_vec)
        .select(F.col(id_col).alias("_id"),
                as_double(vec_col).alias("_v"), "_cl")
        .join(F.broadcast(centroids), "_cl")
        .withColumn("_dist",
                    F.aggregate(F.zip_with("_v", "_center",
                                           lambda a, b: (a - b) * (a - b)),
                                F.lit(0.0), lambda acc, x: acc + x))
        .drop("_center"))

    reps = (assigned.groupBy("_cl")
            .agg(F.min(F.struct(F.col("_dist"), F.col("_id"),
                                F.col("_v"))).alias("_r"))
            .select("_cl", F.col("_r._id").alias("_rep_id"),
                    F.col("_r._v").alias("_rep_v")))

    joined = assigned.join(F.broadcast(reps), "_cl")
    # one evaluation per row: dot and both norms appear exactly once in
    # the projected _cos; the old shape inlined the full cosine tree
    # (2 sqrt-folds + 1 dot-fold) separately into cos_to_rep AND is_kept
    denom = norm(F.col("_v")) * norm(F.col("_rep_v"))
    cos = F.round(
        F.when(denom == F.lit(0.0), F.lit(0.0))
         .otherwise(dot(F.col("_v"), F.col("_rep_v")) / denom), 6)
    is_rep = F.col("_id") == F.col("_rep_id")
    return (joined
            .select("_id", "_cl", "_rep_id", cos.alias("_cos"))
            .select(
                F.col("_id").alias(id_col),
                F.col("_cl").cast("int").alias("cluster_id"),
                F.when(is_rep, F.lit(1.0))
                 .otherwise(F.col("_cos")).alias("cos_to_rep"),
                (is_rep | (F.col("_cos") < threshold)).alias("is_kept")))


# auto plane sizing: choose n_planes so the EXPECTED bucket holds
# ~TARGET_BUCKET_ROWS vectors (within-bucket work is quadratic in bucket
# size, so the pair count is ~N * target/2 — linear in N once n_planes
# grows with log2(N)). A FIXED plane count is the scale-killer: at 100 TB,
# 8 planes = 256 buckets means (N/256)^2 pairs.
LSH_TARGET_BUCKET_ROWS = 1024
LSH_MIN_PLANES = 4
LSH_MAX_PLANES = 24


def auto_n_planes(n_vectors: int,
                  target_bucket_rows: int = LSH_TARGET_BUCKET_ROWS) -> int:
    """n_planes = clamp(ceil(log2(N / target)), MIN, MAX)."""
    import math

    if n_vectors <= target_bucket_rows:
        return LSH_MIN_PLANES
    raw = math.ceil(math.log2(n_vectors / target_bucket_rows))
    return max(LSH_MIN_PLANES, min(LSH_MAX_PLANES, raw))


def auto_probes(threshold: float, n_planes: int,
                recall_target: float = 0.9, max_probes: int = 8) -> int:
    """Probe count hitting a recall target at the similarity threshold.

    For random hyperplane LSH, two vectors with cosine >= t collide in one
    plane with probability 1 - acos(t)/pi, hence share an n_plane bucket
    with p = (1 - acos(t)/pi)^n_planes. With m independent plane families
    (multi-probe), P(candidate) = 1 - (1-p)^m >= target gives
    m = ceil(ln(1-target) / ln(1-p)). Clamped to [1, max_probes] — past
    that, add planes back or switch to banded signatures.
    """
    import math

    p_plane = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    p_bucket = p_plane ** n_planes
    if p_bucket >= recall_target or p_bucket >= 1.0:
        return 1
    if p_bucket <= 0.0:
        return max_probes
    m = math.ceil(math.log(1.0 - recall_target) / math.log(1.0 - p_bucket))
    return max(1, min(max_probes, m))


def lsh_near_duplicates(vectors: DataFrame, threshold: float = 0.95,
                        n_planes: int | None = None, n_dims: int = 64,
                        seed: int = 42, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        probes: int | None = 1,
                        scorer: str = "fold") -> DataFrame:
    """Embedding-cosine near-dup pairs within LSH buckets.

    Output: id_a, id_b, cos_sim (rounded to 6dp). Only same-bucket pairs
    are scored - the shuffle is bucket-sized, not corpus-squared.

    n_planes=None sizes the plane count to the corpus (auto_n_planes: one
    count(), then ~log2(N) planes) so buckets stay ~constant-sized as N
    grows; a pinned value is for oracle parity at test scale. probes > 1
    is multi-probe: pairs are unioned across `probes` independent plane
    families (seed, seed+1, ...) to recover the recall that more planes
    cost — each probe is another linear bucket pass, never quadratic.
    probes=None derives the count from the hyperplane collision model
    (auto_probes: enough families that a true pair at `threshold` is
    caught with >=90% probability) — single-probe recall decays with the
    plane count (0.899^p at threshold 0.95), so auto planes without auto
    probes silently loses recall as the corpus grows.

    scorer picks the pair-verify arithmetic: "fold" (default) scores each
    pair with the Catalyst aggregate fold over a bucket self-JOIN —
    deterministic summation order, hash-exact against the DuckDB oracle;
    "vectorized" computes each bucket's pair scores as a chunked GEMM
    (numpy V @ V.T row blocks inside applyInPandas) — the scale path.
    The two differ only in float summation order (ulp-level); pair-set
    and score agreement is tolerance-tested.

    Scale shape — verification is BUCKET-LOCAL: each probe family
    shuffles the (id, vector, norm) relation ONCE, keyed by bucket; no
    pairs-sized relation ever carries vectors through an exchange. The
    GEMM scorer moves N vectors per probe through Arrow and does the
    c x c similarity block per bucket in BLAS: at the 30x smoke (60k
    vectors, 104M in-bucket pairs) the per-pair designs paid ~3 us/pair
    in Arrow list conversion alone (~330 s); the bucket GEMM transfers
    30 MB and spends its time in dgemm. Hot-bucket memory is bounded by
    the 2048-row block x bucket width; the group itself (c x dims
    doubles) is the applyInPandas ceiling — a 500k-row bucket is 256 MB,
    the signal to add planes. Duplicate pairs across probe families are
    dropped AFTER scoring, keyed on (id_a, id_b) alone: the same pair's
    score is NOT guaranteed bitwise-identical across families (the GEMM
    blocks are shaped by bucket membership, so summation order can
    differ at ulp level, and np.round is half-to-even where the fold
    path's F.round is HALF_UP on doubles) — a full-row distinct() could
    let ulp-twin rows survive.
    """
    if n_planes is None:
        n_planes = auto_n_planes(vectors.count())
    if probes is None:
        probes = auto_probes(threshold, n_planes)
    if scorer == "vectorized":
        id_type = vectors.schema[id_col].dataType.simpleString()
        if id_type not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"scorer='vectorized' needs integral ids, got {id_type}; "
                "use scorer='fold'")
    # cache: bucket assignment (n_planes 64-dim folds per row per probe)
    # feeds both sides of each bucket self-join (fold) or the grouped
    # bucket pass (vectorized); norms are precomputed per vector.
    planes = [hyperplanes(n_planes, n_dims, seed + p) for p in range(probes)]
    v = (vectors
         .select(F.col(id_col).alias("_id"), as_double(vec_col).alias("_v"))
         .withColumn("_n", norm(F.col("_v")))
         .select("_id", "_v", "_n",
                 *[bucket_expr(F.col("_v"), planes[p]).alias(f"_bkt{p}")
                   for p in range(probes)])
         .cache())

    def fold_pairs(p: int) -> DataFrame:
        a = v.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
                     F.col("_n").alias("_na"),
                     F.col(f"_bkt{p}").alias("_bv"))
        b = v.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
                     F.col("_n").alias("_nb"),
                     F.col(f"_bkt{p}").alias("_bv"))
        paired = a.join(b, "_bv").filter(F.col("id_a") < F.col("id_b"))
        denom = F.col("_na") * F.col("_nb")
        return (paired
                .withColumn("cos_sim",
                            F.when(denom == 0.0, F.lit(0.0))
                             .otherwise(dot(F.col("_va"), F.col("_vb"))
                                        / denom))
                .filter(F.col("cos_sim") >= threshold)
                .select("id_a", "id_b",
                        F.round("cos_sim", 6).alias("cos_sim")))

    def gemm_pairs(p: int) -> DataFrame:
        import numpy as np
        import pandas as pd

        out_schema = "id_a bigint, id_b bigint, cos_sim double"
        block = 2048

        def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("_id")
            c = len(pdf)
            ids = pdf["_id"].to_numpy(dtype=np.int64)
            vm = np.array(list(pdf["_v"]), dtype=np.float64)
            norms = pdf["_n"].to_numpy(dtype=np.float64)
            cols: list[np.ndarray] = [np.empty(0, dtype=np.int64)]
            rows: list[np.ndarray] = [np.empty(0, dtype=np.int64)]
            sims_out: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
            col_ix = np.arange(c)[None, :]
            for i0 in range(0, c, block):
                i1 = min(i0 + block, c)
                g = vm[i0:i1] @ vm.T
                denom = np.outer(norms[i0:i1], norms)
                sims = np.where(denom == 0.0, 0.0,
                                g / np.where(denom == 0.0, 1.0, denom))
                # ids are sorted, so column-index > row-index == id_b > id_a
                keep = (sims >= threshold) & (col_ix
                                              > np.arange(i0, i1)[:, None])
                ri, ci = np.nonzero(keep)
                rows.append(ids[ri + i0])
                cols.append(ids[ci])
                sims_out.append(np.round(sims[keep], 6))
            return pd.DataFrame({"id_a": np.concatenate(rows),
                                 "id_b": np.concatenate(cols),
                                 "cos_sim": np.concatenate(sims_out)})

        side = v.select("_id", "_v", "_n", F.col(f"_bkt{p}").alias("_bv"))
        return side.groupBy("_bv").applyInPandas(score_bucket, out_schema)

    make = gemm_pairs if scorer == "vectorized" else fold_pairs
    out = None
    for p in range(probes):
        scored = make(p)
        out = scored if out is None else out.unionByName(scored)
    if probes > 1:
        # key-only dedup: scores for the same pair can differ at ulp
        # level across probe families (see docstring), so full-row
        # distinct() would keep both twins
        out = out.dropDuplicates(["id_a", "id_b"])
    return out


# ---------------------------------------------------------------------------
# Product quantization (PQ): memory-compressed ANN, the FAISS IVFADC shape.
#
# The 100 TB problem PQ solves is STORAGE-side, where IVF's is compute-side:
# a 64-dim float32 embedding is 256 bytes; its PQ code (M subspaces x one
# byte-or-less code each) is M bytes — a 32x compression that lets a
# 100 TB corpus's searchable representation fit a 3 TB code table, scanned
# without touching the raw vectors. Search uses ADC (asymmetric distance
# computation): the query stays full-precision, each subspace contributes a
# table lookup ||q_m - centroid[code_m]||^2, and the approximate distance
# is the sum of M lookups — no float vector is ever read at query time.


def train_pq_codebooks(corpus: DataFrame, m_subspaces: int = 8,
                       n_codes: int = 16, seed: int = 42,
                       max_iter: int = 10, train_rows: int = 20_000,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> list:
    """Per-subspace KMeans codebooks: list[m] of (n_codes x d_sub) float
    lists. The vector is split into m_subspaces contiguous slices and each
    slice space is clustered independently (classic PQ, Jegou et al. 2011).

    Training is DRIVER-side numpy Lloyd's over a bounded sample — the
    deliberate asymmetry of production PQ (FAISS trains codebooks on a
    ~100k-vector sample in one process; only ENCODE and SEARCH touch the
    corpus and those are the distributed stages here). The sample is the
    train_rows smallest by the portable affine hash of the id — unbiased
    (hash order is content-independent) and deterministic across runs and
    layouts, unlike df.sample or an unordered limit. Seeded numpy
    kmeans++-style init + fixed iteration count keeps the codebooks
    reproducible; an m_subspaces-fit Spark ML loop at this scale is pure
    per-job scheduling overhead (measured ~16x one tiny KMeans job cost,
    dominating the whole query).
    """
    import numpy as np

    from etl_online_retail_spark.operators.sampling import _hval

    sample = (corpus
              .select(F.col(id_col), as_double(vec_col).alias("_v"))
              .orderBy(_hval(F.col(id_col)).asc(), F.col(id_col).asc())
              .limit(train_rows)
              .collect())
    if not sample:
        raise ValueError(
            "train_pq_codebooks: empty corpus (nothing to sample)")
    mat = np.array([r._v for r in sample], dtype=np.float64)
    n_dims = mat.shape[1]
    if n_dims % m_subspaces:
        raise ValueError(f"{n_dims} dims not divisible by {m_subspaces}")
    d_sub = n_dims // m_subspaces
    books = []
    for m in range(m_subspaces):
        sub = mat[:, m * d_sub:(m + 1) * d_sub]
        rng = np.random.default_rng(seed + m)
        # kmeans++-style seeding: iteratively pick the point farthest
        # from the chosen set (deterministic given the seeded first pick)
        idx = [int(rng.integers(len(sub)))]
        d2 = ((sub - sub[idx[0]]) ** 2).sum(axis=1)
        for _ in range(1, min(n_codes, len(sub))):
            nxt = int(d2.argmax())
            idx.append(nxt)
            d2 = np.minimum(d2, ((sub - sub[nxt]) ** 2).sum(axis=1))
        cent = sub[idx].copy()
        for _ in range(max_iter):
            dist = (-2.0 * sub @ cent.T) + (cent * cent).sum(axis=1)
            assign = dist.argmin(axis=1)
            for c in range(len(cent)):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        if len(cent) < n_codes:  # corpus smaller than the codebook
            pad = np.repeat(cent[-1:], n_codes - len(cent), axis=0)
            cent = np.vstack([cent, pad])
        books.append([[float(x) for x in c] for c in cent])
    return books


def pq_encode(corpus: DataFrame, codebooks: list,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode every vector into its PQ code word -> (id, codes array<int>).

    The argmin over n_codes sub-centroids per subspace runs as ONE numpy
    einsum per Arrow batch (mapInPandas) — the same boundary as the
    vectorized brute-force scorer: per-row JVM expressions would codegen
    m_subspaces x n_codes fold terms, and a distance kernel is exactly
    what BLAS batching is for. The codebooks ride into the closure
    (KB-sized — broadcast semantics for free).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m_subspaces = len(books)
    d_sub = books[0].shape[1]
    out_schema = f"{id_col} bigint, codes array<int>"

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(pdf), m_subspaces), dtype=np.int32)
            for m, book in enumerate(books):
                sub = vecs[:, m * d_sub:(m + 1) * d_sub]
                # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; row term constant
                d2 = (-2.0 * sub @ book.T) + (book * book).sum(axis=1)
                codes[:, m] = d2.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "codes": list(codes)})

    return (corpus.select(id_col, vec_col)
            .mapInPandas(encode, schema=out_schema))


def pq_topk(codes: DataFrame, queries: DataFrame, codebooks: list,
            k: int = 5, id_col: str = "vec_id",
            vec_col: str = "embedding",
            exclude_self: bool = True) -> DataFrame:
    """ADC top-k over a PQ-encoded corpus: smallest approximate L2.

    The query set is serving-sized (the standing assumption of every query
    path here): per query and subspace a 1 x n_codes distance table is
    built driver-side, and the scan evaluates
    sum_m table[m][code_m] per corpus row — a pure JVM zip_with/aggregate
    over the CODES column. The corpus never shuffles, never re-reads the
    float vectors, and the query relation broadcasts.

    Output: (query_id, neighbour_id, adc_dist 6dp, rank). Approximate by
    construction -> rows-only for the driver; recall vs exact L2 is
    pytest-asserted.
    """
    import numpy as np
    from pyspark.sql import Window

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    d_sub = books[0].shape[1]

    q_rows = queries.select(id_col, vec_col).collect()
    table_rows = []
    for r in q_rows:
        qv = np.asarray(r[1], dtype=np.float64)
        tables = []
        for m, book in enumerate(books):
            sub = qv[m * d_sub:(m + 1) * d_sub]
            tables.append([float(x) for x in
                           ((book - sub) ** 2).sum(axis=1)])
        table_rows.append((int(r[0]), tables))
    probes = codes.sparkSession.createDataFrame(
        table_rows, "query_id bigint, _tables array<array<double>>")

    adc = F.aggregate(
        F.zip_with(F.col("codes"), F.col("_tables"),
                   lambda c, t: F.element_at(t, c + 1)),
        F.lit(0.0), lambda acc, x: acc + x)
    scored = codes.join(F.broadcast(probes))
    if exclude_self:
        # queries drawn FROM the corpus skip their own row; pass
        # exclude_self=False when query ids live in a different
        # namespace, or a corpus item sharing a query's id would be
        # silently dropped
        scored = scored.filter(F.col("query_id") != F.col(id_col))
    scored = scored.withColumn("adc_dist", adc)
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"),
                                               F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", F.col(id_col).alias("neighbour_id"),
                          F.round("adc_dist", 6).alias("adc_dist"), "rank"))


def pq_topk_refined(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
                    codebooks: list, k: int = 5, refine: int = 10,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    exclude_self: bool = True) -> DataFrame:
    """PQ search with a refine stage (FAISS's IndexRefineFlat shape):
    ADC shortlists k*refine candidates from the code table, then ONLY
    those candidates' raw vectors are fetched and re-ranked by exact L2.

    This is how production PQ deployments hit high recall with 8-byte
    codes: the compressed scan does the heavy lifting (measured here:
    ADC@5 alone recalls ~0.4 of true L2 top-5 on near-random synthetic
    embeddings; a 10x shortlist + exact re-rank recalls ~0.9), and the
    full-precision reads are bounded by |Q| * k * refine point lookups —
    at 100 TB the raw vectors never stream, they are fetched.

    Output: (query_id, neighbour_id, l2_dist 6dp, rank) — exact distances
    on the shortlist, so ranking quality is limited only by shortlist
    membership.
    """
    from pyspark.sql import Window

    shortlist = pq_topk(codes, queries, codebooks, k=k * refine,
                        id_col=id_col, vec_col=vec_col,
                        exclude_self=exclude_self) \
        .select("query_id", "neighbour_id")
    q = queries.select(F.col(id_col).alias("query_id"),
                       as_double(vec_col).alias("_qv"))
    cand = (corpus.select(F.col(id_col).alias("neighbour_id"),
                          as_double(vec_col).alias("_cv"))
            .join(F.broadcast(shortlist), "neighbour_id")
            .join(F.broadcast(q), "query_id"))
    l2 = F.aggregate(F.zip_with("_qv", "_cv",
                                lambda a, b: (a - b) * (a - b)),
                     F.lit(0.0), lambda acc, x: acc + x)
    w = Window.partitionBy("query_id").orderBy(F.asc("l2_dist"),
                                               F.asc("neighbour_id"))
    return (cand.withColumn("l2_dist", F.round(l2, 6))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbour_id", "l2_dist", "rank"))


def train_pca(corpus: DataFrame, k: int = 16, train_rows: int = 20_000,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> tuple[list, list]:
    """Top-k principal components of the embedding corpus: (mean[d],
    components[k][d]) — the linear dimensionality reduction every vector
    store reaches for before PQ/IVF (project to the energy-carrying
    subspace, THEN quantize/index the short vectors).

    Same training asymmetry as train_pq_codebooks: the spectral solve is
    DRIVER-side numpy over the train_rows smallest-affine-hash sample
    (unbiased, deterministic across runs and layouts; FAISS's PCAMatrix
    trains the same way), because an eigendecomposition of a d x d
    covariance (d = embedding width, typically <= 4096) is microseconds —
    only projection touches the corpus. Component SIGNS are fixed
    (largest-|coefficient| entry made positive) so the matrix is unique,
    not just the subspace.
    """
    import numpy as np

    from etl_online_retail_spark.operators.sampling import _hval

    sample = (corpus
              .select(F.col(id_col), as_double(vec_col).alias("_v"))
              .orderBy(_hval(F.col(id_col)).asc(), F.col(id_col).asc())
              .limit(train_rows)
              .collect())
    if not sample:
        raise ValueError("train_pca: empty corpus (nothing to sample)")
    mat = np.array([r._v for r in sample], dtype=np.float64)
    if k > mat.shape[1]:
        raise ValueError(f"k={k} exceeds embedding width {mat.shape[1]}")
    mean = mat.mean(axis=0)
    c = mat - mean
    cov = (c.T @ c) / max(len(mat) - 1, 1)
    evals, evecs = np.linalg.eigh(cov)       # ascending
    comp = evecs[:, ::-1][:, :k].T           # k x d, descending variance
    for i in range(len(comp)):               # deterministic sign
        j = int(np.abs(comp[i]).argmax())
        if comp[i][j] < 0:
            comp[i] = -comp[i]
    return ([float(x) for x in mean],
            [[float(x) for x in row] for row in comp])


def pca_project(corpus: DataFrame, mean: list, components: list,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Arrow-batched PCA projection + per-vector audit: (id, proj
    array<double>, recon_err, var_ratio) where recon_err is the L2 error
    of reconstructing the centered vector from its projection and
    var_ratio = |projection|^2 / |centered|^2 (energy captured; NULL for
    a vector exactly at the mean). One numpy GEMM per batch — the
    knn_vectorized shape; the corpus never shuffles.

    Float reductions follow BLAS order, so queries over this are
    rows-only for the driver gate (like knn_pq); the invariants
    (orthonormal components, var_ratio bounds, error -> 0 as k -> d,
    layout determinism) are pytest-asserted.
    """
    import numpy as np
    import pandas as pd

    mu = np.array(mean, dtype=np.float64)
    b = np.array(components, dtype=np.float64)          # k x d

    def run(batches):
        for pdf in batches:
            x = np.stack(pdf["_v"].to_numpy())
            c = x - mu
            p = c @ b.T
            r = p @ b
            err = np.sqrt(((c - r) ** 2).sum(axis=1))
            cn = (c ** 2).sum(axis=1)
            # nullable Float64, not np.nan: the contract says NULL for a
            # vector exactly at the mean, and NaN would survive Arrow as
            # NaN (IS NULL filters and aggregates then mishandle it)
            ratio = pd.array(
                [float((p[i] ** 2).sum() / cn[i]) if cn[i] > 0 else None
                 for i in range(len(cn))], dtype="Float64")
            yield pd.DataFrame({
                "__id": pdf["__id"],
                "proj": [list(map(float, row)) for row in p],
                "recon_err": err,
                "var_ratio": ratio,
            })

    out = (corpus
           .select(F.col(id_col).alias("__id"),
                   as_double(vec_col).alias("_v"))
           .mapInPandas(
               run,
               f"__id long, proj array<double>, recon_err double, "
               f"var_ratio double"))
    return out.withColumnRenamed("__id", id_col)


def train_pq_codebooks_distributed(corpus: DataFrame, m_subspaces: int = 8,
                                   n_codes: int = 16, n_iters: int = 8,
                                   id_col: str = "vec_id",
                                   vec_col: str = "embedding",
                                   mean_scale: int = 12) -> list:
    """Distributed Lloyd's over the FULL corpus for all M subspaces at
    once — the scale-up of train_pq_codebooks when the training set no
    longer fits one process (the documented driver-side asymmetry ends
    here; FAISS-style sample training remains the cheap default).

    One aggregation per iteration trains every subspace simultaneously:
    explode each vector into its m sub-vectors, assign each to its
    nearest current centroid in an Arrow-batched mapInPandas (BLAS
    argmin — the hot loop stays vectorized), then posexplode dimensions
    and fold per-(subspace, code, dim) sums AS DECIMAL(38,12) with the
    row count. Decimal sums are order-independent, so the updated
    centroids — mean = sum/count rounded to `mean_scale` dp — are
    IDENTICAL under any partitioning/arrival order, unlike float means
    (tested under repartition). Each iteration collects only the
    m*k*d_sub centroid table (bounded), so lineage never grows — the
    PageRank discipline for iterative jobs.

    Init is the deterministic hash-order rank: per subspace, the
    sub-vectors of the n_codes rows with the smallest portable affine
    hash of the id (distributed_rank_by — range-sharded, no global
    sort). Empty clusters keep their previous centroid. Shuffle volume
    per iteration is d values per vector (tiny tuples, map-side
    combined to m*k*d_sub partials per task).
    """
    import numpy as np

    from etl_online_retail_spark.operators.sampling import _hval
    from etl_online_retail_spark.operators.windows import (
        distributed_rank_by,
    )

    first = corpus.select(as_double(vec_col).alias("_v")).first()
    if first is None:
        raise ValueError("empty corpus")
    n_dims = len(first["_v"])
    if n_dims % m_subspaces:
        raise ValueError(f"{n_dims} dims not divisible by {m_subspaces}")
    d_sub = n_dims // m_subspaces

    subs = corpus.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array(*[
            F.struct(F.lit(s).cast("int").alias("s"),
                     F.slice(as_double(vec_col), s * d_sub + 1, d_sub)
                     .alias("v"))
            for s in range(m_subspaces)])).alias("_e")
    ).select("_id", F.col("_e.s").alias("_s"), F.col("_e.v").alias("_v"))
    subs = subs.cache()

    seeds = distributed_rank_by(
        subs.withColumn("_h", _hval(F.col("_id"))), ["_s"],
        order=[F.col("_h").asc(), F.col("_id").asc()],
        shard_by=F.col("_h"), n_shards=32, alias="_r")
    init_rows = (seeds.filter(F.col("_r") <= n_codes)
                 .select("_s", "_r", "_v").collect())
    cent = np.zeros((m_subspaces, n_codes, d_sub), dtype=np.float64)
    seen: dict[int, int] = {}
    for r in init_rows:
        cent[r["_s"], r["_r"] - 1] = r["_v"]
        seen[r["_s"]] = max(seen.get(r["_s"], 0), r["_r"])
    for s, got in seen.items():
        for j in range(got, n_codes):  # corpus smaller than the codebook
            cent[s, j] = cent[s, got - 1]

    import pandas as pd
    from pyspark.sql import types as T

    assign_schema = T.StructType([
        T.StructField("_s", T.IntegerType()),
        T.StructField("_code", T.IntegerType()),
        T.StructField("_v", T.ArrayType(T.DoubleType())),
    ])

    for _ in range(n_iters):
        c = cent.copy()  # pinned per-iteration closure copy

        def assign(batches, _c=c):
            for pdf in batches:
                out_s, out_code, out_v = [], [], []
                for s in range(m_subspaces):
                    part = pdf[pdf["_s"] == s]
                    if not len(part):
                        continue
                    mat = np.array(list(part["_v"]), dtype=np.float64)
                    cb = _c[s]
                    d2 = (-2.0 * mat @ cb.T) + (cb * cb).sum(axis=1)
                    codes = d2.argmin(axis=1)  # ties -> lowest code
                    out_s.extend([s] * len(part))
                    out_code.extend(int(x) for x in codes)
                    out_v.extend(part["_v"])
                yield pd.DataFrame(
                    {"_s": pd.Series(out_s, dtype="int32"),
                     "_code": pd.Series(out_code, dtype="int32"),
                     "_v": out_v})

        assigned = subs.select("_s", "_v").mapInPandas(assign,
                                                       assign_schema)
        sums = (assigned
                .select("_s", "_code",
                        F.posexplode("_v").alias("_pos", "_x"))
                .groupBy("_s", "_code", "_pos")
                .agg(F.sum(F.col("_x").cast("decimal(38,12)"))
                     .alias("_sum"),
                     F.count(F.lit(1)).alias("_n"))
                .collect())
        new = cent.copy()  # empty clusters keep their previous centroid
        counted: dict[tuple, int] = {}
        for r in sums:
            counted[(r["_s"], r["_code"], r["_pos"])] = \
                float(round(r["_sum"] / r["_n"], mean_scale))
        for (s, code, pos), v in counted.items():
            new[s, code, pos] = v
        cent = new
    subs.unpersist()
    return [[[float(x) for x in code] for code in cent[s]]
            for s in range(m_subspaces)]


# ---------------------------------------------------------------------------
# Exact-mode ANN twins (r13): integer-quantized arithmetic makes every
# score an exact int64, so the SAME index-and-probe plans the float paths
# run become driver-HASHABLE — the PPR fixed-point precedent
# (operators/graph.py ppr exact mode) applied to similarity search.
#
# Two things buy the exactness:
#   * quantization is floor(x * scale) on the double-cast component —
#     one IEEE multiply + floor, bit-identical in Spark, numpy and
#     DuckDB — and every reduction thereafter is an INTEGER fold/matmul,
#     order-independent by construction (no BLAS summation-order caveat);
#   * the index "training" is pinned instead of iterated: IVF centroids /
#     PQ codebook entries are the quantized vectors of the n smallest-id
#     corpus rows, a deterministic rule a SQL oracle can state. The
#     float paths keep their KMeans training (recall-optimal); the exact
#     twins verify the probe/ADC SEARCH machinery end-to-end.
#
# Overflow budget: |component| <= scale (unit-ish embeddings), so a dot
# is <= dims * scale^2 (64 * 1e6 = 6.4e7 at the defaults) and an L2 is
# <= 4x that — far inside int64 AND inside double's 2^53 integer range,
# so DuckDB list arithmetic stays exact too.
#
# What stays rows-only and why: knn_vectorized / embedding_near_dups_
# vectorized / embedding_pca score in float (BLAS summation order);
# knn_ivf / knn_pq / semantic_dedup keep their iteratively-trained
# KMeans structures; BPE / unigram training is a driver-coordinated
# loop. Each of those now has either an exact twin here or a documented
# invariant-test regime.


def quantize_expr(vec: Column, scale: int = 1000) -> Column:
    """array<bigint>: floor(component * scale) — the exact-mode lattice."""
    return F.transform(as_double(vec),
                       lambda x: F.floor(x * scale).cast("bigint"))


def int_dot(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two array<bigint> columns."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def int_l2(a: Column, b: Column) -> Column:
    """Exact int64 squared L2 distance of two array<bigint> columns."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def brute_force_topk_int(corpus: DataFrame, queries: DataFrame, k: int = 5,
                         scale: int = 1000, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Exact-mode twin of brute_force_topk_vectorized: the same
    numpy-batched mapInPandas scoring shape (one matmul per Arrow
    batch; the corpus never shuffles), but over int64-quantized vectors
    — integer matmul is exact whatever the accumulation order, so the
    vectorized SCALE PATH itself becomes hash-attestable, not just its
    interpreted fold sibling. Output: (query_id, neighbour_id, dot_q,
    rank) ranked by dot descending, id ascending."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.floor(np.array([r[1] for r in q_rows], dtype=np.float64)
                     * scale).astype(np.int64)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.floor(np.array(list(pdf[vec_col]), dtype=np.float64)
                           * scale).astype(np.int64)
            dots = mat @ q_mat.T  # (batch, |Q|) int64: EXACT
            n_b, n_q = dots.shape
            yield pd.DataFrame({
                "query_id": np.repeat(q_ids, n_b),
                "neighbour_id": np.tile(ids, n_q),
                "dot_q": dots.T.ravel(),
            })

    scored = (corpus.select(id_col, vec_col)
              .mapInPandas(score,
                           "query_id bigint, neighbour_id bigint, "
                           "dot_q bigint")
              .filter(F.col("query_id") != F.col("neighbour_id")))
    w = Window.partitionBy("query_id").orderBy(F.desc("dot_q"),
                                               F.asc("neighbour_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def _seed_rows(corpus: DataFrame, n: int, id_col: str,
               vec_col: str) -> list:
    """The n smallest-id corpus rows — the pinned 'training set' of the
    exact-mode indexes (a TakeOrdered of n rows, bounded by contract)."""
    return (corpus.select(id_col, vec_col)
            .orderBy(F.col(id_col).asc()).limit(n).collect())


def ivf_topk_int(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 n_clusters: int = 16, n_probe: int = 4,
                 scale: int = 1000, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Exact-mode twin of ivf_topk: identical inverted-file search shape
    (assign every vector to its nearest centroid; each query probes its
    n_probe nearest lists; only probed lists are scored) with pinned
    seed centroids and int64 arithmetic, so assignment, probe selection
    and ranking are all exactly reproducible by a SQL oracle. Ties break
    on the lower centroid / neighbour id. Output: (query_id,
    neighbour_id, dot_q, rank).

    Scale shape: the centroid table is BOUNDED (n_clusters rows), so it
    rides into the plan as a LITERAL array and assignment is a pure
    map stage over the corpus — zero shuffle, exactly like the float
    path's model.transform; the only shuffle anywhere is the final
    per-query ranking over candidate rows. Rule-7 note: the transform
    lambda reads only the row's own `_q` attribute (a slot read, not a
    recomputed expression) and its own lambda variable."""
    import numpy as np
    from pyspark.sql import Window

    seeds = _seed_rows(corpus, n_clusters, id_col, vec_col)
    cents = [(i, [int(x) for x in
                  np.floor(np.asarray(r[1], dtype=np.float64)
                           * scale).astype(np.int64)])
             for i, r in enumerate(seeds)]
    cent_lit = F.array(*[
        F.struct(
            F.array(*[F.lit(v).cast("bigint") for v in cv]).alias("cv"),
            F.lit(i).cast("int").alias("cid"))
        for i, cv in cents])

    def dists(vec_attr: str) -> Column:
        # (l2, cid) per centroid; struct order = distance then id, so
        # array_min/array_sort break ties to the lowest centroid id
        return F.transform(
            cent_lit,
            lambda s: F.struct(int_l2(F.col(vec_attr), s["cv"]).alias("l2"),
                               s["cid"].alias("cid")))

    c = (corpus.select(F.col(id_col).alias("neighbour_id"),
                       quantize_expr(F.col(vec_col), scale).alias("_q")))
    assigned = (c.withColumn("_cid", F.array_min(dists("_q"))["cid"])
                .select("neighbour_id", "_q", "_cid"))

    q = queries.select(F.col(id_col).alias("query_id"),
                       quantize_expr(F.col(vec_col), scale).alias("_qv"))
    probes = (q.withColumn("_p", F.explode(
                  F.slice(F.array_sort(dists("_qv")), 1, n_probe)))
              .select("query_id", "_qv", F.col("_p")["cid"].alias("_cid")))

    scored = (assigned.join(joins.size_guarded_broadcast(probes), "_cid")
              .filter(F.col("query_id") != F.col("neighbour_id"))
              .withColumn("dot_q", int_dot(F.col("_qv"), F.col("_q"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("dot_q"),
                                               F.asc("neighbour_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "neighbour_id", "dot_q", "rank"))


def pq_topk_int(corpus: DataFrame, queries: DataFrame,
                m_subspaces: int = 8, n_codes: int = 16, k: int = 5,
                scale: int = 1000, id_col: str = "vec_id",
                vec_col: str = "embedding",
                exclude_self: bool = True) -> DataFrame:
    """Exact-mode twin of pq_topk: the same ADC machinery — numpy argmin
    ENCODE per Arrow batch, per-query distance tables built driver-side
    from the (bounded) codebook, scan-side score = one
    zip_with/element_at fold over the codes column — but with pinned
    smallest-id codebooks and int64 lattice arithmetic, so code
    assignment and every ADC distance are exact integers a SQL oracle
    reproduces. Ties in encode break to the LOWEST code (numpy argmin
    first-occurrence == ORDER BY l2, code). Output: (query_id,
    neighbour_id, adc_q, rank) ranked by ADC ascending."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    seeds = _seed_rows(corpus, n_codes, id_col, vec_col)
    seed_mat = np.floor(np.array([r[1] for r in seeds], dtype=np.float64)
                        * scale).astype(np.int64)
    n_dims = seed_mat.shape[1]
    if n_dims % m_subspaces:
        raise ValueError(f"{n_dims} dims not divisible by {m_subspaces}")
    d_sub = n_dims // m_subspaces
    books = [seed_mat[:, m * d_sub:(m + 1) * d_sub]
             for m in range(m_subspaces)]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = np.floor(np.array(pdf[vec_col].tolist(),
                                     dtype=np.float64)
                            * scale).astype(np.int64)
            codes = np.empty((len(pdf), m_subspaces), dtype=np.int32)
            for m, book in enumerate(books):
                sub = vecs[:, m * d_sub:(m + 1) * d_sub]
                # exact int64 ||x - c||^2 per code; argmin takes the
                # first (lowest-code) minimum
                d2 = ((sub[:, None, :] - book[None, :, :]) ** 2).sum(axis=2)
                codes[:, m] = d2.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

    encoded = (corpus.select(id_col, vec_col)
               .mapInPandas(encode, f"{id_col} bigint, codes array<int>"))

    q_rows = queries.select(id_col, vec_col).collect()
    table_rows = []
    for r in q_rows:
        qv = np.floor(np.asarray(r[1], dtype=np.float64)
                      * scale).astype(np.int64)
        tables = []
        for m, book in enumerate(books):
            sub = qv[m * d_sub:(m + 1) * d_sub]
            tables.append([int(x) for x in
                           ((book - sub) ** 2).sum(axis=1)])
        table_rows.append((int(r[0]), tables))
    probes = corpus.sparkSession.createDataFrame(
        table_rows, "query_id bigint, _tables array<array<bigint>>")

    adc = F.aggregate(
        F.zip_with(F.col("codes"), F.col("_tables"),
                   lambda c, t: F.element_at(t, c + 1)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    scored = encoded.join(F.broadcast(probes))
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col(id_col))
    scored = scored.withColumn("adc_q", adc)
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_q"),
                                               F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", F.col(id_col).alias("neighbour_id"),
                          "adc_q", "rank"))

"""Pairwise-judgment analytics: arena-style model comparison.

RLHF/eval pipelines compare model outputs pairwise (a human or LLM
judge picks a winner per prompt) and aggregate the battles into
leaderboards: the win/tie matrix per unordered model pair, per-model
records, and Bradley-Terry strength scores (the model family behind
chatbot-arena rankings, fit with the Hunter 2004 MM algorithm).

A battle row is (model_a, model_b, outcome) with outcome in
{'a', 'b', 'tie'} (OUTCOME_*); rows with any other outcome are
dropped (malformed judgments never leak into counts).

Scale shape: the battle table is the big relation (billions of
judgments); everything reduces it to the PAIR grain (roster^2 at
most, usually far smaller) with ONE hash aggregation before any
iteration. Bradley-Terry then iterates on the pair-grain relation
only: per iteration two score joins (size-guarded broadcast — rosters
are usually tiny, but a per-annotator "roster" of millions degrades
to a hash join instead of an OOM) and one sum per model. Counts are
exact BIGINTs; ties count one half-point per side, carried in
HALF-POINT units (win=2, tie=1) so every record stays integer.

Bradley-Terry runs entirely in FIXED-POINT int64 (score * 10^6,
truncating integer divides — the personalized-pagerank precedent,
operators/graph.py PR_FP_SCALE) so a fixed iteration count
hash-verifies against an unrolled SQL oracle. Headroom: the BINDING
bound is per MODEL, not per pair (r13 advice) — the MM numerator is
w2_i * S^2 and the denominator sums n2_ij * S^2 terms across
opponents, so a model's TOTAL half-points (sum of n2 over its pairs,
which also bounds w2) must stay <= (2^63-1) / 10^12 ~ 9.2e6 or the
int64 arithmetic silently wraps under non-ANSI Spark.
bradley_terry_from_matrix asserts this bound in-plan before
iterating; shrink BT_FP_SCALE for denser arenas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_online_retail_spark.operators import joins
from etl_online_retail_spark.session import cut_lineage, cut_observed

OUTCOME_A = "a"
OUTCOME_B = "b"
OUTCOME_TIE = "tie"

BT_FP_SCALE = 10 ** 6
_S2 = BT_FP_SCALE * BT_FP_SCALE


def _valid(battles: DataFrame, a_col: str, b_col: str,
           outcome_col: str) -> DataFrame:
    return battles.filter(
        F.col(outcome_col).isin(OUTCOME_A, OUTCOME_B, OUTCOME_TIE)
        & F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
        & (F.col(a_col) != F.col(b_col)))


def pairwise_matrix(battles: DataFrame, a_col: str = "model_a",
                    b_col: str = "model_b",
                    outcome_col: str = "outcome") -> DataFrame:
    """Win/tie matrix at the unordered-pair grain: (m1, m2) with
    m1 < m2, m1_wins, m2_wins, ties, n_battles. Presentation order of
    the pair never changes the row (canonicalized by least/greatest
    BEFORE the aggregation, so both orderings land in one group).
    One map stage + one hash aggregation; only the canonical pair and
    the outcome ride the shuffle."""
    a, b, o = F.col(a_col), F.col(b_col), F.col(outcome_col)
    first_wins = ((a < b) & (o == OUTCOME_A)) | ((b < a) & (o == OUTCOME_B))
    second_wins = ((a < b) & (o == OUTCOME_B)) | ((b < a) & (o == OUTCOME_A))
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    return (_valid(battles, a_col, b_col, outcome_col)
            .select(F.least(a, b).alias("m1"),
                    F.greatest(a, b).alias("m2"),
                    F.when(first_wins, one).otherwise(zero).alias("_w1"),
                    F.when(second_wins, one).otherwise(zero).alias("_w2"),
                    F.when(o == OUTCOME_TIE, one).otherwise(zero)
                     .alias("_t"))
            .groupBy("m1", "m2")
            .agg(F.sum("_w1").alias("m1_wins"),
                 F.sum("_w2").alias("m2_wins"),
                 F.sum("_t").alias("ties"),
                 F.count(F.lit(1)).alias("n_battles")))


def model_records(battles: DataFrame, a_col: str = "model_a",
                  b_col: str = "model_b",
                  outcome_col: str = "outcome") -> DataFrame:
    """Per-model record: wins, losses, ties, n_battles, win_rate =
    (2*wins + ties) / (2*n_battles) — half-point units keep the
    numerator integer, the rate is ONE IEEE division of exact BIGINTs
    (cross-engine bit-exact, the gopher_quality_flags convention).
    Shape: each battle becomes two perspective rows via a tagged
    union (map-only), then one hash aggregation on the model."""
    v = _valid(battles, a_col, b_col, outcome_col)
    o = F.col(outcome_col)

    def side(model_col: str, win_val: str, lose_val: str) -> DataFrame:
        one = F.lit(1).cast("long")
        zero = F.lit(0).cast("long")
        return v.select(
            F.col(model_col).alias("model"),
            F.when(o == win_val, one).otherwise(zero).alias("_w"),
            F.when(o == lose_val, one).otherwise(zero).alias("_l"),
            F.when(o == OUTCOME_TIE, one).otherwise(zero).alias("_t"))

    both = side(a_col, OUTCOME_A, OUTCOME_B).unionByName(
        side(b_col, OUTCOME_B, OUTCOME_A))
    agg = both.groupBy("model").agg(
        F.sum("_w").alias("wins"), F.sum("_l").alias("losses"),
        F.sum("_t").alias("ties"), F.count(F.lit(1)).alias("n_battles"))
    return agg.withColumn(
        "win_rate",
        (2 * F.col("wins") + F.col("ties")).cast("double")
        / (2 * F.col("n_battles")))


def with_wilson_interval(records: DataFrame, z: float = 1.96,
                         rate_col: str = "win_rate",
                         n_col: str = "n_battles") -> DataFrame:
    """Wilson score interval columns (wilson_lo, wilson_hi) on a
    records relation — the leaderboard's error bars, so a 10-battle
    fluke never outranks a 10,000-battle grind. Pure map stage; the
    expression tree is mirrored operation-for-operation in the SQL
    twin (IEEE divisions/multiplies/sqrt are correctly rounded, so an
    identical tree is bit-exact cross-engine). Rows with n = 0 get
    NULL bounds."""
    p, n = F.col(rate_col), F.col(n_col).cast("double")
    z2 = z * z
    denom = F.lit(1.0) + F.lit(z2) / n
    center = (p + F.lit(z2) / (2 * n)) / denom
    half = (F.lit(z) / denom) * F.sqrt(
        p * (F.lit(1.0) - p) / n + F.lit(z2) / (4 * n * n))
    nz = F.col(n_col) > 0
    return (records
            .withColumn("wilson_lo", F.when(nz, center - half))
            .withColumn("wilson_hi", F.when(nz, center + half)))


def wilson_sql(z: float = 1.96, rate_expr: str = "win_rate",
               n_expr: str = "n_battles") -> tuple[str, str]:
    """The (wilson_lo, wilson_hi) SQL twins — SAME expression tree as
    with_wilson_interval, generated from the same z."""
    z2 = z * z
    n = f"CAST({n_expr} AS DOUBLE)"
    denom = f"(1.0 + {z2} / {n})"
    center = f"(({rate_expr} + {z2} / (2 * {n})) / {denom})"
    half = (f"(({z} / {denom}) * SQRT({rate_expr} * (1.0 - {rate_expr})"
            f" / {n} + {z2} / (4 * {n} * {n})))")
    guard = f"CASE WHEN {n_expr} > 0 THEN {{expr}} END"
    return (guard.format(expr=f"{center} - {half}"),
            guard.format(expr=f"{center} + {half}"))


def directed_from_matrix(matrix: DataFrame) -> DataFrame:
    """Both directions of a pairwise matrix, in half-point units:
    (model, opp, n2 = 2*battles, w2 = 2*wins + ties). The pair-grain
    relation every Bradley-Terry iteration re-reads. `matrix` is any
    relation with pairwise_matrix's schema — the live one, or a merged
    incremental one (streaming/ingest.py read_battle_matrix)."""
    fwd = matrix.select(
        F.col("m1").alias("model"), F.col("m2").alias("opp"),
        (2 * F.col("n_battles")).alias("n2"),
        (2 * F.col("m1_wins") + F.col("ties")).alias("w2"))
    rev = matrix.select(
        F.col("m2").alias("model"), F.col("m1").alias("opp"),
        (2 * F.col("n_battles")).alias("n2"),
        (2 * F.col("m2_wins") + F.col("ties")).alias("w2"))
    return fwd.unionByName(rev)


def records_from_matrix(matrix: DataFrame) -> DataFrame:
    """model_records recomputed from the PAIR-grain matrix instead of
    raw battles — same output schema and values. This is the serving
    path: a streamed matrix (dashboard-sized) feeds the leaderboard
    without ever re-reading the battle log."""
    w_f = matrix.select(F.col("m1").alias("model"),
                        F.col("m1_wins").alias("wins"),
                        F.col("m2_wins").alias("losses"),
                        "ties", "n_battles")
    w_r = matrix.select(F.col("m2").alias("model"),
                        F.col("m2_wins").alias("wins"),
                        F.col("m1_wins").alias("losses"),
                        "ties", "n_battles")
    agg = (w_f.unionByName(w_r).groupBy("model")
           .agg(F.sum("wins").alias("wins"),
                F.sum("losses").alias("losses"),
                F.sum("ties").alias("ties"),
                F.sum("n_battles").alias("n_battles")))
    return agg.withColumn(
        "win_rate",
        (2 * F.col("wins") + F.col("ties")).cast("double")
        / (2 * F.col("n_battles")))


def directed_pair_stats(battles: DataFrame, a_col: str = "model_a",
                        b_col: str = "model_b",
                        outcome_col: str = "outcome") -> DataFrame:
    """directed_from_matrix over the freshly aggregated battle log."""
    return directed_from_matrix(
        pairwise_matrix(battles, a_col, b_col, outcome_col))


def bradley_terry(battles: DataFrame, iters: int = 3,
                  a_col: str = "model_a", b_col: str = "model_b",
                  outcome_col: str = "outcome") -> DataFrame:
    """Bradley-Terry strengths via Hunter's MM updates, fixed-point:

        p_i <- max(1, (W2_i * S^2) div sum_j (N2_ij * S^2 div (p_i+p_j)))

    from uniform init p = S (= BT_FP_SCALE), W2/N2 in half-point units
    (ties = one half-point each side). All arithmetic is int64 with
    truncating division — deterministic and identical in ANSI SQL
    (x div y / x // y truncate for positive operands), so a fixed
    `iters` hash-verifies against an unrolled CTE oracle. The max(1,.)
    clamp keeps a never-scoring model's strength at the smallest
    positive unit instead of poisoning later divisions with zero.

    Returns (model, bt_fp BIGINT, bt_score DOUBLE = bt_fp / S); scores
    are odds-scale (X beating Y 5:1 in half-points converges to a 5:1
    score ratio). Iteration cost: two joins against the score relation
    (size-guarded broadcast) + one sum per model — pair-grain only,
    the battle table is read exactly once."""
    return bradley_terry_from_matrix(
        pairwise_matrix(battles, a_col, b_col, outcome_col), iters=iters)


def bradley_terry_from_matrix(matrix: DataFrame,
                              iters: int = 3) -> DataFrame:
    """The bradley_terry iteration over an already-aggregated pairwise
    matrix — the serving path for a streamed matrix
    (read_battle_matrix): leaderboard refresh cost is pair-grain,
    independent of the battle log size.

    Overflow guard (r13 advice): a model whose TOTAL half-points
    exceed (2^63-1) / S^2 would silently wrap the int64 MM numerator/
    denominator; the per-model bound is asserted in-plan (raise_error)
    when the w relation is cut, before any iteration.

    State is cut, never cached. Each round broadcasts its per-model
    relations by the model count observed on w's cut: a cut's size
    estimate compounds (1.55e33 bytes for 7 rows by round 2)."""
    max_n2_per_model = (2 ** 63 - 1) // _S2
    d = cut_lineage(directed_from_matrix(matrix))
    w, m = cut_observed(
        d.groupBy("model")
        .agg(F.sum("w2").alias("_w2"), F.sum("n2").alias("_n2"))
        .select("model",
                F.when(F.col("_n2") <= max_n2_per_model, F.col("_w2"))
                 .otherwise(F.raise_error(F.concat(
                     F.lit("bradley_terry: model "), F.col("model"),
                     F.lit(f" holds more than {max_n2_per_model} "
                           "half-points — int64 fixed-point would "
                           "overflow; shrink BT_FP_SCALE"))))
                 .alias("w2")),
        F.count(F.lit(1)).alias("n"))
    n_models = m["n"]
    scores = w.select("model",
                      F.lit(BT_FP_SCALE).cast("long").alias("bt_fp"))
    for _ in range(iters):
        sc = joins.size_guarded_broadcast(scores, rows=n_models)
        t = (d.join(sc.select(F.col("model"), F.col("bt_fp").alias("_pi")),
                    "model")
             .join(sc.select(F.col("model").alias("opp"),
                             F.col("bt_fp").alias("_pj")), "opp"))
        term = F.expr(f"n2 * {_S2}L div (_pi + _pj)")
        denom = t.groupBy("model").agg(F.sum(term).alias("_d"))
        # a cached round would embed the previous round's plan and pin
        # a cache entry for the session
        scores = cut_lineage(
            w.join(joins.size_guarded_broadcast(denom, rows=n_models),
                   "model")
            .select("model",
                    F.greatest(F.lit(1).cast("long"),
                               F.expr(f"w2 * {_S2}L div _d"))
                    .alias("bt_fp")))
    return scores.withColumn(
        "bt_score", F.col("bt_fp").cast("double") / F.lit(BT_FP_SCALE))


def bradley_terry_oracle(battles_cte: str, iters: int = 3) -> str:
    """The unrolled SQL twin: `battles_cte` must be a CTE body yielding
    (model_a, model_b, outcome). Generated from the same constants as
    the Spark side so the two can never drift."""
    s, s2 = BT_FP_SCALE, _S2
    pm = """
pm AS (SELECT LEAST(model_a, model_b) AS m1,
              GREATEST(model_a, model_b) AS m2,
              SUM(CASE WHEN (model_a < model_b AND outcome = 'a')
                         OR (model_b < model_a AND outcome = 'b')
                       THEN 1 ELSE 0 END)::BIGINT AS m1_wins,
              SUM(CASE WHEN (model_a < model_b AND outcome = 'b')
                         OR (model_b < model_a AND outcome = 'a')
                       THEN 1 ELSE 0 END)::BIGINT AS m2_wins,
              SUM(CASE WHEN outcome = 'tie' THEN 1 ELSE 0 END)::BIGINT
                  AS ties,
              COUNT(*) AS n_battles
       FROM b
       WHERE outcome IN ('a', 'b', 'tie')
         AND model_a IS NOT NULL AND model_b IS NOT NULL
         AND model_a <> model_b
       GROUP BY 1, 2),
d AS (SELECT m1 AS model, m2 AS opp, 2 * n_battles AS n2,
             2 * m1_wins + ties AS w2 FROM pm
      UNION ALL
      SELECT m2, m1, 2 * n_battles, 2 * m2_wins + ties FROM pm),
w AS (SELECT model, SUM(w2) AS w2 FROM d GROUP BY model)"""
    prev = f"p0 AS (SELECT model, {s}::BIGINT AS fp FROM w)"
    steps = [prev]
    for i in range(1, iters + 1):
        steps.append(f"""
p{i} AS (SELECT d.model,
              CAST(GREATEST(1,
                       w.w2 * {s2}::BIGINT
                       // SUM(d.n2 * {s2}::BIGINT // (pi.fp + pj.fp)))
                   AS BIGINT) AS fp
       FROM d
       JOIN p{i - 1} pi ON d.model = pi.model
       JOIN p{i - 1} pj ON d.opp = pj.model
       JOIN w ON d.model = w.model
       GROUP BY d.model, w.w2)""")
    return (f"WITH b AS ({battles_cte}),{pm},\n"
            + ",\n".join(steps)
            + f"\nSELECT model, fp AS bt_fp,"
              f" CAST(fp AS DOUBLE) / {s} AS bt_score FROM p{iters}")


def position_bias(battles: DataFrame, a_col: str = "model_a",
                  b_col: str = "model_b",
                  outcome_col: str = "outcome") -> DataFrame:
    """First-position advantage audit — the standard judge check next
    to verbosity bias: over all valid battles, how often does the
    FIRST-presented side win? One hash aggregation; exact BIGINT
    counts, rates and gap as single IEEE divisions. A symmetric judge
    has position_gap ~ 0; a persistent positive gap means the
    presentation order leaks into the judgment and battle orders must
    be randomized (or pairs judged both ways).

    Output: one row — n_battles, a_wins, b_wins, ties, a_win_rate,
    b_win_rate, position_gap = (a_wins - b_wins) / n_battles."""
    o = F.col(outcome_col)
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    agg = (_valid(battles, a_col, b_col, outcome_col)
           .agg(F.count(F.lit(1)).alias("n_battles"),
                F.sum(F.when(o == OUTCOME_A, one).otherwise(zero))
                 .alias("a_wins"),
                F.sum(F.when(o == OUTCOME_B, one).otherwise(zero))
                 .alias("b_wins"),
                F.sum(F.when(o == OUTCOME_TIE, one).otherwise(zero))
                 .alias("ties")))
    n = F.col("n_battles")
    return (agg
            .withColumn("a_win_rate",
                        F.when(n > 0,
                               F.col("a_wins").cast("double") / n))
            .withColumn("b_win_rate",
                        F.when(n > 0,
                               F.col("b_wins").cast("double") / n))
            .withColumn("position_gap",
                        F.when(n > 0,
                               (F.col("a_wins") - F.col("b_wins"))
                               .cast("double") / n)))

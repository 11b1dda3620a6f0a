"""Extension workload: the large-scale training-data operators.

Dedup family (exact / Jaccard / MinHash+LSH / SimHash), similarity search
(brute-force + LSH-bucketed cosine), text analysis (lang-id, quality,
tokens, fingerprints), multimodal binary plumbing. Registered into the same
registry as workload.py; every oracle is generated from the SAME Python
constants (hash families, hyperplanes, stopword lists) as the Spark side,
so the two can never drift.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_online_retail_spark.functions.hashing import (
    PRIME,
    hash_family,
    minhash_signature_sql,
    poly_hash_sql,
)
from etl_online_retail_spark.functions.text import (
    STOPWORDS,
    bpe_ish_token_count,
    bpe_ish_token_count_sql,
    normalize_sql,
    punct_ratio,
    punct_ratio_sql,
    stopword_ratio,
    stopword_ratio_sql,
    token_count,
    token_count_sql,
    word_ngrams_all_sql,
    word_shingle_hashes_all_sql,
    word_shingle_hashes_sql,
)
from etl_online_retail_spark.functions.vectors import (
    cosine_sql,
    int_dot_sql,
    int_l2_sql,
    int_vec_sql,
)
from etl_online_retail_spark.multimodal.binary import (
    binary_features,
    image_features,
    synthetic_png_media,
    to_media_table,
)
from etl_online_retail_spark.operators import dedup, similarity
from etl_online_retail_spark.workload import _t, register

# shared construction parameters (Spark defaults == these)
SHINGLE_N = 2           # word 2-grams
MINHASH_K = 16
MINHASH_BANDS = 4
JACCARD_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 3
KNN_K = 5
KNN_QUERY_MOD = 50      # query set = vec_id % 50 == 0
COS_THRESHOLD = 0.4
LSH_PLANES = 4
EMB_DIMS = 64

_SH = word_shingle_hashes_sql("text", SHINGLE_N)
_NORM = normalize_sql("text")

# Canonical shingled-documents relation shared by every shingle oracle
# (jaccard, minhash, 2x simhash, 2x clusters, curation). The portable
# per-character hash fold costs 10-60 s per evaluation at sf0.01 in DuckDB;
# inlined, the 7 oracles each pay it. The LOCAL gate materializes this
# exact body once as a temp table (materialize_oracle_tables) and
# substitutes it textually (localize_oracle) — equivalence is by
# construction, the driver still receives the fully portable inline form.
SH_BODY = f"SELECT doc_id AS _id, {_SH} AS _sh FROM documents"

# Canonical tokenized-corpus relation (one row per term occurrence),
# shared by the BM25/TF-IDF oracles; the local gate materializes it once
# (same mechanism as the shingle bodies below).
TOK_BODY = (
    "SELECT doc_id, unnest(regexp_split_to_array(trim("
    f"{_NORM}), '\\s+')) AS term\n"
    f"  FROM documents WHERE trim({_NORM}) <> ''")


# ---------------------------------------------------------------------------
# dedup: exact

@register(
    "exact_dup_groups",
    f"SELECT {poly_hash_sql(_NORM)} AS fp, md5({_NORM}) AS content_md5, "
    "MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies "
    "FROM documents GROUP BY 1, 2",
    "M6-dedup-exact",
)
def q_exact_dup_groups(spark, sf_dir):
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"))


# dedup: exact n-gram Jaccard

_JACCARD_ORACLE = f"""
WITH sh AS ({SH_BODY}),
e AS (SELECT _id, unnest(_sh) AS _h, len(_sh) AS _size FROM sh)
SELECT id_a, id_b, jaccard FROM (
  SELECT a._id AS id_a, b._id AS id_b,
         COUNT(*)::DOUBLE
           / (a._size + b._size - COUNT(*))::DOUBLE AS jaccard
  FROM e a JOIN e b ON a._h = b._h AND a._id < b._id
  GROUP BY a._id, b._id, a._size, b._size)
WHERE jaccard >= {JACCARD_THRESHOLD}
"""


@register("jaccard_near_dups", _JACCARD_ORACLE, "M6-dedup-jaccard")
def q_jaccard_near_dups(spark, sf_dir):
    # max_shingle_df pinned None: this query is hash-compared against the
    # UNCAPPED DuckDB oracle above, so the auto skew-cap must never engage
    # here regardless of corpus size. Scale callers opt into "auto".
    return dedup.jaccard_pairs(_t(spark, sf_dir, "documents"),
                               n=SHINGLE_N, threshold=JACCARD_THRESHOLD,
                               max_shingle_df=None)


# dedup: MinHash + LSH banding, exact-verified

def _band_cols_sql() -> str:
    """The banded-signature projection shared by every minhash oracle."""
    rows = MINHASH_K // MINHASH_BANDS
    return ", ".join(
        " || '_' || ".join(f"_sig[{i * rows + j + 1}]::VARCHAR" for j in range(rows))
        + f" AS _band{i}"
        for i in range(MINHASH_BANDS)
    )


def _minhash_cte_block() -> str:
    """The shared CTE chain: shingles -> signatures -> bands -> verified
    near-dup pairs. Reused by the minhash query and the curation pipeline."""
    band_cols = _band_cols_sql()
    cand_union = " UNION ".join(
        f"SELECT a._id AS id_a, b._id AS id_b FROM banded a "
        f"JOIN banded b ON a._band{i} = b._band{i} AND a._id < b._id"
        for i in range(MINHASH_BANDS)
    )
    return f"""sh AS ({SH_BODY}),
sized AS (SELECT _id, _sh, len(_sh) AS _size FROM sh WHERE len(_sh) > 0),
sig AS (SELECT _id, _sh, _size,
        {minhash_signature_sql('_sh', MINHASH_K)} AS _sig FROM sized),
banded AS (SELECT _id, _sh, _size, {band_cols} FROM sig),
cands AS ({cand_union}),
neardup_pairs AS (
  SELECT id_a, id_b, jaccard FROM (
    SELECT c.id_a, c.id_b,
           len(list_intersect(a._sh, b._sh))::DOUBLE
             / (a._size + b._size - len(list_intersect(a._sh, b._sh)))::DOUBLE
             AS jaccard
    FROM (SELECT DISTINCT id_a, id_b FROM cands) c
    JOIN banded a ON a._id = c.id_a
    JOIN banded b ON b._id = c.id_b)
  WHERE jaccard >= {JACCARD_THRESHOLD})"""


def _minhash_oracle() -> str:
    return f"WITH {_minhash_cte_block()} SELECT id_a, id_b, jaccard FROM neardup_pairs"


@register("minhash_near_dups", _minhash_oracle(), "M6-dedup-minhash-lsh")
def q_minhash_near_dups(spark, sf_dir):
    return dedup.minhash_near_duplicates(
        _t(spark, sf_dir, "documents"),
        n=SHINGLE_N, k=MINHASH_K, bands=MINHASH_BANDS,
        threshold=JACCARD_THRESHOLD)


# dedup: the LSH-parameter calibration scorecard (candidates vs exact
# ground truth) — precision is wasted verification, recall is the
# banding's reachable-pair ceiling

def _calibration_oracle() -> str:
    return f"""
WITH {_minhash_cte_block()},
e AS (SELECT _id, unnest(_sh) AS _h, len(_sh) AS _size FROM sh),
exact AS (
  SELECT id_a, id_b FROM (
    SELECT a._id AS id_a, b._id AS id_b,
           COUNT(*)::DOUBLE
             / (a._size + b._size - COUNT(*))::DOUBLE AS jaccard
    FROM e a JOIN e b ON a._h = b._h AND a._id < b._id
    GROUP BY a._id, b._id, a._size, b._size)
  WHERE jaccard >= {JACCARD_THRESHOLD}),
c2 AS (SELECT DISTINCT id_a, id_b FROM cands),
ne AS (SELECT COUNT(*) AS n_exact FROM exact),
nc AS (SELECT COUNT(*) AS n_candidates FROM c2),
nt AS (SELECT COUNT(*) AS n_true
       FROM c2 JOIN exact USING (id_a, id_b))
SELECT n_exact, n_candidates, n_true,
       CASE WHEN n_candidates > 0
            THEN CAST(n_true AS DOUBLE) / CAST(n_candidates AS DOUBLE)
       END AS precision,
       CASE WHEN n_exact > 0
            THEN CAST(n_true AS DOUBLE) / CAST(n_exact AS DOUBLE)
       END AS recall
FROM ne, nc, nt
"""


@register("minhash_calibration", _calibration_oracle(),
          "M6-dedup-minhash-calibration")
def q_minhash_calibration(spark, sf_dir):
    return dedup.minhash_calibration(
        _t(spark, sf_dir, "documents"),
        n=SHINGLE_N, k=MINHASH_K, bands=MINHASH_BANDS,
        threshold=JACCARD_THRESHOLD)


# dedup: the INCREMENTAL shape — a new batch (doc_id % 10 = 0 stands in
# for today's crawl slice) probed against the already-retained corpus's
# band index. Work ∝ |new| x collisions, never a corpus self-join; at
# 100 TB the index side is the staged parquet previous loads appended.

def _incremental_oracle() -> str:
    cand_union = " UNION ".join(
        f"SELECT p._id AS new_id, i._id AS corpus_id FROM probe p "
        f"JOIN idx i ON p._band{b} = i._band{b}"
        for b in range(MINHASH_BANDS)
    )
    return f"""
WITH sh AS ({SH_BODY}),
sized AS (SELECT _id, _sh, len(_sh) AS _size FROM sh WHERE len(_sh) > 0),
sig AS (SELECT _id, _sh, _size,
        {minhash_signature_sql('_sh', MINHASH_K)} AS _sig FROM sized),
banded AS (SELECT _id, _sh, _size, {_band_cols_sql()} FROM sig),
probe AS (SELECT * FROM banded WHERE _id % 10 = 0),
idx AS (SELECT * FROM banded WHERE _id % 10 <> 0),
cands AS ({cand_union})
SELECT new_id, corpus_id, jaccard FROM (
  SELECT c.new_id, c.corpus_id,
         len(list_intersect(a._sh, b._sh))::DOUBLE
           / (a._size + b._size - len(list_intersect(a._sh, b._sh)))::DOUBLE
           AS jaccard
  FROM (SELECT DISTINCT new_id, corpus_id FROM cands) c
  JOIN probe a ON a._id = c.new_id
  JOIN idx b ON b._id = c.corpus_id)
WHERE jaccard >= {JACCARD_THRESHOLD}"""


@register("incremental_near_dups", _incremental_oracle(),
          "M6-dedup-incremental")
def q_incremental_near_dups(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    new_batch = docs.filter(F.col("doc_id") % 10 == 0)
    return dedup.incremental_near_duplicates(
        corpus, new_batch, n=SHINGLE_N, k=MINHASH_K, bands=MINHASH_BANDS,
        threshold=JACCARD_THRESHOLD)


# dedup: SimHash signatures + hamming-banded near-dup pairs

def _simhash_expr_sql() -> str:
    bits = []
    for b in range(dedup.SIMHASH_BITS):
        vote = (f"coalesce(list_sum(list_transform(_sh, "
                f"h -> 2 * ((h >> {b}) & 1) - 1)), 0)")
        bits.append(f"CASE WHEN {vote} > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END")
    return " + ".join(bits)


_SIMHASH_SIG_ORACLE = f"""
WITH sh AS ({SH_BODY})
SELECT _id AS doc_id, {_simhash_expr_sql()} AS simhash FROM sh
"""


@register("simhash_signatures", _SIMHASH_SIG_ORACLE, "M6-dedup-simhash")
def q_simhash_signatures(spark, sf_dir):
    return dedup.simhash(_t(spark, sf_dir, "documents"), n=SHINGLE_N)


def _simhash_pairs_oracle() -> str:
    blocks = dedup.SIMHASH_BITS // 8
    cand_union = " UNION ".join(
        f"SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS sim_a, "
        f"b.simhash AS sim_b FROM sigs a JOIN sigs b "
        f"ON ((a.simhash >> {i * 8}) & 255) = ((b.simhash >> {i * 8}) & 255) "
        f"AND a.doc_id < b.doc_id"
        for i in range(blocks)
    )
    return f"""
WITH sh AS ({SH_BODY}),
sigs AS (SELECT _id AS doc_id, {_simhash_expr_sql()} AS simhash FROM sh),
cands AS ({cand_union})
SELECT id_a, id_b, CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
FROM (SELECT DISTINCT id_a, id_b, sim_a, sim_b FROM cands)
WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_MAX_HAMMING}
"""


@register("simhash_near_dups", _simhash_pairs_oracle(), "M6-dedup-simhash")
def q_simhash_near_dups(spark, sf_dir):
    pairs = dedup.simhash_near_duplicates(
        _t(spark, sf_dir, "documents"), n=SHINGLE_N,
        max_hamming=SIMHASH_MAX_HAMMING)
    return pairs.withColumn("hamming", F.col("hamming").cast("int"))


# dedup: duplicate clusters = connected components over near-dup pairs.
# Oracle: recursive CTE computing min reachable id per node - exact
# transitive closure, fine at oracle scale; the Spark side is the
# iterative label-propagation operator.

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_minhash_cte_block()},
edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM neardup_pairs
          UNION SELECT id_b, id_a FROM neardup_pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node AS root, node AS reached FROM nodes
  UNION
  SELECT r.root, e.dst FROM reach r JOIN edges e ON e.src = r.reached)
SELECT root AS doc_id, MIN(reached) AS cluster_id FROM reach GROUP BY root
"""


@register("duplicate_clusters", _CLUSTERS_ORACLE, "M6-dedup-clusters")
def q_duplicate_clusters(spark, sf_dir):
    pairs = dedup.minhash_near_duplicates(
        _t(spark, sf_dir, "documents"),
        n=SHINGLE_N, k=MINHASH_K, bands=MINHASH_BANDS,
        threshold=JACCARD_THRESHOLD)
    return dedup.duplicate_clusters(pairs)


# Same contract, star-contraction algorithm (O(log^2 n) rounds — the
# adversarial-graph scale path, ROADMAP r1 #6): shares the oracle, so the
# driver proves both algorithms produce identical components.
@register("duplicate_clusters_star", _CLUSTERS_ORACLE, "M6-dedup-clusters-star")
def q_duplicate_clusters_star(spark, sf_dir):
    pairs = dedup.minhash_near_duplicates(
        _t(spark, sf_dir, "documents"),
        n=SHINGLE_N, k=MINHASH_K, bands=MINHASH_BANDS,
        threshold=JACCARD_THRESHOLD)
    return dedup.duplicate_clusters_star(pairs)


# dedup retention: keep the highest-QUALITY member of each near-dup
# cluster (ties -> min doc id), singletons keeping themselves — the
# policy real pipelines apply after clustering, beside curate_corpus's
# dominant-id rule. Quality is the shared oracle-exact formula, so the
# float ordering is cross-engine deterministic. NOTE: the oracle's
# _QUALITY_SQL is defined near corpus_curation below; defer via lambda
# would complicate register, so the expression is repeated inline here
# from the same *_sql building blocks (drift-safe: both are pure
# functions of the same constants).

_RETENTION_ORACLE = f"""
WITH RECURSIVE {_minhash_cte_block()},
edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM neardup_pairs
          UNION SELECT id_b, id_a FROM neardup_pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node AS root, node AS reached FROM nodes
  UNION
  SELECT r.root, e.dst FROM reach r JOIN edges e ON e.src = r.reached),
comp AS (SELECT root AS doc_id, MIN(reached) AS cluster_id
         FROM reach GROUP BY root),
scored AS (SELECT doc_id,
                  (0.5 * ({stopword_ratio_sql('text', 'en')})
                   + 0.3 * least({token_count_sql('text')} / 100.0, 1.0)
                   + 0.2 * (1.0 - ({punct_ratio_sql('text')}))) AS quality
           FROM documents),
labeled AS (SELECT s.doc_id, COALESCE(c.cluster_id, s.doc_id) AS cluster_id,
                   s.quality
            FROM scored s LEFT JOIN comp c ON c.doc_id = s.doc_id)
SELECT cluster_id, doc_id, quality, n_members FROM (
  SELECT cluster_id, doc_id, quality,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY quality DESC, doc_id ASC) AS rn
  FROM labeled)
WHERE rn = 1"""


@register("dedup_retention", _RETENTION_ORACLE, "M6-dedup-retention")
def q_dedup_retention(spark, sf_dir):
    from etl_online_retail_spark.operators.curation import (
        cluster_representatives,
    )

    return cluster_representatives(
        _t(spark, sf_dir, "documents"), n=SHINGLE_N, k=MINHASH_K,
        bands=MINHASH_BANDS, threshold=JACCARD_THRESHOLD)


# dedup telemetry: the per-source duplication scorecard every curation
# dashboard tracks — exact-copy rate (non-canonical members of a
# fingerprint group) and near-dup domination rate (dominated side of a
# verified pair) per source. Integer counts + single IEEE divisions.

_DUP_RATE_ORACLE = f"""
WITH {_minhash_cte_block()},
canon AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM})),
dominated AS (SELECT DISTINCT id_b AS doc_id FROM neardup_pairs),
per_doc AS (
  SELECT d.source, d.doc_id,
         CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END AS is_exact_dup,
         CASE WHEN dm.doc_id IS NULL THEN 0 ELSE 1 END AS is_dominated
  FROM documents d
  LEFT JOIN canon c ON c.doc_id = d.doc_id
  LEFT JOIN dominated dm ON dm.doc_id = d.doc_id)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(is_exact_dup) AS BIGINT) AS n_exact_dups,
  CAST(SUM(is_dominated) AS BIGINT) AS n_near_dominated,
  CAST(SUM(is_exact_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
    AS exact_dup_rate,
  CAST(SUM(is_dominated) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
    AS near_dup_rate
FROM per_doc GROUP BY source"""


@register("dup_rate_by_source", _DUP_RATE_ORACLE, "M6-dedup-telemetry")
def q_dup_rate_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").cache()
    canon = (dedup.exact_duplicates(docs)
             .select(F.col("canonical_id").alias("doc_id"))
             .withColumn("_canon", F.lit(1)))
    dominated = (dedup.minhash_near_duplicates(
                     docs, n=SHINGLE_N, k=MINHASH_K, bands=MINHASH_BANDS,
                     threshold=JACCARD_THRESHOLD)
                 .select(F.col("id_b").alias("doc_id")).distinct()
                 .withColumn("_dom", F.lit(1)))
    per_doc = (docs.select("source", "doc_id")
               .join(canon, "doc_id", "left")
               .join(dominated, "doc_id", "left")
               .select("source",
                       F.when(F.col("_canon").isNull(), 1).otherwise(0)
                        .alias("is_exact_dup"),
                       F.coalesce(F.col("_dom"), F.lit(0))
                        .alias("is_dominated")))
    n = F.count(F.lit(1))
    return (per_doc.groupBy("source")
            .agg(n.alias("n_docs"),
                 F.sum("is_exact_dup").alias("n_exact_dups"),
                 F.sum("is_dominated").alias("n_near_dominated"),
                 (F.sum("is_exact_dup").cast("double") / n.cast("double"))
                 .alias("exact_dup_rate"),
                 (F.sum("is_dominated").cast("double") / n.cast("double"))
                 .alias("near_dup_rate")))


# ---------------------------------------------------------------------------
# text analysis

_LANGS = list(STOPWORDS)  # ordered: en, de, fr, es (tie-break order)


def _langid_pred_sql() -> str:
    ratios = {lang: stopword_ratio_sql("text", lang) for lang in _LANGS}
    clauses = []
    for i, lang in enumerate(_LANGS[:-1]):
        conds = " AND ".join(
            f"({ratios[lang]}) >= ({ratios[other]})" for other in _LANGS[i + 1:]
        )
        clauses.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{_LANGS[-1]}' END"


@register(
    "lang_id",
    "SELECT doc_id, "
    + ", ".join(f"({stopword_ratio_sql('text', lang)}) AS r_{lang}"
                for lang in _LANGS)
    + f", {_langid_pred_sql()} AS pred_lang FROM documents",
    "M6-text-langid",
)
def q_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    ratios = {lang: stopword_ratio("text", lang) for lang in _LANGS}
    pred = None
    for i, lang in enumerate(_LANGS[:-1]):
        cond = None
        for other in _LANGS[i + 1:]:
            c = ratios[lang] >= ratios[other]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    pred = pred.otherwise(_LANGS[-1])
    return docs.select(
        "doc_id",
        *[ratios[lang].alias(f"r_{lang}") for lang in _LANGS],
        pred.alias("pred_lang"),
    )


@register(
    "doc_quality",
    f"SELECT doc_id, {token_count_sql('text')} AS n_tokens, "
    f"({punct_ratio_sql('text')}) AS punct_ratio, "
    f"({stopword_ratio_sql('text', 'en')}) AS stopword_ratio, "
    f"(0.5 * ({stopword_ratio_sql('text', 'en')}) "
    f" + 0.3 * least({token_count_sql('text')} / 100.0, 1.0) "
    f" + 0.2 * (1.0 - ({punct_ratio_sql('text')}))) AS quality "
    "FROM documents",
    "M6-text-quality",
)
def q_doc_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    nt = token_count("text")
    pr = punct_ratio("text")
    sr = stopword_ratio("text", "en")
    quality = (F.lit(0.5) * sr
               + F.lit(0.3) * F.least(nt / F.lit(100.0), F.lit(1.0))
               + F.lit(0.2) * (F.lit(1.0) - pr))
    return docs.select("doc_id", nt.alias("n_tokens"), pr.alias("punct_ratio"),
                       sr.alias("stopword_ratio"), quality.alias("quality"))


# Gopher rule battery (Rae et al. 2021 table A1): per-rule boolean flags
# + the conjunction, beside doc_quality's scalar score. All integer
# counting + single IEEE divisions — bit-exact cross-engine. The
# registered run lowers min_stopwords to 1: the synthetic corpus
# vocabulary carries exactly one stopword TYPE ('the'), so the spec's
# >=2-distinct rule would be constant-false here (the operator default
# stays at the paper's 2).

GOPHER_MIN_STOPWORDS_Q = 1


def _gopher_oracle() -> str:
    from etl_online_retail_spark.operators import curation as _cur

    stoplist = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    n = token_count_sql("text")
    return f"""
WITH m AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\\s+') AS toks,
         {n} AS n,
         regexp_split_to_array(trim({_NORM}), '\\s+') AS ntoks
  FROM documents),
f AS (
  SELECT doc_id, n,
    CASE WHEN n = 0 THEN 0.0
         ELSE CAST(list_sum(list_transform(toks, x -> strlen(x))) AS DOUBLE)
              / CAST(n AS DOUBLE) END AS mean_word_len,
    CASE WHEN n = 0 THEN 0.0
         ELSE CAST(strlen(text) - strlen(replace(text, '#', ''))
                   + CAST((strlen(text)
                           - strlen(replace(text, '...', ''))) / 3 AS INTEGER)
                   AS DOUBLE) / CAST(n AS DOUBLE) END AS symbol_ratio,
    CASE WHEN n = 0 THEN 0.0
         ELSE CAST(len(list_filter(toks,
                        x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
              / CAST(n AS DOUBLE) END AS alpha_ratio,
    CAST(len(list_intersect(list_distinct(ntoks), [{stoplist}]))
         AS INTEGER) AS n_stopwords
  FROM m)
SELECT doc_id, n AS n_tokens, mean_word_len, symbol_ratio, alpha_ratio,
  n_stopwords,
  (n >= {_cur.GOPHER_MIN_WORDS} AND n <= {_cur.GOPHER_MAX_WORDS})
    AS word_count_ok,
  (n > 0 AND mean_word_len >= {_cur.GOPHER_MIN_MEAN_WORD_LEN}
         AND mean_word_len <= {_cur.GOPHER_MAX_MEAN_WORD_LEN})
    AS mean_word_len_ok,
  (symbol_ratio <= {_cur.GOPHER_MAX_SYMBOL_RATIO}) AS symbol_ratio_ok,
  (n > 0 AND alpha_ratio >= {_cur.GOPHER_MIN_ALPHA_RATIO}) AS alpha_ratio_ok,
  (n_stopwords >= {GOPHER_MIN_STOPWORDS_Q}) AS stopword_ok,
  ((n >= {_cur.GOPHER_MIN_WORDS} AND n <= {_cur.GOPHER_MAX_WORDS})
   AND (n > 0 AND mean_word_len >= {_cur.GOPHER_MIN_MEAN_WORD_LEN}
            AND mean_word_len <= {_cur.GOPHER_MAX_MEAN_WORD_LEN})
   AND symbol_ratio <= {_cur.GOPHER_MAX_SYMBOL_RATIO}
   AND (n > 0 AND alpha_ratio >= {_cur.GOPHER_MIN_ALPHA_RATIO})
   AND n_stopwords >= {GOPHER_MIN_STOPWORDS_Q}) AS passes_gopher
FROM f"""


@register("gopher_quality_flags", _gopher_oracle(), "M6-text-quality-gopher")
def q_gopher_quality_flags(spark, sf_dir):
    from etl_online_retail_spark.operators.curation import (
        gopher_quality_flags,
    )

    return gopher_quality_flags(_t(spark, sf_dir, "documents"),
                                min_stopwords=GOPHER_MIN_STOPWORDS_Q)


@register(
    "token_stats_by_source",
    f"SELECT source, COUNT(*) AS n_docs, "
    f"CAST(SUM({token_count_sql('text')}) AS BIGINT) AS total_tokens, "
    f"CAST(SUM({token_count_sql('text')}) AS DOUBLE) / COUNT(*) AS avg_tokens "
    "FROM documents GROUP BY source",
    "M6-text-tokens",
)
def q_token_stats_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(token_count("text")).alias("total_tokens"),
                 (F.sum(token_count("text")).cast("double")
                  / F.count(F.lit(1))).alias("avg_tokens")))


# n-gram diversity (distinct-1/distinct-2): the corpus-diversity metric
# synthetic-data and dedup pipelines watch — a source whose distinct-2
# ratio collapses is template-generated or over-duplicated. Two hash
# aggs per n; ratios are single IEEE divisions of exact counts.

_DIVERSITY_ORACLE = f"""
WITH base AS (
  SELECT source, {_NORM} AS norm FROM documents WHERE {_NORM} <> ''),
uni AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n1,
         CAST(COUNT(DISTINCT g) AS BIGINT) AS d1
  FROM (SELECT source, unnest(regexp_split_to_array(norm, '\\s+')) AS g
        FROM base) GROUP BY source),
bi AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n2,
         CAST(COUNT(DISTINCT g) AS BIGINT) AS d2
  FROM (SELECT source, unnest({word_ngrams_all_sql('norm', SHINGLE_N)}) AS g
        FROM base) GROUP BY source)
SELECT source, n1 AS total_unigrams, d1 AS distinct_unigrams,
  COALESCE(n2, 0::BIGINT) AS total_bigrams,
  COALESCE(d2, 0::BIGINT) AS distinct_bigrams,
  CAST(d1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS distinct_1,
  CASE WHEN COALESCE(n2, 0::BIGINT) > 0
       THEN CAST(d2 AS DOUBLE) / CAST(n2 AS DOUBLE) END AS distinct_2
FROM uni LEFT JOIN bi USING (source)"""


@register("ngram_diversity_by_source", _DIVERSITY_ORACLE,
          "M6-text-diversity")
def q_ngram_diversity_by_source(spark, sf_dir):
    from etl_online_retail_spark.functions.text import (
        normalize,
        tokens,
        word_ngrams_all_of_tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    base = (docs.withColumn("_norm", normalize("text"))
            .filter(F.col("_norm") != "")
            .select("source", tokens(F.col("_norm")).alias("_t"))
            .cache())  # feeds both n-gram scans (rule 7)
    uni = (base.select("source", F.explode("_t").alias("g"))
           .groupBy("source")
           .agg(F.count(F.lit(1)).alias("total_unigrams"),
                F.countDistinct("g").alias("distinct_unigrams")))
    bi = (base.select("source",
                      F.explode(word_ngrams_all_of_tokens(F.col("_t"),
                                                          SHINGLE_N))
                      .alias("g"))
          .groupBy("source")
          .agg(F.count(F.lit(1)).alias("_n2"),
               F.countDistinct("g").alias("_d2")))
    d2 = (F.when(F.coalesce(F.col("_n2"), F.lit(0)) > 0,
                 F.col("_d2").cast("double") / F.col("_n2").cast("double")))
    return (uni.join(bi, "source", "left")
            .select("source", "total_unigrams", "distinct_unigrams",
                    F.coalesce(F.col("_n2"), F.lit(0).cast("bigint"))
                     .alias("total_bigrams"),
                    F.coalesce(F.col("_d2"), F.lit(0).cast("bigint"))
                     .alias("distinct_bigrams"),
                    (F.col("distinct_unigrams").cast("double")
                     / F.col("total_unigrams").cast("double"))
                    .alias("distinct_1"),
                    d2.alias("distinct_2")))


@register(
    "bpe_token_counts",
    f"SELECT doc_id, {bpe_ish_token_count_sql('text')} AS n_pretokens, "
    f"{token_count_sql('text')} AS n_ws_tokens FROM documents",
    "M6-text-bpe-tokens",
)
def q_bpe_token_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       bpe_ish_token_count("text").alias("n_pretokens"),
                       token_count("text").alias("n_ws_tokens"))


@register(
    "corpus_vocabulary",
    # explode-then-aggregate: the corpus word-frequency table (top 50)
    f"WITH toks AS (SELECT unnest(regexp_split_to_array({_NORM}, '\\s+')) "
    "AS word FROM documents) "
    "SELECT word, COUNT(*) AS freq FROM toks WHERE word <> '' "
    "GROUP BY word ORDER BY freq DESC, word LIMIT 50",
    "M6-text-vocab",
)
def q_corpus_vocabulary(spark, sf_dir):
    from etl_online_retail_spark.functions.text import normalize, tokens

    docs = _t(spark, sf_dir, "documents")
    return (docs.select(F.explode(tokens(normalize("text"))).alias("word"))
                .filter(F.col("word") != "")
                .groupBy("word")
                .agg(F.count(F.lit(1)).alias("freq"))
                .orderBy(F.desc("freq"), F.asc("word"))
                .limit(50))


@register(
    "doc_fingerprints",
    f"SELECT doc_id, {poly_hash_sql(_NORM)} AS fp, "
    f"{token_count_sql('text')} AS n_tokens FROM documents",
    "M6-text-fingerprint",
)
def q_doc_fingerprints(spark, sf_dir):
    from etl_online_retail_spark.functions.text import fingerprint
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"),
                       token_count("text").alias("n_tokens"))


# text: repetition scoring (boilerplate/looping detection) — the multiset
# of word 2-grams vs its distinct set; rep_ratio = duplicated fraction

from etl_online_retail_spark.functions.text import (  # noqa: E402
    redacted_sql,
    redaction_count,
    redaction_count_sql,
    word_ngrams_all_sql,
)

_GRAMS_ALL = word_ngrams_all_sql("text", 2)


@register(
    "repetition_scores",
    f"WITH g AS (SELECT doc_id, {_GRAMS_ALL} AS grams FROM documents) "
    "SELECT doc_id, CAST(len(grams) AS INTEGER) AS n_grams, "
    "CAST(len(list_distinct(grams)) AS INTEGER) AS n_distinct, "
    "CASE WHEN len(grams) = 0 THEN 0.0 "
    "ELSE (len(grams) - len(list_distinct(grams)))::DOUBLE "
    "  / len(grams)::DOUBLE END AS rep_ratio "
    "FROM g",
    "M6-text-repetition",
)
def q_repetition_scores(spark, sf_dir):
    from etl_online_retail_spark.functions.text import (
        normalize,
        tokens,
        word_ngrams_all_of_tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    # tokens in their own projection: the regex pipeline runs once per row
    toked = docs.select("doc_id", tokens(normalize("text")).alias("_t"))
    grams = word_ngrams_all_of_tokens(F.col("_t"), 2)
    return (toked.select("doc_id", grams.alias("_g"))
                .select("doc_id",
                        F.size("_g").alias("n_grams"),
                        F.size(F.array_distinct("_g")).alias("n_distinct"))
                .withColumn("rep_ratio",
                            F.when(F.col("n_grams") == 0, F.lit(0.0))
                             .otherwise((F.col("n_grams") - F.col("n_distinct"))
                                        .cast("double")
                                        / F.col("n_grams").cast("double"))))


# cross-document repeated passages: the passage-level dedup lens —
# boilerplate/license/template spans recur across docs that are each
# globally unique, so document-level dedup can't see them.

PASSAGE_N = 3
PASSAGE_MIN_DF = 3


def _passage_oracle() -> str:
    from etl_online_retail_spark.functions.text import (
        word_shingle_hashes_all_sql,
    )

    hashes = word_shingle_hashes_all_sql("text", PASSAGE_N)
    return f"""
WITH e AS (
  SELECT doc_id, unnest({hashes}) AS h FROM documents),
df AS (
  SELECT h, COUNT(DISTINCT doc_id) AS df FROM e GROUP BY h),
per AS (
  SELECT e.doc_id, COUNT(*) AS n_shingles,
         CAST(SUM(CASE WHEN df.df >= {PASSAGE_MIN_DF} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_repeated
  FROM e JOIN df USING (h) GROUP BY e.doc_id)
SELECT doc_id, n_shingles, n_repeated,
       ROUND(n_repeated / n_shingles::DOUBLE, 6) AS dup_fraction
FROM per"""


@register("repeated_passage_stats", _passage_oracle(), "M6-dedup-passages")
def q_repeated_passage_stats(spark, sf_dir):
    return dedup.repeated_passage_stats(
        _t(spark, sf_dir, "documents"), n=PASSAGE_N, min_df=PASSAGE_MIN_DF)


# text: denylist redaction (the PII-scrub shape: deterministic regex
# scrubbing + an audit count; the synthetic corpus has no emails/phones,
# so the denylist targets tokens that DO occur)

PII_PATTERN = r"\b(customer|user|spark)\b"


@register(
    "pii_redaction",
    f"SELECT doc_id, {redaction_count_sql('text', PII_PATTERN)} AS n_redactions, "
    f"md5({redacted_sql('text', PII_PATTERN)}) AS redacted_md5 FROM documents",
    "M6-text-redaction",
)
def q_pii_redaction(spark, sf_dir):
    from etl_online_retail_spark.functions.text import redacted

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        redaction_count("text", PII_PATTERN).alias("n_redactions"),
        F.md5(redacted("text", PII_PATTERN)).alias("redacted_md5"))


# text: exact interpolated length percentiles per source (corpus length
# profiling; Spark percentile() and DuckDB quantile_cont share the
# (1-g)*lo + g*hi interpolation — rounded to 6dp for cross-engine safety)

@register(
    "length_percentiles_by_source",
    "SELECT source, COUNT(*) AS n_docs, "
    "ROUND(quantile_cont(n_chars, 0.5), 6) AS p50, "
    "ROUND(quantile_cont(n_chars, 0.9), 6) AS p90, "
    "ROUND(quantile_cont(n_chars, 0.99), 6) AS p99 "
    "FROM documents GROUP BY source",
    "M6-text-percentiles",
)
def q_length_percentiles_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("p50"),
                 F.round(F.percentile("n_chars", F.lit(0.9)), 6).alias("p90"),
                 F.round(F.percentile("n_chars", F.lit(0.99)), 6).alias("p99")))


# quality-weighted sampling: keep a doc with probability = its quality
# score, using a deterministic affine-hash uniform (same constants inlined
# on both engines) — reproducible downsampling, no RNG state.

_QW_A, _QW_B = hash_family(1, seed=7)[0]
_QUALITY_SQL = (f"(0.5 * ({stopword_ratio_sql('text', 'en')}) "
                f" + 0.3 * least({token_count_sql('text')} / 100.0, 1.0) "
                f" + 0.2 * (1.0 - ({punct_ratio_sql('text')})))")


@register(
    "quality_weighted_sample",
    f"""WITH scored AS (
  SELECT doc_id, source, {_QUALITY_SQL} AS quality,
         (({_QW_A} * ((doc_id::BIGINT % {PRIME} + {PRIME}) % {PRIME})
           + {_QW_B}) % {PRIME}) / {PRIME} AS u
  FROM documents)
SELECT doc_id, source, ROUND(quality, 6) AS quality
FROM scored WHERE u < quality""",
    "M6-quality-weighted-sampling",
)
def q_quality_weighted_sample(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    nt = token_count("text")
    pr = punct_ratio("text")
    sr = stopword_ratio("text", "en")
    quality = (F.lit(0.5) * sr
               + F.lit(0.3) * F.least(nt / F.lit(100.0), F.lit(1.0))
               + F.lit(0.2) * (F.lit(1.0) - pr))
    # pmod doc_id into [0, PRIME) first so a*id can't overflow int64 at
    # 100 TB id ranges; value-preserving for id < PRIME (see sampling.py)
    h = F.pmod(F.col("doc_id").cast("bigint"), F.lit(PRIME))
    u = ((F.lit(_QW_A) * h + F.lit(_QW_B)) % F.lit(PRIME)) / F.lit(PRIME)
    return (docs.select("doc_id", "source", quality.alias("_q"),
                        u.alias("_u"))
            .filter(F.col("_u") < F.col("_q"))
            .select("doc_id", "source", F.round("_q", 6).alias("quality")))


# RAG-style chunking: overlapping token windows per document (window W,
# stride S): (doc_id, chunk_id, start_tok, chunk_len). Pure per-row
# sequence arithmetic — no shuffle at all; the loader slices tokens by
# [start_tok, start_tok + chunk_len).

CHUNK_W = 64
CHUNK_S = 48


@register(
    "doc_chunks",
    f"""WITH t AS (
  SELECT doc_id, {token_count_sql('text')} AS n FROM documents),
c AS (
  SELECT doc_id, n,
    CASE WHEN n <= {CHUNK_W} THEN 1
         ELSE CAST(ceil((n - {CHUNK_W}) / {CHUNK_S}::DOUBLE) AS INTEGER) + 1
    END AS n_chunks
  FROM t WHERE n > 0)
SELECT doc_id, CAST(i - 1 AS INTEGER) AS chunk_id,
  CAST((i - 1) * {CHUNK_S} AS INTEGER) AS start_tok,
  CAST(least({CHUNK_W}, n - (i - 1) * {CHUNK_S}) AS INTEGER) AS chunk_len
FROM (SELECT doc_id, n, unnest(range(1, n_chunks + 1)) AS i FROM c)""",
    "M6-rag-chunking",
)
def q_doc_chunks(spark, sf_dir):
    from etl_online_retail_spark.operators.packing import chunk_offsets

    docs = _t(spark, sf_dir, "documents")
    return chunk_offsets(docs, window=CHUNK_W, stride=CHUNK_S)


# BPE vocabulary training: learn the merge table itself (iterative,
# driver-coordinated rounds over the vocab-sized word table -> no SQL
# oracle; merge-sequence equality vs an in-memory reference BPE is
# pytest-asserted in tests/test_bpe.py).

BPE_MERGES = 20


def _driver_rows(spark, rows: list[tuple], schema: str):
    """A result computed on the driver, as a DataFrame built through
    Arrow. From a plain list Spark builds a Python RDD, so every action
    on it starts Python workers: about 0.4 s of wall and 1 s of worker
    CPU per query on a warm 4-core session, against 0.13 s and none."""
    import pandas as pd

    cols = [field.split()[0] for field in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)


@register("bpe_vocab_merges", None, "M6-bpe-train")
def q_bpe_vocab_merges(spark, sf_dir):
    from etl_online_retail_spark.operators.bpe import bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=BPE_MERGES)
    return _driver_rows(
        spark, [(i, left, right) for i, (left, right) in enumerate(merges)],
        "rank int, left string, right string")


# Unigram-LM (SentencePiece) tokenizer training: the prune-down
# counterpart to BPE's merge-up (Kudo 2018). Iterative driver-coordinated
# hard-EM -> no SQL oracle (same class as bpe_vocab_merges); equality of
# the distributed trainer vs the in-memory sequential one is
# pytest-asserted in tests/test_unigram.py. Training runs at plan
# construction, so a timing of this query must include the build.

UNIGRAM_Q_VOCAB = 64
UNIGRAM_Q_SEED = 256


@register("unigram_vocab", None, "M6-unigram-train")
def q_unigram_vocab(spark, sf_dir):
    from etl_online_retail_spark.operators.unigram_lm import unigram_train

    docs = _t(spark, sf_dir, "documents")
    vocab = unigram_train(docs, vocab_size=UNIGRAM_Q_VOCAB,
                          n_seed=UNIGRAM_Q_SEED)
    return _driver_rows(
        spark, [(i, p, round(lp, 6)) for i, (p, lp) in enumerate(vocab)],
        "rank int, piece string, logp double")


@register("unigram_token_stats", None, "M6-unigram-apply")
def q_unigram_token_stats(spark, sf_dir):
    """Per-source compression scorecard of the trained inventory:
    subword pieces per whitespace token (the metric a tokenizer swap is
    judged by)."""
    from etl_online_retail_spark.operators.unigram_lm import (
        unigram_tokenize,
        unigram_train,
    )

    docs = _t(spark, sf_dir, "documents")
    vocab = unigram_train(docs, vocab_size=UNIGRAM_Q_VOCAB,
                          n_seed=UNIGRAM_Q_SEED)
    toked = unigram_tokenize(docs, vocab).drop("pieces")
    src = docs.select("doc_id", "source")
    return (toked.join(src, "doc_id")
            .groupBy("source")
            .agg(F.sum("n_ws_tokens").alias("total_ws_tokens"),
                 F.sum("n_pieces").alias("total_pieces"),
                 F.round(F.sum("n_pieces").cast("double")
                         / F.sum("n_ws_tokens").cast("double"), 6)
                 .alias("pieces_per_token"))
            .orderBy("source"))


# sketch path for percentiles: approx_percentile (KLL-style) — the 100 TB
# twin of length_percentiles_by_source's exact interpolation. Approximate
# by contract -> rows-only driver check; the error bound vs the exact
# percentiles is pytest-asserted (tests/test_curation.py).


@register("approx_length_percentiles", None, "M6-text-percentiles-sketch")
def q_approx_length_percentiles(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.percentile_approx("n_chars", F.lit(0.5), F.lit(1000))
                  .alias("p50"),
                 F.percentile_approx("n_chars", F.lit(0.9), F.lit(1000))
                  .alias("p90"),
                 F.percentile_approx("n_chars", F.lit(0.99), F.lit(1000))
                  .alias("p99")))


# curation: benchmark decontamination (eval-set n-gram overlap) — the
# pretraining hygiene op. Eval set = doc_id % DECON_EVAL_MOD == 0.

DECON_EVAL_MOD = 50
DECON_N = 3
DECON_MIN_SHARED = 3

# 3-gram twin of SH_BODY (decontamination uses longer shingles); same
# localize_oracle substitution applies.
SH3_BODY = (f"SELECT doc_id, {word_shingle_hashes_sql('text', DECON_N)} "
            "AS _sh FROM documents")


@register(
    "decontamination_overlap",
    f"""WITH sh3 AS ({SH3_BODY}),
ev AS (
  SELECT DISTINCT unnest(_sh) AS _h
  FROM sh3 WHERE doc_id % {DECON_EVAL_MOD} = 0),
co AS (
  SELECT doc_id, unnest(_sh) AS _h
  FROM sh3 WHERE doc_id % {DECON_EVAL_MOD} <> 0)
SELECT doc_id, COUNT(*) AS n_shared,
       COUNT(*) >= {DECON_MIN_SHARED} AS contaminated
FROM co JOIN ev USING (_h) GROUP BY doc_id""",
    "M6-decontamination",
)
def q_decontamination_overlap(spark, sf_dir):
    from etl_online_retail_spark.functions.text import (
        normalize,
        tokens,
        word_shingle_hashes_of_tokens,
    )
    from etl_online_retail_spark.operators.curation import decontamination_overlap

    docs = _t(spark, sf_dir, "documents")
    # one shingle pass over the whole table (the regex+ngram+hash work is
    # the dominant cost); cache it and carve the eval/corpus sides out of
    # the cached relation instead of shingling each side separately
    toked = docs.select("doc_id", tokens(normalize("text")).alias("_t"))
    shingled = (toked.select(
        "doc_id",
        F.explode(word_shingle_hashes_of_tokens(F.col("_t"), DECON_N))
         .alias("_h"),
        (F.col("doc_id") % DECON_EVAL_MOD == 0).alias("_is_eval"))
        .cache())
    ev_sh = shingled.filter(F.col("_is_eval")).select("_h")
    co_sh = shingled.filter(~F.col("_is_eval")).select("doc_id", "_h")
    return decontamination_overlap(None, None, n=DECON_N,
                                   min_shared=DECON_MIN_SHARED,
                                   corpus_shingles=co_sh,
                                   eval_shingles=ev_sh)


# curation: C4-style blocklist filtering (Raffel et al. 2020's denylist
# drop) — per-source flag rates via a map-side array_intersect against a
# literal term list (zero shuffle before the bounded agg); the broadcast
# set-join mechanism for industrial 10k+-term lists is
# blocklist_flags_joined, equality-tested in tests/test_curation.py.

BADWORDS = ["slow", "dup"]


@register(
    "blocklist_filter_stats",
    f"""WITH d AS (
  SELECT doc_id, source,
         len(list_intersect(
             list_distinct(regexp_split_to_array(trim({_NORM}), '\\s+')),
             {BADWORDS!r})) AS n_bad
  FROM documents)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(SUM(n_bad) AS BIGINT) AS bad_term_hits,
       ROUND(CAST(SUM(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS flag_rate
FROM d GROUP BY source""",
    "M6-curation-blocklist",
)
def q_blocklist_filter_stats(spark, sf_dir):
    from etl_online_retail_spark.operators.curation import blocklist_flags

    docs = _t(spark, sf_dir, "documents")
    flags = blocklist_flags(docs, BADWORDS)
    n_flagged = F.sum(F.col("flagged").cast("bigint"))
    return (flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        n_flagged.alias("n_flagged"),
        F.sum("n_bad_terms").cast("bigint").alias("bad_term_hits"),
        F.round(n_flagged.cast("double")
                / F.count(F.lit(1)).cast("double"), 6).alias("flag_rate")))


# curation: deterministic curriculum ordering — easy->hard (quality
# DESC) per source, round-robin interleaved across sources so no
# training window clumps on one domain. The oracle states the naive
# per-source window; Spark runs distributed_rank_by (range-sharded
# exact ranks, no per-source single-partition sort). position is a
# strict total order; ties in quality resolve by doc_id on both
# engines.
@register(
    "curriculum_order",
    f"""WITH q AS (
  SELECT doc_id, source, {_QUALITY_SQL} AS quality FROM documents),
s AS (SELECT source,
             CAST(ROW_NUMBER() OVER (ORDER BY source) - 1 AS BIGINT)
               AS sidx
      FROM (SELECT DISTINCT source FROM q)),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nsrc FROM s),
r AS (SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY quality DESC, doc_id) AS BIGINT) AS src_rank
      FROM q)
SELECT r.doc_id, r.source, r.src_rank,
       CAST((r.src_rank - 1) * n.nsrc + s.sidx AS BIGINT) AS position
FROM r JOIN s ON r.source = s.source CROSS JOIN n""",
    "M6-curation-curriculum",
)
def q_curriculum_order(spark, sf_dir):
    from etl_online_retail_spark.operators.curation import curriculum_order

    return curriculum_order(_t(spark, sf_dir, "documents"))


# curation: DSIR-style importance-weighted selection (Xie et al. 2023)
# over hashed bigram features — target = English docs, raw pool = the
# rest; keep the top-K most target-like raw docs per source. The
# per-feature log-ratio is linearized to the exact-integer
# cross-difference tc*R - rc*T (see operators/curation.dsir_importance)
# so both engines agree bit-for-bit; the oracle states the naive
# PARTITION BY window, the Spark side runs the range-sharded exact rank
# (distributed_rank_by — no per-source single-partition sort).

DSIR_BUCKETS = 256
DSIR_K = 10

_DSIR_GRAMS = (f"SELECT doc_id, source, lang = 'en' AS is_t, "
               f"unnest({word_shingle_hashes_all_sql('text', 2)}) AS gh "
               "FROM documents")


@register(
    "dsir_importance_select",
    f"""WITH g AS ({_DSIR_GRAMS}),
gb AS (SELECT doc_id, source, is_t, CAST(gh % {DSIR_BUCKETS} AS INTEGER)
              AS bucket FROM g),
b AS (SELECT bucket,
             CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS tc,
             CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS rc
      FROM gb GROUP BY 1),
tot AS (SELECT CAST(SUM(tc) AS BIGINT) AS tt, CAST(SUM(rc) AS BIGINT) AS rt
        FROM b),
c AS (SELECT bucket,
             CAST(tc::HUGEINT * rt - rc::HUGEINT * tt AS DECIMAL(38,0))
             AS c
      FROM b CROSS JOIN tot),
scored AS (SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_grams,
                  CAST(SUM(c.c) AS BIGINT) AS score
           FROM gb JOIN c USING (bucket) WHERE NOT is_t GROUP BY 1, 2),
ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY score DESC, doc_id) AS rk FROM scored)
SELECT doc_id, source, n_grams, score, CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= {DSIR_K}""",
    "M6-curation-dsir",
)
def q_dsir_importance_select(spark, sf_dir):
    from etl_online_retail_spark.operators.curation import dsir_importance

    docs = _t(spark, sf_dir, "documents")
    out = dsir_importance(docs, F.col("lang") == "en",
                          n=2, buckets=DSIR_BUCKETS, k=DSIR_K)
    return out.withColumnRenamed("rank", "rk")


# sequence packing: the "concat and chunk" pretraining layout — each doc's
# token offset and sequence-id range under a fixed token budget, packed per
# source shard (windowed running sum; integer div throughout).

PACK_BUDGET = 512


@register(
    "sequence_packing",
    f"""WITH toks AS (
  SELECT source, doc_id, CAST({token_count_sql('text')} AS BIGINT) AS n_tokens
  FROM documents),
cum AS (
  SELECT source, doc_id, n_tokens,
    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
  FROM toks)
SELECT source, doc_id, n_tokens,
  cum_end - n_tokens AS start_offset,
  (cum_end - n_tokens) // {PACK_BUDGET} AS first_seq,
  CASE WHEN n_tokens = 0 THEN (cum_end - n_tokens) // {PACK_BUDGET}
       ELSE (cum_end - 1) // {PACK_BUDGET} END AS last_seq
FROM cum""",
    "M6-sequence-packing",
)
def q_sequence_packing(spark, sf_dir):
    from etl_online_retail_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    packed = pack_sequences(
        docs.select("source", "doc_id", token_count("text").alias("_tok")),
        budget=PACK_BUDGET, tokens_col="_tok")
    return packed.select("source", "doc_id", "n_tokens", "start_offset",
                         "first_seq", "last_seq")


@register(
    "packing_summary",
    f"""WITH toks AS (
  SELECT source, doc_id, CAST({token_count_sql('text')} AS BIGINT) AS n_tokens
  FROM documents),
cum AS (
  SELECT source, n_tokens,
    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_end
  FROM toks)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  CAST(MAX(CASE WHEN n_tokens = 0 THEN (cum_end - n_tokens) // {PACK_BUDGET}
           ELSE (cum_end - 1) // {PACK_BUDGET} END) + 1 AS BIGINT)
    AS n_sequences
FROM cum GROUP BY source""",
    "M6-sequence-packing-summary",
)
def q_packing_summary(spark, sf_dir):
    from etl_online_retail_spark.operators.packing import (
        pack_sequences,
        packing_summary,
    )

    docs = _t(spark, sf_dir, "documents")
    packed = pack_sequences(
        docs.select("source", "doc_id", token_count("text").alias("_tok")),
        budget=PACK_BUDGET, tokens_col="_tok")
    return packing_summary(packed)


# full-text relevance: BM25 over the corpus for a fixed query-term set.
# Float discipline: every arithmetic step is DOUBLE on both engines
# (constants interpolated from the same Python doubles via repr), per-term
# contributions rounded to 9dp and summed as DECIMAL (order-independent).

BM25_TERMS = ("hash", "join", "vector")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_K1P1 = repr(_BM25_K1 + 1.0)
_BM25_1MB = repr(1.0 - _BM25_B)
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

_BM25_ORACLE = f"""
WITH toks AS (
  {TOK_BODY}),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl)::DOUBLE / COUNT(*) AS avgdl
          FROM dl),
hits AS (SELECT doc_id, term FROM toks
         WHERE term IN ({_BM25_TERMS_SQL})),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM hits GROUP BY doc_id, term),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY term),
contrib AS (
  SELECT tf.doc_id,
    CAST(ROUND(
      ln((stats.n_docs - df.df + 0.5::DOUBLE)
         / (df.df + 0.5::DOUBLE) + 1.0::DOUBLE)
      * ((tf.tf::DOUBLE * {_BM25_K1P1}::DOUBLE)
         / (tf.tf::DOUBLE + {repr(_BM25_K1)}::DOUBLE
            * ({_BM25_1MB}::DOUBLE
               + ({repr(_BM25_B)}::DOUBLE * dl.dl::DOUBLE) / stats.avgdl))),
      9) AS DECIMAL(18,9)) AS c
  FROM tf
  JOIN df USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats)
SELECT doc_id, ROUND(CAST(SUM(c) AS DOUBLE), 6) AS bm25
FROM contrib GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT 50
"""


@register("bm25_topk", _BM25_ORACLE, "M6-relevance-bm25")
def q_bm25_topk(spark, sf_dir):
    from etl_online_retail_spark.operators.relevance import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    scored = bm25_scores(docs, BM25_TERMS, k1=_BM25_K1, b=_BM25_B)
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(50)


# unigram LM quality score: mean token log-prob under the corpus unigram
# MLE (cheap perplexity proxy). Same float discipline as BM25.

_LM_ORACLE = f"""
WITH toks AS (
  {TOK_BODY}),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
cnt AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
tot AS (SELECT COUNT(*) AS t_total FROM toks),
contrib AS (
  SELECT tf.doc_id, tf.tf,
    CAST(ROUND(tf.tf * ln(cnt.cnt::DOUBLE / tot.t_total::DOUBLE), 9)
         AS DECIMAL(18,9)) AS c
  FROM tf JOIN cnt USING (term) CROSS JOIN tot)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
  ROUND(CAST(SUM(c) AS DOUBLE) / SUM(tf)::DOUBLE, 6) AS avg_logprob
FROM contrib GROUP BY doc_id
"""


@register("doc_lm_logprob", _LM_ORACLE, "M6-lm-quality-score")
def q_doc_lm_logprob(spark, sf_dir):
    from etl_online_retail_spark.operators.relevance import unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob(docs)


# CCNet-style perplexity bucketing (Wenzek et al. 2020): per SOURCE,
# split documents into head/middle/tail thirds by LM score (higher mean
# logprob = lower perplexity = head) — the standard quality triage
# before mixing. avg_logprob is the hash-exact doc_lm_logprob value, so
# the (score DESC, doc_id) order is cross-engine identical and the
# thirds are exactly NTILE(3). Scale shape: distributed_ntile_by — one
# range-sharded pass for ALL sources; a per-source window would be
# |sources| near-global single-partition sorts at 100 TB.

_CCNET_ORACLE = f"""
WITH toks AS (
  {TOK_BODY}),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
cnt AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
tot AS (SELECT COUNT(*) AS t_total FROM toks),
contrib AS (
  SELECT tf.doc_id, tf.tf,
    CAST(ROUND(tf.tf * ln(cnt.cnt::DOUBLE / tot.t_total::DOUBLE), 9)
         AS DECIMAL(18,9)) AS c
  FROM tf JOIN cnt USING (term) CROSS JOIN tot),
lm AS (
  SELECT doc_id, ROUND(CAST(SUM(c) AS DOUBLE) / SUM(tf)::DOUBLE, 6)
         AS avg_logprob
  FROM contrib GROUP BY doc_id)
SELECT doc_id, source, avg_logprob,
  CASE NTILE(3) OVER (PARTITION BY source
                      ORDER BY avg_logprob DESC, doc_id)
    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
FROM lm JOIN documents USING (doc_id)
"""


@register("perplexity_buckets", _CCNET_ORACLE, "M6-curation-ccnet")
def q_perplexity_buckets(spark, sf_dir):
    from etl_online_retail_spark.operators.relevance import unigram_logprob
    from etl_online_retail_spark.operators.windows import (
        distributed_ntile_by,
    )

    docs = _t(spark, sf_dir, "documents")
    lm = (unigram_logprob(docs).drop("n_tokens")
          .join(docs.select("doc_id", "source"), "doc_id"))
    bucketed = distributed_ntile_by(
        lm, ["source"],
        order=[F.desc("avg_logprob"), F.asc("doc_id")],
        shard_by=-F.col("avg_logprob"), n=3, alias="_b", nulls="last")
    name = (F.when(F.col("_b") == 1, "head")
            .when(F.col("_b") == 2, "middle").otherwise("tail"))
    return bucketed.select("doc_id", "source", "avg_logprob",
                           name.alias("ppl_bucket"))


# bigram LM with add-k smoothing: word ORDER now matters, not just word
# choice. Same decimal contribution discipline; all engine arithmetic
# forced to DOUBLE on both sides.

_BIGRAM_K = 0.5

_BIGRAM_ORACLE = f"""
WITH toked AS (
  SELECT doc_id, regexp_split_to_array(trim({_NORM}), '\\s+') AS t
  FROM documents WHERE trim({_NORM}) <> ''),
bi AS (
  SELECT doc_id, unnest(list_transform(range(1, len(t)),
                        i -> t[i] || ' ' || t[i + 1])) AS bigram
  FROM toked WHERE len(t) >= 2),
uni AS (
  SELECT unnest(t) AS w FROM toked),
c1 AS (SELECT w, COUNT(*) AS c1 FROM uni GROUP BY w),
vocab AS (SELECT COUNT(*) AS v FROM c1),
c2 AS (SELECT bigram, COUNT(*) AS c2 FROM bi GROUP BY bigram),
tf AS (SELECT doc_id, bigram, COUNT(*) AS tf FROM bi GROUP BY doc_id, bigram),
contrib AS (
  SELECT tf.doc_id, tf.tf,
    CAST(ROUND(tf.tf * ln((c2.c2::DOUBLE + {_BIGRAM_K!r})
         / (c1.c1::DOUBLE + {_BIGRAM_K!r} * vocab.v::DOUBLE)), 9)
         AS DECIMAL(18,9)) AS c
  FROM tf
  JOIN c2 USING (bigram)
  JOIN c1 ON c1.w = split_part(tf.bigram, ' ', 1)
  CROSS JOIN vocab)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_transitions,
  ROUND(CAST(SUM(c) AS DOUBLE) / SUM(tf)::DOUBLE, 6) AS avg_logprob
FROM contrib GROUP BY doc_id
"""


@register("doc_bigram_logprob", _BIGRAM_ORACLE, "M6-lm-bigram-score")
def q_doc_bigram_logprob(spark, sf_dir):
    from etl_online_retail_spark.operators.relevance import bigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return bigram_logprob(docs, k_smooth=_BIGRAM_K)


# embedding int8 quantization audit: per-vector scale + reconstruction
# error metrics (the storage/serving path for embeddings at scale).


def _quant_oracle() -> str:
    from etl_online_retail_spark.operators.quantize import quantize_sql

    return quantize_sql()


@register("embedding_quantization", _quant_oracle(), "M6-embedding-quantize")
def q_embedding_quantization(spark, sf_dir):
    from etl_online_retail_spark.operators.quantize import quantization_audit

    emb = _t(spark, sf_dir, "embeddings")
    return quantization_audit(emb)


# ---------------------------------------------------------------------------
# similarity search over embeddings

_KNN_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % {KNN_QUERY_MOD} = 0),
s AS (SELECT q.query_id, e.vec_id AS neighbour_id,
             {cosine_sql('q.qv', 'e.embedding')} AS c
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
r AS (SELECT query_id, neighbour_id, c,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY c DESC, neighbour_id) AS rn
      FROM s)
SELECT query_id, neighbour_id, ROUND(c, 6) AS cos_sim,
       CAST(rn AS INTEGER) AS rank
FROM r WHERE rn <= {KNN_K}
"""


@register("knn_bruteforce", _KNN_ORACLE, "M6-similarity-bruteforce")
def q_knn_bruteforce(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % KNN_QUERY_MOD == 0)
    return similarity.brute_force_topk(emb, queries_df, k=KNN_K)


# IVF approximate variant: iterative KMeans index -> probe-limited search.
# No SQL oracle (iterative algorithm; driver records rows-only);
# tests/test_similarity_extras.py asserts recall against brute force.
@register("knn_ivf", None, "M6-similarity-ivf")
def q_knn_ivf(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % KNN_QUERY_MOD == 0)
    return similarity.ivf_topk(emb, queries_df, k=KNN_K,
                               n_clusters=16, n_probe=4)


# PQ (product-quantization) variant: the STORAGE-side approximation —
# the corpus is searched through 8-BYTE code words (16 subspaces x 4-bit
# codes; 32x smaller than the float vectors) with asymmetric-distance
# table lookups, then a 10x ADC shortlist is re-ranked by exact L2 on
# fetched raw vectors (the FAISS refine shape; measured recall@5 ~0.94
# vs ~0.4 unrefined on these near-random embeddings). KMeans codebooks =
# iterative fit -> rows-only like knn_ivf; tests assert recall vs exact
# L2 and the compression contract (operators/similarity.py pq_*).
PQ_SUBSPACES = 16
PQ_CODES = 16
PQ_REFINE = 10


@register("knn_pq", None, "M6-similarity-pq-adc")
def q_knn_pq(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % KNN_QUERY_MOD == 0)
    books = similarity.train_pq_codebooks(
        emb, m_subspaces=PQ_SUBSPACES, n_codes=PQ_CODES)
    codes = similarity.pq_encode(emb, books)
    return similarity.pq_topk_refined(codes, emb, queries_df, books,
                                      k=KNN_K, refine=PQ_REFINE)


# The DEFAULT scale path for brute-force similarity: BLAS-batched scoring
# over Arrow batches (mapInPandas), ~10-100x the interpreted fold's
# throughput. Float summation order differs from the sequential fold at ulp
# level, so there is no value oracle (rows-only); rank agreement with the
# oracle-exact knn_bruteforce is pytest-asserted (tests/
# test_similarity_extras.py). bench.py times THIS entry - a correct-but-
# interpreted hot loop is not a 100 TB answer (ROADMAP r1 #3, closed).
@register("knn_vectorized", None, "M6-similarity-bruteforce-scale")
def q_knn_vectorized(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % KNN_QUERY_MOD == 0)
    return similarity.brute_force_topk_vectorized(emb, queries_df, k=KNN_K)


# ---------------------------------------------------------------------------
# Exact-mode ANN twins (r13, verdict task 2): integer-quantized vectors
# (floor(x * 1000), bit-identical in Spark/numpy/DuckDB) make every
# score an exact int64, so the SAME search machinery the float paths
# run — numpy-batched matmul scoring, IVF probe pruning, PQ ADC table
# lookups — becomes driver-HASHABLE (the PPR fixed-point precedent).
# The float variants stay registered (recall-optimal KMeans training /
# BLAS float scores; rows-only with pytest recall assertions); these
# twins pin the index seeds to the smallest-id corpus rows — a rule a
# SQL oracle can state — and verify the probe/encode/ADC/rank machinery
# end-to-end, hash-exact.

KNN_INT_SCALE = 1000
IVF_EXACT_CLUSTERS = 16
IVF_EXACT_PROBE = 4
PQ_EXACT_M = 8
PQ_EXACT_CODES = 16
_PQ_D_SUB = EMB_DIMS // PQ_EXACT_M

_KNN_INT_ORACLE = f"""
WITH e AS (SELECT vec_id, {int_vec_sql('embedding', KNN_INT_SCALE)} AS v
           FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e
      WHERE vec_id % {KNN_QUERY_MOD} = 0),
s AS (SELECT q.query_id, e.vec_id AS neighbour_id,
             CAST({int_dot_sql('q.qv', 'e.v')} AS BIGINT) AS dot_q
      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
r AS (SELECT query_id, neighbour_id, dot_q,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot_q DESC, neighbour_id) AS rn
      FROM s)
SELECT query_id, neighbour_id, dot_q, CAST(rn AS INTEGER) AS rank
FROM r WHERE rn <= {KNN_K}
"""


@register("knn_vectorized_exact", _KNN_INT_ORACLE,
          "M6-similarity-bruteforce-scale-exact")
def q_knn_vectorized_exact(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % KNN_QUERY_MOD == 0)
    return similarity.brute_force_topk_int(emb, queries_df, k=KNN_K,
                                           scale=KNN_INT_SCALE)


_IVF_INT_ORACLE = f"""
WITH e AS (SELECT vec_id, {int_vec_sql('embedding', KNN_INT_SCALE)} AS v
           FROM embeddings),
c AS (SELECT v AS cv,
             CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
      FROM e ORDER BY vec_id LIMIT {IVF_EXACT_CLUSTERS}),
a AS (SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {int_l2_sql('e.v', 'c.cv')}, c.cid) AS rn
        FROM e CROSS JOIN c) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e
      WHERE vec_id % {KNN_QUERY_MOD} = 0),
p AS (SELECT query_id, cid FROM (
        SELECT q.query_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                   ORDER BY {int_l2_sql('q.qv', 'c.cv')}, c.cid) AS rn
        FROM q CROSS JOIN c) WHERE rn <= {IVF_EXACT_PROBE}),
s AS (SELECT p.query_id, a.vec_id AS neighbour_id,
             CAST({int_dot_sql('q.qv', 'e.v')} AS BIGINT) AS dot_q
      FROM p JOIN a USING (cid)
      JOIN q ON q.query_id = p.query_id
      JOIN e ON e.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id),
r AS (SELECT query_id, neighbour_id, dot_q,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot_q DESC, neighbour_id) AS rn
      FROM s)
SELECT query_id, neighbour_id, dot_q, CAST(rn AS INTEGER) AS rank
FROM r WHERE rn <= {KNN_K}
"""


@register("knn_ivf_exact", _IVF_INT_ORACLE, "M6-similarity-ivf-exact")
def q_knn_ivf_exact(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % KNN_QUERY_MOD == 0)
    return similarity.ivf_topk_int(emb, queries_df, k=KNN_K,
                                   n_clusters=IVF_EXACT_CLUSTERS,
                                   n_probe=IVF_EXACT_PROBE,
                                   scale=KNN_INT_SCALE)


_PQ_INT_ORACLE = f"""
WITH e AS (SELECT vec_id, {int_vec_sql('embedding', KNN_INT_SCALE)} AS v
           FROM embeddings),
sub AS (SELECT vec_id, CAST(t.m AS INTEGER) AS m,
               list_slice(v, t.m * {_PQ_D_SUB} + 1,
                          (t.m + 1) * {_PQ_D_SUB}) AS sv
        FROM e, range({PQ_EXACT_M}) t(m)),
seeds AS (SELECT vec_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                 AS code
          FROM e ORDER BY vec_id LIMIT {PQ_EXACT_CODES}),
book AS (SELECT sub.m, seeds.code, sub.sv AS cv
         FROM sub JOIN seeds USING (vec_id)),
enc AS (SELECT vec_id, m, code FROM (
          SELECT sub.vec_id, sub.m, book.code,
                 ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m
                     ORDER BY {int_l2_sql('sub.sv', 'book.cv')},
                              book.code) AS rn
          FROM sub JOIN book USING (m)) WHERE rn = 1),
qt AS (SELECT sub.vec_id AS query_id, sub.m, book.code,
              CAST({int_l2_sql('sub.sv', 'book.cv')} AS BIGINT) AS qd
       FROM sub JOIN book USING (m)
       WHERE sub.vec_id % {KNN_QUERY_MOD} = 0),
adc AS (SELECT qt.query_id, enc.vec_id AS neighbour_id,
               CAST(SUM(qt.qd) AS BIGINT) AS adc_q
        FROM enc JOIN qt ON enc.m = qt.m AND enc.code = qt.code
        WHERE enc.vec_id <> qt.query_id
        GROUP BY qt.query_id, enc.vec_id),
r AS (SELECT query_id, neighbour_id, adc_q,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_q, neighbour_id) AS rn
      FROM adc)
SELECT query_id, neighbour_id, adc_q, CAST(rn AS INTEGER) AS rank
FROM r WHERE rn <= {KNN_K}
"""


@register("knn_pq_exact", _PQ_INT_ORACLE, "M6-similarity-pq-adc-exact")
def q_knn_pq_exact(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % KNN_QUERY_MOD == 0)
    return similarity.pq_topk_int(emb, queries_df,
                                  m_subspaces=PQ_EXACT_M,
                                  n_codes=PQ_EXACT_CODES, k=KNN_K,
                                  scale=KNN_INT_SCALE)


# hybrid retrieval: reciprocal-rank fusion of the lexical BM25 top-50
# and the dense cosine top-50 for one hybrid query (terms + query
# vector). RRF needs no score calibration between the two scorers —
# only ranks — which is why it is the standard lexical+dense combiner
# (Cormack et al. SIGIR'09). Both input rankings already have portable
# twins (bm25_topk, knn_bruteforce), so the fused list is fully
# hash-verified end-to-end. Embeddings are keyed by vec_id == doc_id
# (the document's embedding).

RRF_DEPTH = 50
RRF_QID = 0       # the hybrid query's vector: embedding of vec_id 0
RRF_K0 = 60
RRF_OUT = 20

_RRF_ORACLE = f"""
WITH bm AS ({_BM25_ORACLE}),
bmr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER
          (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS bm25_rank FROM bm),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {RRF_QID}),
kn AS (SELECT e.vec_id AS doc_id, {cosine_sql('q.qv', 'e.embedding')} AS c
       FROM embeddings e CROSS JOIN q WHERE e.vec_id <> {RRF_QID}),
knr AS (SELECT doc_id, CAST(rn AS INTEGER) AS knn_rank FROM (
          SELECT doc_id, ROW_NUMBER() OVER (ORDER BY c DESC, doc_id) AS rn
          FROM kn)
        WHERE rn <= {RRF_DEPTH}),
f AS (SELECT COALESCE(b.doc_id, k.doc_id) AS doc_id, b.bm25_rank, k.knn_rank
      FROM bmr b FULL OUTER JOIN knr k ON b.doc_id = k.doc_id)
SELECT doc_id, bm25_rank, knn_rank,
       COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K0} + bm25_rank),
                CAST(0.0 AS DOUBLE))
     + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K0} + knn_rank),
                CAST(0.0 AS DOUBLE)) AS rrf_score
FROM f ORDER BY rrf_score DESC, doc_id LIMIT {RRF_OUT}
"""


@register("hybrid_search_rrf", _RRF_ORACLE, "M6-retrieval-hybrid-rrf")
def q_hybrid_search_rrf(spark, sf_dir):
    from pyspark.sql import Window

    from etl_online_retail_spark.operators.relevance import (
        bm25_scores,
        rrf_fuse,
    )

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    # lexical list: cut to the top-50 FIRST with orderBy().limit() —
    # TakeOrderedAndProject, per-partition heaps — then stamp ranks on
    # the 50-row result (trivially single-partition). The ranked
    # relation before the cut is every doc matching the query terms —
    # corpus-fraction sized, so a global row_number there would move it
    # all to one partition (the Q10 discipline, workload_tpch.py).
    order = [F.desc("bm25"), F.asc("doc_id")]
    w = Window.orderBy(*order)
    bm = (bm25_scores(docs, BM25_TERMS, k1=_BM25_K1, b=_BM25_B)
          .orderBy(*order).limit(RRF_DEPTH)
          .withColumn("rank", F.row_number().over(w))
          .select("doc_id", "rank"))
    # dense list: exact cosine top-50 for the single query vector
    kn = (similarity.brute_force_topk(
            emb, emb.filter(F.col("vec_id") == RRF_QID), k=RRF_DEPTH)
          .select(F.col("neighbour_id").alias("doc_id"), "rank"))
    fused = rrf_fuse({"bm25": bm, "knn": kn}, k0=RRF_K0)
    return (fused.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
            .limit(RRF_OUT))


def _lsh_bucket_sql(vec_expr: str) -> str:
    planes = similarity.hyperplanes(LSH_PLANES, EMB_DIMS)
    terms = []
    for p, plane in enumerate(planes):
        arr = "[" + ", ".join(f"{float(s)}" for s in plane) + "]::DOUBLE[]"
        dot = (f"list_reduce(list_prepend(0.0::DOUBLE, "
               f"list_transform(list_zip({vec_expr}, {arr}), "
               f"p -> p[1]::DOUBLE * p[2])), (acc, x) -> acc + x)")
        terms.append(f"CASE WHEN {dot} > 0 THEN {1 << p}::BIGINT ELSE 0::BIGINT END")
    return " + ".join(terms)


_EMB_NEARDUP_ORACLE = f"""
WITH v AS (SELECT vec_id, embedding, {_lsh_bucket_sql('embedding')} AS bucket
           FROM embeddings)
SELECT id_a, id_b, ROUND(c, 6) AS cos_sim FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {cosine_sql('a.embedding', 'b.embedding')} AS c
  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
WHERE c >= {COS_THRESHOLD}
"""


@register("embedding_near_dups", _EMB_NEARDUP_ORACLE, "M6-similarity-lsh-neardup")
def q_embedding_near_dups(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_near_duplicates(
        emb, threshold=COS_THRESHOLD, n_planes=LSH_PLANES, n_dims=EMB_DIMS)


# Rows-only (numpy batch summation order differs from the SQL fold at ulp
# level, so the 6dp hash could flip on threshold-boundary pairs): the
# scale-path scorer for the same candidate relation — einsum per Arrow
# batch instead of a Catalyst fold per pair. Pair-set/score agreement vs
# the fold path is tolerance-tested (tests/test_similarity_extras.py),
# the knn_vectorized protocol.
@register("embedding_near_dups_vectorized", None,
          "M6-similarity-lsh-neardup-scale")
def q_embedding_near_dups_vectorized(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_near_duplicates(
        emb, threshold=COS_THRESHOLD, n_planes=LSH_PLANES, n_dims=EMB_DIMS,
        scorer="vectorized")


# SemDeDup-style semantic dedup: KMeans cluster representatives, drop
# members near their representative. O(N*k) — no pairwise term at all.
# Iterative fit -> rows-only driver check (like knn_ivf); pytest asserts
# the keep/drop invariants and determinism (tests/test_similarity_extras).
SEMDEDUP_CLUSTERS = 16
SEMDEDUP_THRESHOLD = 0.5


@register("semantic_dedup", None, "M6-dedup-semantic")
def q_semantic_dedup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        emb, n_clusters=SEMDEDUP_CLUSTERS, threshold=SEMDEDUP_THRESHOLD)


# ---------------------------------------------------------------------------
# grouped pandas statistics over Arrow batches: per-customer order
# statistics. Medians are order statistics - exact selection arithmetic,
# so the Arrow path is oracle-checkable bit-for-bit (unlike mean/stddev
# float folds).
#
# Scale shape (r8): this was groupBy(custkey).applyInPandas — ONE pandas
# call per customer, and with ~1.5 orders/customer the per-group Python
# overhead dominated (measured 15.8 s at sf0.1, the slowest row in the
# whole bench by 4x). The fix is the standard tiny-groups discipline:
# shuffle+sort on the key once, then ONE mapInPandas whose vectorized
# pandas groupby aggregates thousands of customers per Arrow batch,
# carrying the (possibly split) boundary key between batches — same
# Arrow boundary, same pandas median arithmetic, hash-identical output
# (measured 0.36 s, 44x). applyInPandas remains the right call when
# groups are BIG (the wds tar packer, the GEMM bucket scorer); this row
# now documents the right call when they are tiny.

@register(
    "customer_order_medians",
    "SELECT o_custkey, COUNT(*) AS n_orders, "
    "MEDIAN(o_totalprice) AS median_price, "
    "MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price "
    "FROM orders GROUP BY o_custkey",
    "M6-applyInPandas",
)
def q_customer_order_medians(spark, sf_dir):
    import pandas as pd

    orders = (_t(spark, sf_dir, "orders")
              .select("o_custkey", "o_totalprice")
              .repartition(F.col("o_custkey"))
              .sortWithinPartitions("o_custkey"))

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.groupby("o_custkey", sort=False)["o_totalprice"]
        out = g.agg(n_orders="size", median_price="median",
                    min_price="min", max_price="max").reset_index()
        out["n_orders"] = out["n_orders"].astype("int64")
        return out

    def stats(batches):
        # rows arrive key-contiguous (repartition + sortWithinPartitions);
        # only the LAST key of each batch can continue into the next, so
        # carry it forward and aggregate everything else vectorized
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            last = pdf["o_custkey"].iloc[-1]
            done = pdf[pdf["o_custkey"] != last]
            carry = pdf[pdf["o_custkey"] == last]
            if len(done):
                yield agg(done)
        if carry is not None and len(carry):
            yield agg(carry)

    return orders.mapInPandas(
        stats,
        schema=("o_custkey bigint, n_orders bigint, median_price double, "
                "min_price double, max_price double"),
    )


# robust per-group outlier gate: median + MAD (median absolute
# deviation). Unlike mean/stddev the estimator doesn't move when the
# outliers it hunts pollute the tail; medians are exact selection
# arithmetic on integer-scaled cents, so the whole gate is
# hash-verified. k=3 behaves like a 3σ cutoff via the 1.4826 scale.

_MAD_V = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
_MAD_K = "CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE)"


@register(
    "price_outliers_mad",
    f"""WITH v AS (SELECT o_orderpriority AS grp,
             CAST({_MAD_V} AS DOUBLE) AS vv FROM orders),
med AS (SELECT grp, MEDIAN(vv) AS med FROM v GROUP BY grp),
dev AS (SELECT v.grp, v.vv, m.med, ABS(v.vv - m.med) AS adev
        FROM v JOIN med m ON v.grp = m.grp),
mad AS (SELECT grp, MIN(med) AS med, MEDIAN(adev) AS mad
        FROM dev GROUP BY grp)
SELECT d.grp AS o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(m.med) AS med, MIN(m.mad) AS mad,
       CAST(SUM(CASE WHEN d.adev > {_MAD_K} * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.grp = m.grp GROUP BY d.grp""",
    "M6-cleaning-mad-outliers",
)
def q_price_outliers_mad(spark, sf_dir):
    from etl_online_retail_spark.operators.aggregates import mad_outliers

    orders = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    vals = orders.select(F.col("o_orderpriority"), cents.alias("v"))
    return mad_outliers(vals, "o_orderpriority", "v", k=3.0)


# survivorship golden records: collapse each user's event history into
# one profile row, attribute by attribute with explicit deterministic
# rules (recency for the live state, consensus for the habitual one) —
# the step after linkage/clustering in an MDM pipeline. Clusters here
# are user_ids; the same operator consumes connected-component cluster
# ids from the dedup surface.

@register(
    "user_golden_profile",
    """WITH base AS (SELECT user_id, event_type, ts, event_id FROM events),
latest AS (SELECT user_id, event_type AS last_event_type FROM (
  SELECT user_id, event_type, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM base) WHERE rn = 1),
modal AS (SELECT user_id, event_type AS modal_event_type FROM (
  SELECT user_id, event_type, ROW_NUMBER() OVER (
    PARTITION BY user_id ORDER BY n DESC, event_type ASC) AS rn
  FROM (SELECT user_id, event_type, COUNT(*) AS n
        FROM base GROUP BY user_id, event_type)) WHERE rn = 1),
agg AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(ts) AS last_ts FROM base GROUP BY user_id)
SELECT a.user_id, l.last_event_type, m.modal_event_type,
       a.n_events, a.last_ts
FROM agg a
JOIN latest l ON a.user_id = l.user_id
JOIN modal m ON a.user_id = m.user_id""",
    "M6-linkage-survivorship",
)
def q_user_golden_profile(spark, sf_dir):
    from etl_online_retail_spark.operators.linkage import golden_records

    ev = _t(spark, sf_dir, "events")
    out = golden_records(
        ev, "user_id",
        {
            "last_event_type": ("latest", "event_type", "ts", "event_id"),
            "modal_event_type": ("mode", "event_type"),
            "n_events": ("count",),
            "last_ts": ("max", "ts"),
        })
    return out.select("user_id", "last_event_type", "modal_event_type",
                      "n_events", "last_ts")


# image near-duplicate grouping via dHash: one patterned PNG per doc
# (motif = doc_id % 16; same-motif images are the planted duplicates),
# REALLY encoded and decoded (stdlib codec) on the Spark side, then
# perceptually hashed and grouped. The generator's pixel function is
# closed-form in doc_id, so the oracle computes every dHash bit
# analytically — same standard as png_image_stats.

_DH_MOTIFS = 16


def _dhash_hi_lo_sql() -> tuple[str, str]:
    grid = 8
    hi_terms, lo_terms = [], []
    m = f"(doc_id % {_DH_MOTIFS})"
    for y in range(grid):
        for xi in range(grid):
            a = 4 * (xi + 1) * (xi + 1) + 11 * y
            b = 4 * xi * xi + 11 * y
            bitpos = y * grid + xi
            bit = (f"(CASE WHEN ({m}*37 + {a}) % 256 > "
                   f"({m}*37 + {b}) % 256 THEN 1 ELSE 0 END)")
            if bitpos >= 32:
                hi_terms.append(f"({bit}::BIGINT << {bitpos - 32})")
            else:
                lo_terms.append(f"({bit}::BIGINT << {bitpos})")
    return " + ".join(hi_terms), " + ".join(lo_terms)


def _dhash_oracle() -> str:
    hi, lo = _dhash_hi_lo_sql()
    return f"""
WITH d AS (SELECT doc_id, CAST({hi} AS BIGINT) AS dhash_hi,
                  CAST({lo} AS BIGINT) AS dhash_lo FROM documents)
SELECT dhash_hi, dhash_lo, CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_id
FROM d GROUP BY dhash_hi, dhash_lo"""


@register("image_dhash_groups", _dhash_oracle(), "M6-multimodal-dhash")
def q_image_dhash_groups(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import (
        image_dhash,
        synthetic_pattern_media,
    )

    docs = _t(spark, sf_dir, "documents")
    hashed = image_dhash(synthetic_pattern_media(docs, n_motifs=_DH_MOTIFS))
    return (hashed.groupBy("dhash_hi", "dhash_lo")
            .agg(F.count(F.lit(1)).alias("n_copies"),
                 F.min("media_id").alias("canonical_id")))


# near-duplicate pairs BETWEEN distinct dHash groups: byte-banded
# candidate join + XOR-popcount verify (complete for hamming <= 7 by
# pigeonhole — the image analogue of SimHash block banding). The oracle
# brute-forces all group pairs, which is equivalent below the banding
# completeness bound; the Spark side runs the banded scale path.

_DH_MAX_HAM = 6


def _dhash_pairs_oracle() -> str:
    hi, lo = _dhash_hi_lo_sql()
    ham = ("bit_count(xor(a.dhash_hi, b.dhash_hi)) "
           "+ bit_count(xor(a.dhash_lo, b.dhash_lo))")
    return f"""
WITH d AS (SELECT doc_id, CAST({hi} AS BIGINT) AS dhash_hi,
                  CAST({lo} AS BIGINT) AS dhash_lo FROM documents),
g AS (SELECT dhash_hi, dhash_lo, MIN(doc_id) AS cid
      FROM d GROUP BY dhash_hi, dhash_lo)
SELECT a.cid AS id_a, b.cid AS id_b, CAST({ham} AS INTEGER) AS hamming
FROM g a JOIN g b ON a.cid < b.cid
WHERE {ham} <= {_DH_MAX_HAM}"""


@register("image_dhash_near_pairs", _dhash_pairs_oracle(),
          "M6-multimodal-dhash-near")
def q_image_dhash_near_pairs(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import (
        dhash_near_pairs,
        image_dhash,
        synthetic_pattern_media,
    )

    docs = _t(spark, sf_dir, "documents")
    hashed = image_dhash(synthetic_pattern_media(docs, n_motifs=_DH_MOTIFS))
    groups = (hashed.groupBy("dhash_hi", "dhash_lo")
              .agg(F.min("media_id").alias("media_id")))
    pairs = dhash_near_pairs(groups, max_hamming=_DH_MAX_HAM)
    return pairs.select("id_a", "id_b",
                        F.col("hamming").cast("int").alias("hamming"))


# model-based quality filtering: the fasttext-style hashed linear
# classifier (hashing-trick features, inlined literal weights, mean
# pooling + sigmoid). The gate pretraining pipelines run after the
# heuristic filters; a trained model drops in by swapping the weight
# list — the plumbing is what's verified, bit-for-bit on both engines.


def _hlc_oracle() -> str:
    from etl_online_retail_spark.operators.relevance import (
        hashed_linear_score_sql,
    )

    return hashed_linear_score_sql()


@register("quality_classifier_scores", _hlc_oracle(),
          "M6-quality-classifier")
def q_quality_classifier_scores(spark, sf_dir):
    from etl_online_retail_spark.operators.relevance import (
        hashed_linear_score,
    )

    docs = _t(spark, sf_dir, "documents")
    return hashed_linear_score(docs)


# Z-order layout audit: interleave (customer, order-date) bits and slice
# the curve into contiguous chunks — each chunk's min/max extent in BOTH
# dimensions is what parquet row-group stats would expose, i.e. the
# pruning the layout buys (operators/layout.py holds the writer; the
# pruning itself is file-stat-tested in tests/test_layout.py). The
# chunk assignment is distributed_ntile over zv — range-sharded exact
# ranks + closed-form bucket, bit-identical to NTILE(64) with no
# `Exchange SinglePartition` over the fact table (the diagnostic now
# matches the writer's own one-range-shuffle discipline;
# plan-asserted in tests/test_scale_plans.py).

_ZD = 65_536  # both dimensions reduced to 16 bits


def _zorder_oracle() -> str:
    from etl_online_retail_spark.operators.layout import z_value_sql

    da = f"((o_custkey % {_ZD} + {_ZD}) % {_ZD})"
    db = (f"((datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))"
          f" % {_ZD} + {_ZD}) % {_ZD})")
    return f"""
WITH v AS (SELECT o_orderkey, {da} AS da, {db} AS db FROM orders),
z AS (SELECT o_orderkey, da, db, {z_value_sql('da', 'db')} AS zv FROM v),
c AS (SELECT da, db, NTILE(64) OVER (ORDER BY zv, o_orderkey) AS chunk
      FROM z)
SELECT chunk, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(da) AS BIGINT) AS min_cust, CAST(MAX(da) AS BIGINT) AS max_cust,
       CAST(MIN(db) AS BIGINT) AS min_day, CAST(MAX(db) AS BIGINT) AS max_day
FROM c GROUP BY chunk"""


@register("zorder_locality_stats", _zorder_oracle(), "M6-layout-zorder")
def q_zorder_locality_stats(spark, sf_dir):
    from etl_online_retail_spark.operators.layout import z_value
    from etl_online_retail_spark.operators.windows import distributed_ntile

    orders = _t(spark, sf_dir, "orders")
    da = F.pmod(F.col("o_custkey"), F.lit(_ZD))
    db = F.pmod(F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01")),
                F.lit(_ZD))
    v = orders.select("o_orderkey", da.alias("da"), db.alias("db"))
    z = v.withColumn("zv", z_value(F.col("da"), F.col("db")))
    c = distributed_ntile(z, order=[F.asc("zv"), F.asc("o_orderkey")],
                          shard_by=F.col("zv"), n=64, alias="chunk")
    return (c.groupBy("chunk")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("da").cast("bigint").alias("min_cust"),
                 F.max("da").cast("bigint").alias("max_cust"),
                 F.min("db").cast("bigint").alias("min_day"),
                 F.max("db").cast("bigint").alias("max_day")))


# ---------------------------------------------------------------------------
# the composed curation pipeline: quality floor + exact dedup + near-dup drop

MIN_QUALITY = 0.35

_QUALITY_EXPR = (f"(0.5 * ({stopword_ratio_sql('text', 'en')}) "
                 f"+ 0.3 * least({token_count_sql('text')} / 100.0, 1.0) "
                 f"+ 0.2 * (1.0 - ({punct_ratio_sql('text')})))")

_CURATION_ORACLE = f"""
WITH {_minhash_cte_block()},
scored AS (SELECT doc_id, {token_count_sql('text')} AS n_tokens,
                  {_QUALITY_EXPR} AS quality FROM documents),
canonical AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM}))
SELECT s.doc_id, s.n_tokens, s.quality FROM scored s
WHERE s.quality >= {MIN_QUALITY}
  AND EXISTS (SELECT 1 FROM canonical c WHERE c.doc_id = s.doc_id)
  AND NOT EXISTS (SELECT 1 FROM neardup_pairs p WHERE p.id_b = s.doc_id)
"""


@register("corpus_curation", _CURATION_ORACLE, "M6-curation-pipeline")
def q_corpus_curation(spark, sf_dir):
    from etl_online_retail_spark.operators.curation import curate_corpus

    return curate_corpus(_t(spark, sf_dir, "documents"),
                         min_quality=MIN_QUALITY, n=SHINGLE_N, k=MINHASH_K,
                         bands=MINHASH_BANDS, threshold=JACCARD_THRESHOLD)


# deterministic train/val/test split (hash-based, engine-portable)

from etl_online_retail_spark.operators.curation import split_sql, with_split  # noqa: E402


@register(
    "train_val_test_split",
    f"SELECT doc_id, {split_sql('doc_id')} AS split FROM documents",
    "M6-split",
)
def q_train_val_test_split(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return with_split(docs)


# ---------------------------------------------------------------------------
# multimodal binary plumbing (mapInPandas over Arrow batches)

@register(
    "media_features",
    "SELECT doc_id AS media_id, "
    "CAST(octet_length(encode(text)) AS INTEGER) AS byte_len, "
    "left(hex(encode(text)), 16) AS header_hex FROM documents",
    "M6-multimodal",
)
def q_media_features(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return binary_features(to_media_table(docs), header_bytes=8)


# real PNG codec round-trip: Spark encodes one solid-gray PNG per doc and
# decodes it back (stdlib codec, multimodal/png.py) inside Arrow batches;
# the generator's parameters are closed-form in doc_id, so the oracle
# verifies the decoded width/height/channels/intensity exactly without
# itself decoding anything.
@register(
    "png_image_stats",
    "SELECT doc_id AS media_id, "
    "CAST(1 + doc_id % 16 AS INTEGER) AS width, "
    "CAST(1 + doc_id % 8 AS INTEGER) AS height, "
    "CAST(3 AS INTEGER) AS channels, "
    "CAST(8 AS INTEGER) AS bit_depth, "
    "CAST(doc_id % 256 AS DOUBLE) AS mean_pixel "
    "FROM documents",
    "M6-multimodal-codec",
)
def q_png_image_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return image_features(synthetic_png_media(docs))


# real TIFF 6.0 codec round-trip (r11, multimodal/tiff.py — the
# scanned-document format): LZW-COMPRESSED strips, so both the from-spec
# TIFF-LZW encoder (MSB-first variable-width codes, EarlyChange, table
# resets) and its decoder run inside the Arrow batches; same closed-form
# oracle discipline as png_image_stats.
@register(
    "tiff_image_stats",
    "SELECT doc_id AS media_id, "
    "CAST(1 + doc_id % 16 AS INTEGER) AS width, "
    "CAST(1 + doc_id % 8 AS INTEGER) AS height, "
    "CAST(3 AS INTEGER) AS channels, "
    "CAST(8 AS INTEGER) AS bit_depth, "
    "CAST(doc_id % 256 AS DOUBLE) AS mean_pixel "
    "FROM documents",
    "M6-multimodal-codec",
)
def q_tiff_image_stats(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import (
        synthetic_tiff_media,
    )

    docs = _t(spark, sf_dir, "documents")
    return image_features(synthetic_tiff_media(docs))


# Windows BMP round-trip (r11, multimodal/bmp.py): 24-bit BI_RGB with
# bottom-up BGR rows and 4-byte padding — the decoder's row/channel
# reordering is what the round-trip proves (a solid image would pass a
# broken reorder, so the codec unit tests pin pattern images; the query
# pins the Arrow-batch plumbing + closed-form features).
@register(
    "bmp_image_stats",
    "SELECT doc_id AS media_id, "
    "CAST(1 + doc_id % 16 AS INTEGER) AS width, "
    "CAST(1 + doc_id % 8 AS INTEGER) AS height, "
    "CAST(3 AS INTEGER) AS channels, "
    "CAST(8 AS INTEGER) AS bit_depth, "
    "CAST(doc_id % 256 AS DOUBLE) AS mean_pixel "
    "FROM documents",
    "M6-multimodal-codec",
)
def q_bmp_image_stats(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import (
        synthetic_bmp_media,
    )

    docs = _t(spark, sf_dir, "documents")
    return image_features(synthetic_bmp_media(docs))


# real lossless-WebP codec round-trip (stdlib VP8L prefix-coding codec,
# multimodal/webp.py — the round-5 verdict's top codec gap: WebP is the
# first format a web crawl hits among the former stubs): same shape and
# closed-form oracle discipline as png_image_stats — the generator's
# parameters are analytic in doc_id, so the oracle verifies the decoded
# features exactly without itself decoding anything, while the Spark
# side genuinely encodes and decodes RIFF/VP8L bytes in Arrow batches.
@register(
    "webp_image_stats",
    "SELECT doc_id AS media_id, "
    "CAST(1 + doc_id % 16 AS INTEGER) AS width, "
    "CAST(1 + doc_id % 8 AS INTEGER) AS height, "
    "CAST(3 AS INTEGER) AS channels, "
    "CAST(8 AS INTEGER) AS bit_depth, "
    "CAST(doc_id % 256 AS DOUBLE) AS mean_pixel "
    "FROM documents",
    "M6-multimodal-codec",
)
def q_webp_image_stats(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import (
        synthetic_webp_media,
    )

    docs = _t(spark, sf_dir, "documents")
    return image_features(synthetic_webp_media(docs))


# LOSSY WebP (VP8) round trip via the libwebp binding (r7,
# multimodal/native.py — the container ships libwebp.so.7; a from-spec
# pure-Python VP8 decoder was rejected: it needs ~3000 exact RFC 6386
# probability constants unavailable offline, and guessing them would be
# a silent compliance violation). The fixture is the solid-gray WebP
# shape encoded at quality 100; header dims survive exactly, and the
# solid value v = id % 256 survives within +-1 intensity step (chroma-
# subsampled YUV round-trip, measured over all 256 v on libwebp 7.1.5)
# — the bound IS the lossy contract, so the oracle asserts dims + the
# bound rather than a fake closed form for libwebp's rounding.
# Registration is CONDITIONAL on the library so an environment without
# libwebp keeps a clean registry instead of a query that can only
# raise (r7 review) — the suite's lossy tests skipif on the same gate.
from etl_online_retail_spark.multimodal.native import (  # noqa: E402
    libwebp_available as _libwebp_available,
)

if _libwebp_available():
    @register(
        "webp_lossy_image_stats",
        "SELECT doc_id AS media_id, "
        "CAST(1 + doc_id % 16 AS INTEGER) AS width, "
        "CAST(1 + doc_id % 8 AS INTEGER) AS height, "
        "CAST(3 AS INTEGER) AS channels, "
        "TRUE AS err_le_1 "
        "FROM documents",
        "M6-multimodal-codec",
    )
    def q_webp_lossy_image_stats(spark, sf_dir):
        from etl_online_retail_spark.multimodal.binary import (
            lossy_webp_roundtrip_features,
            synthetic_lossy_webp_media,
        )

        docs = _t(spark, sf_dir, "documents")
        return lossy_webp_roundtrip_features(
            synthetic_lossy_webp_media(docs))


# AVIF (AV1-in-HEIF) round trip via the libheif binding (r9,
# multimodal/heif.py — this container ships libheif 1.15.1 + aom/dav1d;
# the round-7 "no perceptual codecs" probe is stale, re-probed per the
# r8 verdict). Unlike lossy WebP, solid fixtures round-trip BIT-EXACTLY
# at quality 100 (constant Y, neutral chroma survive 4:2:0 + the DC-only
# transform — measured over all 512 (v, dims) combinations), so the
# oracle is the same exact closed form the lossless codecs use: the
# ordinary image_features path, no tolerance column. HEIC (HEVC via
# x265/de265) shares the binding and is exercised in the pytest suite
# (x265's ~25 ms/frame setup cost makes it a test fixture, not a bench
# row). Registration is conditional not just on the library being
# present (like webp_lossy) but on a MEASURED solid round trip being
# bit-exact (heif.avif_oracle_exact, r10): a libheif build with a
# different AV1 encoder/default params need not preserve solid frames
# at quality 100, and that build should degrade to "unregistered"
# rather than a hash-red oracle row. The probe runs ONE 8x6 encode+
# decode at import (~6 ms, cached per process) — a deliberate trade:
# registration must be decided at import for queries()/oracle_sql()
# consistency, and the robustness is worth milliseconds of driver
# startup (it never runs on executors; the decode UDFs load lazily).
from etl_online_retail_spark.multimodal.heif import (  # noqa: E402
    avif_oracle_exact as _avif_oracle_exact,
)

if _avif_oracle_exact():
    @register(
        "avif_image_stats",
        "SELECT doc_id AS media_id, "
        "CAST(1 + doc_id % 16 AS INTEGER) AS width, "
        "CAST(1 + doc_id % 8 AS INTEGER) AS height, "
        "CAST(3 AS INTEGER) AS channels, "
        "CAST(8 AS INTEGER) AS bit_depth, "
        "CAST(doc_id % 256 AS DOUBLE) AS mean_pixel "
        "FROM documents",
        "M6-multimodal-codec",
    )
    def q_avif_image_stats(spark, sf_dir):
        from etl_online_retail_spark.multimodal.binary import (
            synthetic_avif_media,
        )

        docs = _t(spark, sf_dir, "documents")
        return image_features(synthetic_avif_media(docs))


# LAION-shape image-text pair curation (r9): the canonical multimodal
# TRAINING-PAIR prep step — join genuinely-decoded image features with
# caption statistics and apply the standard keep rules (min dims, aspect
# bound, caption token/char bounds), emitting the FIRST failing rule as
# the reject reason (reason order is part of the contract, like
# constraint quarantine). The image leg really renders + decodes PNG
# (closed-form dims keep the oracle exact); the caption leg reuses the
# repo's token_count twins. At 100 TB this is one equi-join on the
# media key plus map-only feature stages — no extra shuffle beyond the
# join.
@register(
    "image_caption_filter",
    "SELECT media_id, width, height, caption_chars, caption_tokens, "
    "reason, reason IS NULL AS kept FROM ("
    "SELECT doc_id AS media_id, "
    "CAST(1 + doc_id % 16 AS INTEGER) AS width, "
    "CAST(1 + doc_id % 8 AS INTEGER) AS height, "
    "CAST(len(trim(text)) AS INTEGER) AS caption_chars, "
    f"{token_count_sql('text')} AS caption_tokens, "
    "CASE WHEN 1 + doc_id % 16 < 4 THEN 'image_too_narrow' "
    "WHEN 1 + doc_id % 8 < 3 THEN 'image_too_short' "
    "WHEN 1 + doc_id % 16 > 3 * (1 + doc_id % 8) THEN 'bad_aspect' "
    f"WHEN {token_count_sql('text')} < 20 THEN 'caption_too_short' "
    "WHEN len(trim(text)) > 400 THEN 'caption_too_long' "
    "END AS reason FROM documents)",
    "M6-multimodal-pairs",
)
def q_image_caption_filter(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import (
        synthetic_png_media,
    )

    docs = _t(spark, sf_dir, "documents")
    feats = image_features(synthetic_png_media(docs)).select(
        "media_id", "width", "height")
    caps = docs.select(
        F.col("doc_id").alias("media_id"),
        F.length(F.trim("text")).cast("int").alias("caption_chars"),
        token_count("text").alias("caption_tokens"))
    j = feats.join(caps, "media_id")
    reason = (F.when(F.col("width") < 4, "image_too_narrow")
              .when(F.col("height") < 3, "image_too_short")
              .when(F.col("width") > 3 * F.col("height"), "bad_aspect")
              .when(F.col("caption_tokens") < 20, "caption_too_short")
              .when(F.col("caption_chars") > 400, "caption_too_long"))
    return j.select("media_id", "width", "height", "caption_chars",
                    "caption_tokens", reason.alias("reason"),
                    reason.isNull().alias("kept"))


# real baseline-JPEG codec round-trip (stdlib Huffman+DCT codec,
# multimodal/jpeg.py): same shape as png_image_stats. Intensity is even
# (2 * (id % 128)) so the lossy codec is bit-exact on these fixtures and
# the oracle stays closed-form (see synthetic_jpeg_media docstring).
# real MP4/ISO-BMFF container DEMUX (r6): box-tree walk + full sample
# table expansion (stts/stsc/stsz/stco) over builder-synthesized files —
# the honest container-video boundary: demux is pure public-spec
# structure and runs for real; the codec payloads it yields stay opaque
# (decoding them needs ffmpeg-class libraries). Closed-form oracle, the
# codec-query discipline.
@register(
    "mp4_demux_stats",
    "SELECT doc_id AS media_id, 'isom' AS major_brand, "
    "'vide' AS handler, 'avc1' AS codec, "
    "CAST(64 + 16 * (doc_id % 8) AS INTEGER) AS width, "
    "CAST(64 AS INTEGER) AS height, "
    "CAST(100 * (1 + doc_id % 7) AS BIGINT) AS duration_ms, "
    "CAST(1 + doc_id % 7 AS INTEGER) AS n_samples, "
    "CAST((1 + doc_id % 7) * (8 + doc_id % 9) AS BIGINT) "
    "AS total_sample_bytes "
    "FROM documents",
    "M6-multimodal-container",
)
def q_mp4_demux_stats(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import (
        mp4_features,
        synthetic_mp4_media,
    )

    docs = _t(spark, sf_dir, "documents")
    return mp4_features(synthetic_mp4_media(docs))


# real WebM/EBML container DEMUX (r6): the matroska sibling of
# mp4_demux_stats — EBML vints, Segment/Info/Tracks walk, Cluster +
# SimpleBlock lacing into per-frame opaque payloads. Same honest
# boundary and closed-form-oracle discipline.
@register(
    "webm_demux_stats",
    "SELECT doc_id AS media_id, 'webm' AS doctype, 'V_VP9' AS codec_id, "
    "CAST(128 + 32 * (doc_id % 4) AS INTEGER) AS width, "
    "CAST(96 AS INTEGER) AS height, "
    "CAST(40 * (1 + doc_id % 8) AS BIGINT) AS duration_ms, "
    "CAST(1 + doc_id % 8 AS INTEGER) AS n_frames, "
    "CAST((1 + doc_id % 8) * (6 + doc_id % 7) AS BIGINT) "
    "AS total_frame_bytes "
    "FROM documents",
    "M6-multimodal-container",
)
def q_webm_demux_stats(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import (
        synthetic_webm_media,
        webm_features,
    )

    docs = _t(spark, sf_dir, "documents")
    return webm_features(synthetic_webm_media(docs))


# real PROGRESSIVE JPEG codec round-trip (SOF2 with successive
# approximation — all four Annex G scan kinds decoded for real, r6):
# same closed-form contract as jpeg_image_stats (identical quantized
# coefficients; only the scan script differs), so the oracle verifies
# the multi-scan decode exactly. Progressive is how most web JPEGs
# ship — the crawl-corpus format the baseline-only codec would reject.
@register(
    "progressive_jpeg_stats",
    "SELECT doc_id AS media_id, "
    "CAST(1 + doc_id % 16 AS INTEGER) AS width, "
    "CAST(1 + doc_id % 8 AS INTEGER) AS height, "
    "CAST(3 AS INTEGER) AS channels, "
    "CAST(8 AS INTEGER) AS bit_depth, "
    "CAST(2 * (doc_id % 128) AS DOUBLE) AS mean_pixel "
    "FROM documents",
    "M6-multimodal-codec",
)
def q_progressive_jpeg_stats(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import (
        synthetic_progressive_jpeg_media,
    )

    docs = _t(spark, sf_dir, "documents")
    return image_features(synthetic_progressive_jpeg_media(docs))


@register(
    "jpeg_image_stats",
    "SELECT doc_id AS media_id, "
    "CAST(1 + doc_id % 16 AS INTEGER) AS width, "
    "CAST(1 + doc_id % 8 AS INTEGER) AS height, "
    "CAST(3 AS INTEGER) AS channels, "
    "CAST(8 AS INTEGER) AS bit_depth, "
    "CAST(2 * (doc_id % 128) AS DOUBLE) AS mean_pixel "
    "FROM documents",
    "M6-multimodal-codec",
)
def q_jpeg_image_stats(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import synthetic_jpeg_media

    # CPU-bound Python codec work must spread across cores: the docs scan
    # is one file at small SFs, which would serialize the whole encode+
    # decode pipeline onto one task. Repartitioning before the Arrow stage
    # is the same move a 100 TB media pipeline makes (decoder parallelism
    # is sized to CPUs, not to the source file layout).
    docs = (_t(spark, sf_dir, "documents")
            .repartition(spark.sparkContext.defaultParallelism))
    return image_features(synthetic_jpeg_media(docs))


# resize stage (decode -> nearest-neighbor -> lossless re-encode): solid
# colors are invariant under nearest-neighbor + PNG re-encode, so the
# oracle pins exact output dims and the unchanged mean while Spark runs
# the full JPEG-decode -> resize -> PNG-encode -> PNG-decode chain.
RESIZE_W, RESIZE_H = 8, 4


@register(
    "image_resize_stats",
    "SELECT doc_id AS media_id, "
    f"CAST({RESIZE_W} AS INTEGER) AS width, "
    f"CAST({RESIZE_H} AS INTEGER) AS height, "
    "CAST(3 AS INTEGER) AS channels, "
    "CAST(8 AS INTEGER) AS bit_depth, "
    "CAST(2 * (doc_id % 128) AS DOUBLE) AS mean_pixel "
    "FROM documents",
    "M6-multimodal-resize",
)
def q_image_resize_stats(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import (
        resize_images,
        synthetic_jpeg_media,
    )

    docs = (_t(spark, sf_dir, "documents")
            .repartition(spark.sparkContext.defaultParallelism))
    return image_features(
        resize_images(synthetic_jpeg_media(docs), RESIZE_W, RESIZE_H))


# video frame sampling over MJPEG (back-to-back JPEG frames — sampled by
# walking the marker structure, never by byte-scanning): one row per
# SAMPLED frame, everything closed-form in (doc_id, frame_idx).
MJPEG_MAX_FRAMES = 5
MJPEG_EVERY_N = 2


@register(
    "mjpeg_frame_stats",
    f"""WITH f AS (
  SELECT doc_id, 1 + doc_id % {MJPEG_MAX_FRAMES} AS nf FROM documents),
s AS (
  SELECT doc_id, CAST(unnest(range(0, nf, {MJPEG_EVERY_N})) AS INTEGER) AS i
  FROM f)
SELECT doc_id AS media_id, i AS frame_idx,
  CAST(1 + doc_id % 16 AS INTEGER) AS width,
  CAST(1 + doc_id % 8 AS INTEGER) AS height,
  CAST(2 * ((doc_id + 7 * i) % 128) AS DOUBLE) AS mean_pixel
FROM s""",
    "M6-multimodal-frame-sample",
)
def q_mjpeg_frame_stats(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import (
        synthetic_mjpeg_media,
        video_frame_features,
    )

    docs = (_t(spark, sf_dir, "documents")
            .repartition(spark.sparkContext.defaultParallelism))
    return video_frame_features(
        synthetic_mjpeg_media(docs, max_frames=MJPEG_MAX_FRAMES),
        MJPEG_EVERY_N)


# G.711 mu-law audio: the companded telephony path beside linear PCM.
# Fixture amplitudes are exact mu-law codewords (see
# synthetic_ulaw_media), so the lossy compand->expand is bit-exact and
# the oracle stays closed-form: mean_abs = 132 * (2^(1 + id%6) - 1).
@register(
    "ulaw_audio_stats",
    "SELECT doc_id AS media_id, "
    "CAST(8000 AS INTEGER) AS sample_rate, "
    "CAST(1 AS INTEGER) AS channels, "
    "CAST(800 + 80 * (doc_id % 10) AS INTEGER) AS n_frames, "
    "CAST((800 + 80 * (doc_id % 10)) / 8 AS DOUBLE) AS duration_ms, "
    "CAST(132 * (CAST(POWER(2, 1 + doc_id % 6) AS BIGINT) - 1) AS DOUBLE) "
    "AS mean_abs "
    "FROM documents",
    "M6-multimodal-audio-ulaw",
)
def q_ulaw_audio_stats(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import (
        audio_features,
        synthetic_ulaw_media,
    )

    docs = _t(spark, sf_dir, "documents")
    return audio_features(synthetic_ulaw_media(docs))


# real COMPRESSED audio: IMA/DVI ADPCM (WAV format 0x11, 4:1) — the
# quantize/reconstruct feedback loop over block-structured nibbles, run
# for real both directions (wav.py, r6). Constant fixtures survive the
# lossy codec bit-exactly (the step-table zero-nibble invariant), so the
# oracle stays closed-form; bit_depth reports the 4-bit code width.
@register(
    "adpcm_audio_stats",
    "SELECT doc_id AS media_id, "
    "CAST(8000 AS INTEGER) AS sample_rate, "
    "CAST(1 AS INTEGER) AS channels, "
    "CAST(40 + 8 * (doc_id % 9) AS INTEGER) AS n_frames, "
    "CAST((40 + 8 * (doc_id % 9)) / 8 AS DOUBLE) AS duration_ms, "
    "CAST(ABS((doc_id % 2000) - 1000) AS DOUBLE) AS mean_abs "
    "FROM documents",
    "M6-multimodal-audio",
)
def q_adpcm_audio_stats(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import (
        audio_features,
        synthetic_adpcm_media,
    )

    docs = _t(spark, sf_dir, "documents")
    return audio_features(synthetic_adpcm_media(docs))


# real LOSSLESS COMPRESSED audio: FLAC (multimodal/flac.py, RFC 9639) —
# fixed-predictor selection + Rice residual coding run for real both
# directions; losslessness (MD5-verified in decode) keeps the sawtooth
# fixture's features closed-form: m = 8*(1 + id%8), reps = 30 + id%5,
# n = m*reps (multiple of 8), mean_abs = (m-1)/2 exact in DOUBLE.
@register(
    "flac_audio_stats",
    "SELECT doc_id AS media_id, "
    "CAST(8000 AS INTEGER) AS sample_rate, "
    "CAST(1 AS INTEGER) AS channels, "
    "CAST((8 * (1 + doc_id % 8)) * (30 + doc_id % 5) AS INTEGER) "
    "AS n_frames, "
    "CAST((8 * (1 + doc_id % 8)) * (30 + doc_id % 5) / 8 AS DOUBLE) "
    "AS duration_ms, "
    "CAST((8 * (1 + doc_id % 8) - 1) / 2.0 AS DOUBLE) AS mean_abs "
    "FROM documents",
    "M6-multimodal-audio-flac",
)
def q_flac_audio_stats(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import (
        audio_features,
        synthetic_flac_media,
    )

    docs = _t(spark, sf_dir, "documents")
    return audio_features(synthetic_flac_media(docs))


# real GIF codec round-trip (stdlib LZW, multimodal/gif.py): the
# png_image_stats shape — solid value = id % 256 through the grayscale
# palette, closed-form oracle, Spark genuinely LZW-encodes and decodes.
@register(
    "gif_image_stats",
    "SELECT doc_id AS media_id, "
    "CAST(1 + doc_id % 16 AS INTEGER) AS width, "
    "CAST(1 + doc_id % 8 AS INTEGER) AS height, "
    "CAST(3 AS INTEGER) AS channels, "
    "CAST(8 AS INTEGER) AS bit_depth, "
    "CAST(doc_id % 256 AS DOUBLE) AS mean_pixel "
    "FROM documents",
    "M6-multimodal-codec",
)
def q_gif_image_stats(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import (
        image_features,
        synthetic_gif_media,
    )

    docs = _t(spark, sf_dir, "documents")
    return image_features(synthetic_gif_media(docs))


# animated GIF per-frame decode: the mjpeg_frame_stats shape driven by
# the container's image-descriptor walk (every frame, no sampling stride).
GIF_MAX_FRAMES = 4


@register(
    "gif_frame_stats",
    f"""WITH f AS (
  SELECT doc_id, 1 + doc_id % {GIF_MAX_FRAMES} AS nf FROM documents),
s AS (
  SELECT doc_id, CAST(unnest(range(0, nf)) AS INTEGER) AS i FROM f)
SELECT doc_id AS media_id, i AS frame_idx,
  CAST(1 + doc_id % 16 AS INTEGER) AS width,
  CAST(1 + doc_id % 8 AS INTEGER) AS height,
  CAST((doc_id + 85 * i) % 256 AS DOUBLE) AS mean_pixel
FROM s""",
    "M6-multimodal-frame-sample",
)
def q_gif_frame_stats(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import (
        gif_frame_features,
        synthetic_animated_gif_media,
    )

    docs = (_t(spark, sf_dir, "documents")
            .repartition(spark.sparkContext.defaultParallelism))
    return gif_frame_features(
        synthetic_animated_gif_media(docs, max_frames=GIF_MAX_FRAMES))


# audio: real WAV/PCM decode (multimodal/wav) — duration and amplitude
# closed-form in the id (see synthetic_wav_media for the exactness note).
@register(
    "wav_audio_stats",
    "SELECT doc_id AS media_id, "
    "CAST(8000 AS INTEGER) AS sample_rate, "
    "CAST(1 AS INTEGER) AS channels, "
    "CAST(800 + 80 * (doc_id % 10) AS INTEGER) AS n_frames, "
    "CAST((800 + 80 * (doc_id % 10)) / 8 AS DOUBLE) AS duration_ms, "
    "CAST(ABS((doc_id % 2000) - 1000) AS DOUBLE) AS mean_abs "
    "FROM documents",
    "M6-multimodal-audio",
)
def q_wav_audio_stats(spark, sf_dir):
    from etl_online_retail_spark.multimodal.binary import (
        audio_features,
        synthetic_wav_media,
    )

    docs = (_t(spark, sf_dir, "documents")
            .repartition(spark.sparkContext.defaultParallelism))
    return audio_features(synthetic_wav_media(docs))


# ---------------------------------------------------------------------------
# temporal joins: as-of + bounded range — operators Spark lacks natively
# (operators/joins.py as_of_join / range_self_join_within). DuckDB has a
# native ASOF JOIN, which makes a rare engine-native oracle for the
# union+window implementation.

@register(
    "events_asof_orders",
    # right side deduped to one row per (custkey, orderdate): ASOF ties on
    # the timestamp are engine-arbitrary, so no oracle could reproduce them
    "WITH latest AS ("
    "  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS asof_orderkey, "
    "         arg_max(o_totalprice, o_orderkey) AS asof_totalprice "
    "  FROM orders GROUP BY o_custkey, o_orderdate) "
    "SELECT e.event_id, e.user_id, e.ts, l.o_orderdate AS asof_orderdate, "
    "       l.asof_orderkey, l.asof_totalprice "
    "FROM events e ASOF LEFT JOIN latest l "
    "  ON e.user_id = l.o_custkey AND e.ts >= l.o_orderdate",
    "M6-asof-join",
)
def q_events_asof_orders(spark, sf_dir):
    from etl_online_retail_spark.operators.joins import as_of_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders")
    latest = (orders.groupBy("o_custkey", "o_orderdate")
              .agg(F.max("o_orderkey").alias("asof_orderkey"),
                   F.max_by("o_totalprice", "o_orderkey")
                    .alias("asof_totalprice")))
    joined = as_of_join(
        ev, latest, "user_id", "o_custkey", "ts", "o_orderdate",
        payload=["o_orderdate", "asof_orderkey", "asof_totalprice"])
    return joined.select("event_id", "user_id", "ts",
                         F.col("o_orderdate").alias("asof_orderdate"),
                         "asof_orderkey", "asof_totalprice")


PAIR_WINDOW_US = 3_600_000_000  # 1 hour


@register(
    "events_pairs_within",
    "SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b, "
    "date_diff('microsecond', a.ts, b.ts) AS gap_us "
    "FROM events a JOIN events b ON a.user_id = b.user_id "
    "AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR "
    "AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))",
    "M6-range-join",
)
def q_events_pairs_within(spark, sf_dir):
    from etl_online_retail_spark.operators.joins import range_self_join_within

    ev = _t(spark, sf_dir, "events")
    return range_self_join_within(ev, "user_id", "ts", "event_id",
                                  PAIR_WINDOW_US)


# ---------------------------------------------------------------------------
# local-gate oracle acceleration: materialize the shared shingle relations
# once per DuckDB connection instead of re-folding the per-character hash
# inside each of the 7 shingle oracles (ROADMAP 2). The driver's gate runs
# the portable inline strings unchanged; only the local verifier opts in.

ORACLE_MATERIALIZATIONS: dict[str, str] = {
    "_mat_sh2": SH_BODY,
    "_mat_sh3": SH3_BODY,
    "_mat_tok": TOK_BODY,
    "_mat_dsir": _DSIR_GRAMS,
}

_LOCALIZE_REWRITES: tuple[tuple[str, str], ...] = (
    (SH_BODY, "SELECT _id, _sh FROM _mat_sh2"),
    (SH3_BODY, "SELECT doc_id, _sh FROM _mat_sh3"),
    (TOK_BODY, "SELECT doc_id, term FROM _mat_tok"),
    (_DSIR_GRAMS, "SELECT doc_id, source, is_t, gh FROM _mat_dsir"),
)


def localize_oracle(sql: str) -> str:
    """Rewrite a portable oracle to read the pre-materialized shingle temp
    tables. Pure textual substitution of the exact canonical bodies the
    temp tables were CREATE'd from, so equivalence holds by construction."""
    for body, table_select in _LOCALIZE_REWRITES:
        sql = sql.replace(body, table_select)
    return sql


def materialize_oracle_tables(con) -> None:
    """Create the shared temp tables on a DuckDB connection (one shingle
    evaluation each, shared by every localized oracle)."""
    for name, body in ORACLE_MATERIALIZATIONS.items():
        con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS {body}")


# ---------------------------------------------------------------------------
# physical-layout introspection (r5): per-row-group footer statistics —
# the metadata scan planners prune with. The oracle states the SEMANTIC
# contract rather than re-reading footers (DuckDB's parquet_metadata()
# needs a literal path the portable oracle cannot carry): the driver
# testdata ships ONE row group per single-file table, so every footer
# min/max must equal the column's true extremes — the footer-integrity
# check itself. Int/string columns only (float/timestamp stat reprs
# differ between engines' printers; documented in the operator).

_FOOTER_COLS = ("o_orderkey", "o_custkey", "o_orderstatus",
                "o_orderpriority")

_FOOTER_ORACLE = "\nUNION ALL\n".join(
    f"SELECT 0 AS file_idx, 0 AS row_group, COUNT(*) AS n_rows, "
    f"'{c}' AS \"column\", CAST(MIN({c}) AS VARCHAR) AS min_value, "
    f"CAST(MAX({c}) AS VARCHAR) AS max_value FROM orders"
    for c in _FOOTER_COLS)


@register("orders_footer_stats", _FOOTER_ORACLE, "M6-layout-footer-stats")
def q_orders_footer_stats(spark, sf_dir):
    from etl_online_retail_spark.operators.layout import (
        parquet_layout_stats,
    )

    return parquet_layout_stats(
        spark, f"{sf_dir}/orders.parquet", list(_FOOTER_COLS))


# ---------------------------------------------------------------------------
# WARC crawl ingest (r12, sources/warc.py): the raw-input end of the
# training-data pipeline. Archives are built closed-form from documents
# rows (two records each — warcinfo + HTTP response; odd ids as
# per-record gzip members, even ids plain), so the oracle verifies the
# full build -> member-split -> record-walk -> HTTP-parse path without
# touching a byte of WARC, exactly the multimodal codec discipline.


@register(
    "warc_record_stats",
    "SELECT doc_id AS archive_id, CAST(2 AS INTEGER) AS n_records, "
    "CAST(200 AS INTEGER) AS http_status, "
    "'text/plain; charset=utf-8' AS content_type, "
    "CAST(length(text) AS BIGINT) AS body_chars "
    "FROM documents",
    "M7-warc-ingest",
)
def q_warc_record_stats(spark, sf_dir):
    from etl_online_retail_spark.sources.warc import (
        synthetic_crawl_archives,
        warc_records,
    )

    docs = _t(spark, sf_dir, "documents")
    recs = warc_records(synthetic_crawl_archives(docs, html=False))
    is_resp = F.col("warc_type") == "response"
    return (recs.groupBy("archive_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_records"),
                 F.max(F.when(is_resp, F.col("http_status")))
                  .alias("http_status"),
                 F.max(F.when(is_resp, F.col("content_type")))
                  .alias("content_type"),
                 F.max(F.when(is_resp,
                              F.length(F.decode(F.col("body"), "UTF-8"))))
                  .cast("bigint").alias("body_chars")))


# HTML -> text extraction round trip (functions/html_text.py): the
# response bodies are full HTML pages (escaped text inside the one <p>;
# script/style subtrees that must be DROPPED; entities that must decode)
# and the query returns the EXTRACTED TEXT ITSELF — the driver's value
# hash against the raw documents table is then a bit-exact proof that
# gzip-member split + record walk + HTTP parse + tag strip + entity
# decode compose losslessly.


@register(
    "warc_html_extract",
    "SELECT doc_id, text FROM documents",
    "M7-warc-html-extract",
)
def q_warc_html_extract(spark, sf_dir):
    from etl_online_retail_spark.functions.html_text import (
        extract_html_text,
    )
    from etl_online_retail_spark.sources.warc import (
        synthetic_crawl_archives,
        warc_records,
    )

    docs = _t(spark, sf_dir, "documents")
    recs = warc_records(synthetic_crawl_archives(docs, html=True))
    responses = (recs.filter(F.col("warc_type") == "response")
                 .select(F.col("archive_id").alias("doc_id"), "body"))
    return extract_html_text(responses, "body", "doc_id", collapse=False)


# the crawl chain composed with curation: quality-score the text
# EXTRACTED from the HTML crawl (not the table column) — the oracle runs
# the quality battery on documents directly, so a pass proves the
# crawl leg is transparent to the downstream scorer.


@register(
    "warc_corpus_quality",
    f"SELECT doc_id, {token_count_sql('text')} AS n_tokens, "
    f"ROUND({_QUALITY_SQL}, 6) AS quality "
    "FROM documents",
    "M7-warc-curation-chain",
)
def q_warc_corpus_quality(spark, sf_dir):
    from etl_online_retail_spark.functions.html_text import (
        extract_html_text,
    )
    from etl_online_retail_spark.operators.curation import quality_expr
    from etl_online_retail_spark.sources.warc import (
        synthetic_crawl_archives,
        warc_records,
    )

    docs = _t(spark, sf_dir, "documents")
    recs = warc_records(synthetic_crawl_archives(docs, html=True))
    responses = (recs.filter(F.col("warc_type") == "response")
                 .select(F.col("archive_id").alias("doc_id"), "body"))
    extracted = extract_html_text(responses, "body", "doc_id",
                                  collapse=False)
    return extracted.select(
        "doc_id", token_count("text").alias("n_tokens"),
        F.round(quality_expr("text"), 6).alias("quality"))


# ---------------------------------------------------------------------------
# URL canonicalization (r12, functions/url.py): the crawl-dedup key.
# Spark builds five messy spellings of each page URL closed-form in
# doc_id (scheme/host case, explicit default port, fragment, trailing
# slash, tracking params, parameter order) and canonicalizes them
# JVM-side; the oracle computes the expected canonical DIRECTLY from the
# row — so a hash match proves every normalization step, not that two
# engines share a bug. Pure whole-stage-codegen string algebra: the only
# shuffle is the final dedup groupBy.


@register(
    "url_canonical_dedup",
    "SELECT source, CAST(doc_id % 50 AS BIGINT) AS page, "
    "'http://' || source || '/p/' || CAST(doc_id % 50 AS VARCHAR) "
    "|| '?a=' || CAST(doc_id % 50 AS VARCHAR) "
    "|| '&id=' || CAST(doc_id % 50 AS VARCHAR) AS canonical_url, "
    "COUNT(*) AS n_urls "
    "FROM documents GROUP BY 1, 2, 3",
    "M7-url-canonicalization",
)
def q_url_canonical_dedup(spark, sf_dir):
    from etl_online_retail_spark.functions.url import canonical_url

    docs = _t(spark, sf_dir, "documents")
    page = F.col("doc_id") % 50
    p = page.cast("string")
    src = F.col("source")
    v = F.col("doc_id") % 5
    base_q = F.concat(F.lit("?a="), p, F.lit("&id="), p)
    url = (
        F.when(v == 0, F.concat(
            F.lit("http://"), src, F.lit("/p/"), p, base_q))
        .when(v == 1, F.concat(
            F.lit("HTTP://"), F.upper(src), F.lit(":80/p/"), p, base_q,
            F.lit("#sec-2")))
        .when(v == 2, F.concat(
            F.lit("http://"), src, F.lit("/p/"), p,
            F.lit("/?utm_source=feed&a="), p, F.lit("&id="), p))
        .when(v == 3, F.concat(
            F.lit("http://"), src, F.lit("/p/"), p, F.lit("?id="), p,
            F.lit("&a="), p, F.lit("&gclid=x1")))
        .otherwise(F.concat(
            F.lit("http://"), src, F.lit(":80/p/"), p, F.lit("/?id="),
            p, F.lit("&utm_campaign=z&a="), p)))
    return (docs.select("source", page.cast("bigint").alias("page"),
                        canonical_url(url).alias("canonical_url"))
            .groupBy("source", "page", "canonical_url")
            .agg(F.count(F.lit(1)).alias("n_urls")))


# ---------------------------------------------------------------------------
# robots.txt URL filtering (r12, functions/robots.py): RFC 9309
# longest-match compliance as a broadcast join + one max_by. Every host
# (source) publishes the same fixture robots.txt exercising the spec's
# decision rules — longest prefix wins, Allow beats Disallow on exact
# ties, unmatched paths default to allowed — and each doc's URL path is
# chosen closed-form by doc_id % 6, so the oracle STATES the expected
# decision per variant instead of re-implementing the matcher.

ROBOTS_FIXTURE = """\
# crawl policy fixture
User-agent: *
Disallow: /private/
Allow: /private/pub/
Disallow: /p/tmp
Allow: /p/tmp          # exact tie with the Disallow: Allow wins
Disallow:

User-agent: special-bot
Disallow: /
"""

_ROBOTS_PATHS = [
    "/p/{i}",            # 0: no rule matches -> allowed
    "/private/{i}",      # 1: Disallow /private/ -> denied
    "/private/pub/{i}",  # 2: longer Allow overrides -> allowed
    "/p/tmp{i}",         # 3: equal-length Allow/Disallow tie -> allowed
    "/P/tmp{i}",         # 4: prefixes are case-sensitive -> allowed
    "/private",          # 5: '/private' misses 'Disallow: /private/'
]


@register(
    "robots_url_filter",
    "SELECT doc_id, source AS host, "
    "CASE doc_id % 6 "
    "  WHEN 0 THEN '/p/' || CAST(doc_id % 50 AS VARCHAR) "
    "  WHEN 1 THEN '/private/' || CAST(doc_id % 50 AS VARCHAR) "
    "  WHEN 2 THEN '/private/pub/' || CAST(doc_id % 50 AS VARCHAR) "
    "  WHEN 3 THEN '/p/tmp' || CAST(doc_id % 50 AS VARCHAR) "
    "  WHEN 4 THEN '/P/tmp' || CAST(doc_id % 50 AS VARCHAR) "
    "  ELSE '/private' END AS path, "
    "(doc_id % 6) NOT IN (1) AS allowed "
    "FROM documents",
    "M7-robots-compliance",
)
def q_robots_url_filter(spark, sf_dir):
    from etl_online_retail_spark.functions.robots import (
        robots_decisions,
        robots_rules,
    )

    docs = _t(spark, sf_dir, "documents")
    hosts = docs.select(F.col("source").alias("host")).distinct() \
        .withColumn("robots_txt", F.lit(ROBOTS_FIXTURE))
    rules = robots_rules(hosts)
    i = (F.col("doc_id") % 50).cast("string")
    v = F.col("doc_id") % 6
    path = (F.when(v == 0, F.concat(F.lit("/p/"), i))
            .when(v == 1, F.concat(F.lit("/private/"), i))
            .when(v == 2, F.concat(F.lit("/private/pub/"), i))
            .when(v == 3, F.concat(F.lit("/p/tmp"), i))
            .when(v == 4, F.concat(F.lit("/P/tmp"), i))
            .otherwise(F.lit("/private")))
    urls = docs.select("doc_id", F.col("source").alias("host"),
                       path.alias("path"))
    return robots_decisions(urls, rules)


# main-content extraction (r12, functions/html_text.py text_blocks /
# extract_main_content): the readability/jusText-class block
# link-density heuristic — how a crawl pipeline extracts TRAINING text
# rather than site chrome. The chrome fixture surrounds each document's
# payload <p> (first 10 chars inside an inline anchor: density ~0.2,
# must be KEPT) with a nav bar, a related-links list and a footer, each
# ~100% link density (must be DROPPED) — so returning the raw document
# text bit-exactly proves both the keep and the drop side of the
# threshold, through the full WARC -> HTTP -> block-segmentation path.
#
# ORACLE ASSUMPTION (r12 advice): the `SELECT doc_id, text` twin holds
# because fixture text is strictly SINGLE-SPACED. _BlockSegmenter
# whitespace-COLLAPSES block text, and link density divides raw anchor
# chars by the collapsed length — so a documents-datagen change that
# introduces runs of whitespace would (a) hash-mismatch here (collapsed
# vs raw text) and (b) could push the payload block past the 0.5
# density threshold. If this query starts failing after a testdata
# refresh, check the fixture's whitespace before suspecting the
# extractor.


@register(
    "main_content_extract",
    "SELECT doc_id, text FROM documents",
    "M7-main-content-extraction",
)
def q_main_content_extract(spark, sf_dir):
    from etl_online_retail_spark.functions.html_text import (
        extract_main_text,
    )
    from etl_online_retail_spark.sources.warc import (
        synthetic_crawl_archives,
        warc_records,
    )

    docs = _t(spark, sf_dir, "documents")
    recs = warc_records(synthetic_crawl_archives(docs, chrome=True))
    responses = (recs.filter(F.col("warc_type") == "response")
                 .select(F.col("archive_id").alias("doc_id"), "body"))
    return extract_main_text(responses, "body", "doc_id")


# ---------------------------------------------------------------------------
# SFT/chat conversation prep (r12, operators/conversations.py): parse ->
# validate -> flatten, the instruction-tuning analogue of the crawl
# chain. Each document becomes a 3-turn JSON conversation closed-form in
# (doc_id, text) — every 7th with its user/assistant turns SWAPPED, the
# classic scraped-SFT corruption the validator must flag — built with
# to_json and re-parsed with from_json (a real round trip on the Spark
# side), while the oracle states the expected n_turns / validity / flat
# training string directly from text slices. Flat-string hash equality
# proves the template render byte-for-byte.

SFT_SYSTEM = "You are a helpful assistant."


def _sft_conversations(spark, sf_dir):
    """The shared SFT fixture relation (doc_id, raw_json): one 3-turn
    conversation per document, halves of the text as the user/assistant
    contents, every 7th with the turns SWAPPED (the corruption the
    validator must flag). Defined ONCE so chat_sft_prep and
    sft_loss_spans — and their oracles' arithmetic — can never
    desynchronize (r12 review)."""
    docs = _t(spark, sf_dir, "documents")
    half = F.floor(F.length("text") / 2).cast("int")
    user = F.substring(F.col("text"), F.lit(1), half)
    assistant = F.substring(F.col("text"), half + F.lit(1),
                            F.length("text"))
    sys_turn = F.struct(F.lit("system").alias("role"),
                        F.lit(SFT_SYSTEM).alias("content"))
    u_turn = F.struct(F.lit("user").alias("role"), user.alias("content"))
    a_turn = F.struct(F.lit("assistant").alias("role"),
                      assistant.alias("content"))
    turns = F.when(F.col("doc_id") % 7 != 0,
                   F.array(sys_turn, u_turn, a_turn)) \
             .otherwise(F.array(sys_turn, a_turn, u_turn))
    return docs.select("doc_id", F.to_json(turns).alias("raw_json"))


@register(
    "chat_sft_prep",
    "SELECT doc_id, CAST(3 AS INTEGER) AS n_turns, "
    "doc_id % 7 <> 0 AS alternation_ok, "
    "CASE WHEN doc_id % 7 <> 0 THEN "
    f"'<|system|>{SFT_SYSTEM}<|user|>' "
    "|| substr(text, 1, CAST(floor(length(text) / 2) AS INTEGER)) "
    "|| '<|assistant|>' "
    "|| substr(text, CAST(floor(length(text) / 2) AS INTEGER) + 1) "
    "ELSE "
    f"'<|system|>{SFT_SYSTEM}<|assistant|>' "
    "|| substr(text, CAST(floor(length(text) / 2) AS INTEGER) + 1) "
    "|| '<|user|>' "
    "|| substr(text, 1, CAST(floor(length(text) / 2) AS INTEGER)) "
    "END AS flat "
    "FROM documents",
    "M7-sft-conversation-prep",
)
def q_chat_sft_prep(spark, sf_dir):
    from etl_online_retail_spark.operators.conversations import sft_prep

    return sft_prep(_sft_conversations(spark, sf_dir), "raw_json")


# loss spans: the char ranges of the flat training string a trainer
# computes loss on (assistant completions; everything else masks). The
# sequential F.aggregate fold carries a running offset, so the oracle —
# pure tag-length arithmetic over the same text slices — verifies the
# fold's offsets exactly. Tag lengths: <|system|>=10, <|user|>=8,
# <|assistant|>=13; half = floor(len/2).


@register(
    "sft_loss_spans",
    "WITH h AS (SELECT doc_id, length(text) AS n, "
    "CAST(floor(length(text) / 2) AS INTEGER) AS half FROM documents) "
    "SELECT doc_id, CAST(1 AS INTEGER) AS n_spans, "
    "CASE WHEN doc_id % 7 <> 0 "
    f"THEN 10 + {len(SFT_SYSTEM)} + 8 + half + 13 "
    f"ELSE 10 + {len(SFT_SYSTEM)} + 13 END AS span_start, "
    "CASE WHEN doc_id % 7 <> 0 "
    f"THEN 10 + {len(SFT_SYSTEM)} + 8 + half + 13 + (n - half) "
    f"ELSE 10 + {len(SFT_SYSTEM)} + 13 + (n - half) END AS span_end "
    "FROM h",
    "M7-sft-loss-masking",
)
def q_sft_loss_spans(spark, sf_dir):
    from etl_online_retail_spark.operators.conversations import (
        loss_spans,
        parse_conversations,
    )

    parsed = parse_conversations(_sft_conversations(spark, sf_dir),
                                 "raw_json")
    spans = parsed.select("doc_id", loss_spans("turns").alias("_s"))
    first = F.element_at("_s", 1)
    return spans.select(
        "doc_id", F.size("_s").alias("n_spans"),
        first["start"].cast("bigint").alias("span_start"),
        first["end"].cast("bigint").alias("span_end"))


# SFT packing with loss-span re-basing (r13, operators/packing.py
# pack_loss_spans): what a trainer actually consumes — documents'
# training strings concatenated per source and cut every
# SFT_PACK_BUDGET chars, with each assistant loss span re-based into
# PACKED-sequence coordinates and split at every cut it straddles.
# The Spark side composes the real chain (parse -> flatten -> spans ->
# window offsets -> explode); the oracle restates it as pure tag-length
# arithmetic: flat length is ALWAYS 59 + n (the three tags + system
# prompt cost 59 chars whatever the turn order), the span is the
# sft_loss_spans oracle's, the offset a window SUM per source, and the
# split a correlated generate_series — so every local offset is
# integer-hash-verified across engines, including pieces that cross
# pack boundaries.

SFT_PACK_BUDGET = 512
_SFT_TAGS = 10 + 8 + 13      # <|system|> + <|user|> + <|assistant|>
_SFT_FLAT_EXTRA = _SFT_TAGS + len(SFT_SYSTEM)          # 59
_SFT_SWAP_START = 10 + len(SFT_SYSTEM) + 13            # swapped: sys+asst tags

_SFT_PACK_ORACLE = f"""
WITH h AS (SELECT doc_id, source, length(text) AS n,
                  CAST(floor(length(text) / 2) AS INTEGER) AS half
           FROM documents),
f AS (SELECT doc_id, source,
             CAST({_SFT_FLAT_EXTRA} + n AS BIGINT) AS flen,
             CAST(CASE WHEN doc_id % 7 <> 0
                  THEN {10 + len(SFT_SYSTEM) + 8} + half + 13
                  ELSE {_SFT_SWAP_START} END AS BIGINT) AS ss,
             CAST(CASE WHEN doc_id % 7 <> 0
                  THEN {_SFT_FLAT_EXTRA} + n
                  ELSE {_SFT_SWAP_START} + (n - half) END AS BIGINT) AS se
      FROM h),
o AS (SELECT *, CAST(SUM(flen) OVER (PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - flen
          AS BIGINT) AS off
      FROM f),
g AS (SELECT doc_id, source, off + ss AS gs, off + se AS ge
      FROM o WHERE se > ss),
x AS (SELECT doc_id, source, gs, ge,
             unnest(range(gs // {SFT_PACK_BUDGET},
                          (ge - 1) // {SFT_PACK_BUDGET} + 1)) AS sq
      FROM g)
SELECT source, doc_id, CAST(0 AS INTEGER) AS span_idx,
       CAST(sq AS BIGINT) AS seq_id,
       CAST(GREATEST(gs, sq * {SFT_PACK_BUDGET})
            - sq * {SFT_PACK_BUDGET} AS BIGINT) AS local_start,
       CAST(LEAST(ge, (sq + 1) * {SFT_PACK_BUDGET})
            - sq * {SFT_PACK_BUDGET} AS BIGINT) AS local_end
FROM x
"""


@register("sft_packed_spans", _SFT_PACK_ORACLE, "M7-sft-packed-spans")
def q_sft_packed_spans(spark, sf_dir):
    from etl_online_retail_spark.operators.conversations import (
        flatten_chat,
        loss_spans,
        parse_conversations,
    )
    from etl_online_retail_spark.operators.packing import pack_loss_spans

    docs = _t(spark, sf_dir, "documents")
    parsed = parse_conversations(_sft_conversations(spark, sf_dir),
                                 "raw_json")
    sft = parsed.select(
        "doc_id",
        F.length(flatten_chat("turns")).alias("flat_len"),
        loss_spans("turns").alias("spans"))
    with_src = sft.join(docs.select("doc_id", "source"), "doc_id")
    return pack_loss_spans(with_src, SFT_PACK_BUDGET, "flat_len",
                           "spans", id_col="doc_id", group_col="source")


# ---------------------------------------------------------------------------
# Preference-pair (DPO / reward-model) prep (r13, operators/
# preferences.py): the stage after SFT — validate (prompt, chosen,
# rejected) triples, render both branches through the SAME chat
# template with response-only loss spans, dedup prompts keep-first,
# and audit length margins. The fixture derives pairs closed-form from
# documents: prompt/chosen are the text halves, rejected is
# reverse(chosen) — same length, margin 0 — except every 11th pair
# (empty rejected: the corrupt-side case) and every 7th (rejected ==
# chosen: the zero-signal case the validator must flag). ASCII fixture
# text, so reverse() agrees across engines character-for-character.
# Everything is concat + length arithmetic: fully hash-verified.

_DPO_PAIRS_CTE = f"""
h AS (SELECT doc_id, source, text,
             CAST(floor(length(text) / 2) AS INTEGER) AS half
      FROM documents),
pr AS (SELECT doc_id, source,
              substr(text, 1, half) AS prompt,
              substr(text, half + 1) AS chosen,
              CASE WHEN doc_id % 11 = 0 THEN ''
                   WHEN doc_id % 7 = 0 THEN substr(text, half + 1)
                   ELSE reverse(substr(text, half + 1)) END AS rejected
       FROM h)
"""

_DPO_REASON_SQL = """
CASE WHEN prompt IS NULL OR length(prompt) = 0 THEN 'empty_prompt'
     WHEN chosen IS NULL OR length(chosen) = 0 THEN 'empty_chosen'
     WHEN rejected IS NULL OR length(rejected) = 0 THEN 'empty_rejected'
     WHEN chosen = rejected THEN 'zero_signal'
     ELSE 'ok' END
"""

_DPO_PREP_ORACLE = f"""
WITH {_DPO_PAIRS_CTE}
SELECT doc_id, {_DPO_REASON_SQL} AS reason,
       '<|user|>' || prompt || '<|assistant|>' || chosen AS flat_chosen,
       CAST(21 + length(prompt) AS INTEGER) AS chosen_start,
       CAST(21 + length(prompt) + length(chosen) AS INTEGER) AS chosen_end,
       '<|user|>' || prompt || '<|assistant|>' || rejected
           AS flat_rejected,
       CAST(21 + length(prompt) AS INTEGER) AS rejected_start,
       CAST(21 + length(prompt) + length(rejected) AS INTEGER)
           AS rejected_end
FROM pr
"""


def _dpo_pairs(spark, sf_dir):
    """The shared DPO fixture relation (doc_id, source, prompt, chosen,
    rejected) — defined once so all three preference queries and their
    oracles derive from the same arithmetic (the _sft_conversations
    convention)."""
    docs = _t(spark, sf_dir, "documents")
    half = F.floor(F.length("text") / 2).cast("int")
    chosen = F.substring(F.col("text"), half + F.lit(1),
                         F.length("text"))
    return docs.select(
        "doc_id", "source",
        F.substring(F.col("text"), F.lit(1), half).alias("prompt"),
        chosen.alias("chosen"),
        F.when(F.col("doc_id") % 11 == 0, F.lit(""))
         .when(F.col("doc_id") % 7 == 0, chosen)
         .otherwise(F.reverse(chosen)).alias("rejected"))


@register("dpo_pair_prep", _DPO_PREP_ORACLE, "M7-dpo-pair-prep")
def q_dpo_pair_prep(spark, sf_dir):
    from etl_online_retail_spark.operators.preferences import dpo_prep

    pairs = _dpo_pairs(spark, sf_dir)
    return dpo_prep(pairs).select(
        "doc_id", "reason", "flat_chosen", "chosen_start", "chosen_end",
        "flat_rejected", "rejected_start", "rejected_end")


_DPO_STATS_ORACLE = f"""
WITH {_DPO_PAIRS_CTE},
v AS (SELECT source, prompt, chosen, rejected,
             {_DPO_REASON_SQL} AS reason,
             CAST(length(chosen) AS BIGINT)
                 - CAST(length(rejected) AS BIGINT) AS margin
      FROM pr)
SELECT source,
       COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_valid,
       CAST(SUM(CASE WHEN reason = 'zero_signal' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_zero_signal,
       COUNT(DISTINCT prompt) AS n_prompts,
       CAST(SUM(CASE WHEN reason = 'ok' THEN margin ELSE 0 END)
            AS BIGINT) AS margin_sum,
       CAST(SUM(CASE WHEN reason = 'ok' THEN abs(margin) ELSE 0 END)
            AS BIGINT) AS abs_margin_sum
FROM v GROUP BY source
"""


@register("preference_pair_stats", _DPO_STATS_ORACLE,
          "M7-preference-pair-stats")
def q_preference_pair_stats(spark, sf_dir):
    from etl_online_retail_spark.operators.preferences import pair_stats

    return pair_stats(_dpo_pairs(spark, sf_dir))


# prompt dedup: collide prompts on (source, doc_id % 10) so keep-first
# actually has work to do — the datagen assigns source by doc_id
# modulus, so the buckets collapse hard (sf0.01: 500 pairs -> 20
# surviving prompts, each the minimum doc_id of its group), payload
# column verified intact through the semi-join.
_PROMPT_DEDUP_ORACLE = """
WITH p AS (SELECT doc_id,
                  source || '#' || CAST(doc_id % 10 AS VARCHAR) AS prompt,
                  length(text) AS chosen_len
           FROM documents),
r AS (SELECT doc_id, prompt, chosen_len,
             ROW_NUMBER() OVER (PARTITION BY prompt ORDER BY doc_id)
                 AS rn
      FROM p)
SELECT prompt, doc_id AS pair_id, CAST(chosen_len AS BIGINT) AS chosen_len
FROM r WHERE rn = 1
"""


@register("prompt_dedup_pairs", _PROMPT_DEDUP_ORACLE,
          "M7-prompt-dedup-keep-first")
def q_prompt_dedup_pairs(spark, sf_dir):
    from etl_online_retail_spark.operators.preferences import (
        dedup_prompts,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = docs.select(
        F.col("doc_id").alias("pair_id"),
        F.concat("source", F.lit("#"),
                 (F.col("doc_id") % 10).cast("string")).alias("prompt"),
        F.length("text").cast("bigint").alias("chosen_len"))
    return dedup_prompts(pairs).select("prompt", "pair_id", "chosen_len")


# ---------------------------------------------------------------------------
# Model-evaluation scoring (r13, operators/evaluation.py): normalized
# exact match + SQuAD-style multiset token F1 at corpus scale. The
# fixture derives (pred, ref) closed-form from documents: pred is the
# UPPER-CASED first-12-word slice (exercising the normalization), ref
# is words 5..16, so the true multiset overlap is the words-5..12
# window plus any coincidental repeats — which is exactly what both
# engines count independently; every 9th doc has pred == ref == text
# (the exact-match branch). Counts are exact BIGINTs; f1 is one IEEE
# division (the gopher_quality_flags convention). Documents have >= 10
# words (TESTDATA), so no slice is ever empty — the operator's
# NULL/empty-answer guards (zero tokens, exact_match false, f1 0.0)
# never fire on this fixture and deliberately have no SQL twin; the
# unit tests pin them instead. Normalization is collapse THEN trim on
# both sides (trim-first would leave edge tabs/newlines as phantom
# empty tokens — r13 review).

_EVAL_PAIRS_CTE = """
w AS (SELECT doc_id, source, text, string_split(text, ' ') AS ws
      FROM documents),
px AS (SELECT doc_id, source,
              lower(trim(regexp_replace(CASE WHEN doc_id % 9 = 0 THEN text
                   ELSE upper(array_to_string(list_slice(ws, 1, 12), ' '))
                   END, '\\s+', ' ', 'g'))) AS np,
              lower(trim(regexp_replace(CASE WHEN doc_id % 9 = 0 THEN text
                   ELSE array_to_string(list_slice(ws, 5, 16), ' ')
                   END, '\\s+', ' ', 'g'))) AS nr
       FROM w),
tok AS (SELECT doc_id, tok,
               CAST(SUM(CASE WHEN side = 'p' THEN 1 ELSE 0 END) AS BIGINT)
                   AS pc,
               CAST(SUM(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS BIGINT)
                   AS rc
        FROM (SELECT doc_id, unnest(string_split(np, ' ')) AS tok,
                     'p' AS side FROM px
              UNION ALL
              SELECT doc_id, unnest(string_split(nr, ' ')), 'r' FROM px)
        GROUP BY doc_id, tok),
ov AS (SELECT doc_id, CAST(SUM(LEAST(pc, rc)) AS BIGINT) AS n_overlap
       FROM tok GROUP BY doc_id),
sc AS (SELECT px.doc_id, px.source,
              CAST(len(string_split(np, ' ')) AS BIGINT) AS n_pred,
              CAST(len(string_split(nr, ' ')) AS BIGINT) AS n_ref,
              COALESCE(ov.n_overlap, 0) AS n_overlap,
              np = nr AS exact_match
       FROM px LEFT JOIN ov USING (doc_id))
"""

_EVAL_F1_ORACLE = f"""
WITH {_EVAL_PAIRS_CTE}
SELECT doc_id, n_pred, n_ref, n_overlap,
       2.0::DOUBLE * n_overlap / (n_pred + n_ref) AS f1,
       exact_match
FROM sc
"""


def _eval_pairs(spark, sf_dir):
    """(doc_id, source, pred, ref) — the shared eval fixture."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    is_em = F.col("doc_id") % 9 == 0
    return docs.select(
        "doc_id", "source",
        F.when(is_em, F.col("text"))
         .otherwise(F.upper(F.array_join(F.slice(ws, 1, 12), " ")))
         .alias("pred"),
        F.when(is_em, F.col("text"))
         .otherwise(F.array_join(F.slice(ws, 5, 12), " ")).alias("ref"))


@register("eval_token_f1", _EVAL_F1_ORACLE, "M7-eval-token-f1")
def q_eval_token_f1(spark, sf_dir):
    from etl_online_retail_spark.operators.evaluation import (
        exact_match,
        token_overlap,
    )

    pairs = _eval_pairs(spark, sf_dir)
    ov = token_overlap(pairs, "pred", "ref")
    em = pairs.select("doc_id", exact_match("pred", "ref"))
    return (ov.join(em, "doc_id")
            .select("doc_id", "n_pred", "n_ref", "n_overlap", "f1",
                    "exact_match"))


_EVAL_SUMMARY_ORACLE = f"""
WITH {_EVAL_PAIRS_CTE}
SELECT source,
       COUNT(*) AS n_examples,
       CAST(SUM(CASE WHEN exact_match THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact,
       CAST(SUM(n_overlap) AS BIGINT) AS overlap_sum,
       CAST(SUM(n_pred) AS BIGINT) AS pred_tok_sum,
       CAST(SUM(n_ref) AS BIGINT) AS ref_tok_sum
FROM sc GROUP BY source
"""


@register("eval_summary_by_source", _EVAL_SUMMARY_ORACLE,
          "M7-eval-summary")
def q_eval_summary_by_source(spark, sf_dir):
    from etl_online_retail_spark.operators.evaluation import eval_summary

    return eval_summary(_eval_pairs(spark, sf_dir), "pred", "ref")


# best-of-n preference synthesis (r13, operators/preferences.py
# pairs_from_scores): N scored candidates per prompt collapse to one
# (chosen=argmax, rejected=argmin) pair in ONE max_by/min_by hash agg —
# no window, no self-join. Fixture: prompts collide on
# (source, doc_id % 25) (5 candidates per prompt at the datagen's
# modulus layout), score = length(text) % 97 (deterministic, with real
# ties the id tie-break must resolve identically cross-engine).
_BON_ORACLE = """
WITH c AS (SELECT source || '#' || CAST(doc_id % 25 AS VARCHAR) AS prompt,
                  text AS candidate,
                  CAST(length(text) % 97 AS BIGINT) AS score,
                  doc_id AS cand_id
           FROM documents),
r AS (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY prompt
                 ORDER BY score DESC, cand_id) AS rn_up,
             ROW_NUMBER() OVER (PARTITION BY prompt
                 ORDER BY score ASC, cand_id) AS rn_dn
      FROM c)
SELECT prompt,
       MAX(CASE WHEN rn_up = 1 THEN candidate END) AS chosen,
       MAX(CASE WHEN rn_up = 1 THEN cand_id END) AS chosen_id,
       MAX(CASE WHEN rn_dn = 1 THEN candidate END) AS rejected,
       MAX(CASE WHEN rn_dn = 1 THEN cand_id END) AS rejected_id,
       MAX(score) AS chosen_score,
       MIN(score) AS rejected_score
FROM r GROUP BY prompt
"""


@register("best_of_n_pairs", _BON_ORACLE, "M7-best-of-n-pairs")
def q_best_of_n_pairs(spark, sf_dir):
    from etl_online_retail_spark.operators.preferences import (
        pairs_from_scores,
    )

    docs = _t(spark, sf_dir, "documents")
    cands = docs.select(
        F.concat("source", F.lit("#"),
                 (F.col("doc_id") % 25).cast("string")).alias("prompt"),
        F.col("text").alias("candidate"),
        (F.length("text") % 97).cast("bigint").alias("score"),
        F.col("doc_id").alias("cand_id"))
    return pairs_from_scores(cands)


# ---------------------------------------------------------------------------
# pairwise-judgment analytics (r13, operators/arena.py): arena-style
# model comparison — win/tie matrix, per-model records, Bradley-Terry
# strengths in fixed-point int64 (the PPR precedent: truncating integer
# divides make a fixed iteration count hash-exact against an unrolled
# CTE oracle). Battles fixture from orders: two "models" from key
# residues, outcome from a deterministic integer residue — all exact
# arithmetic both engines.
_BATTLES_BODY = """
SELECT 'M' || CAST(o_orderkey % 7 AS VARCHAR) AS model_a,
       'M' || CAST(o_custkey % 7 AS VARCHAR) AS model_b,
       CASE (CAST(o_orderkey AS BIGINT) * 31 + o_custkey) % 3
            WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'tie' END AS outcome
FROM orders
WHERE o_orderkey % 7 <> o_custkey % 7
"""


def _battles(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    r = (F.col("o_orderkey").cast("bigint") * 31 + F.col("o_custkey")) % 3
    return (o.filter((F.col("o_orderkey") % 7) != (F.col("o_custkey") % 7))
            .select(
        F.concat(F.lit("M"),
                 (F.col("o_orderkey") % 7).cast("string")).alias("model_a"),
        F.concat(F.lit("M"),
                 (F.col("o_custkey") % 7).cast("string")).alias("model_b"),
        F.when(r == 0, F.lit("a")).when(r == 1, F.lit("b"))
         .otherwise(F.lit("tie")).alias("outcome")))


_PAIRWISE_ORACLE = f"""
WITH b AS ({_BATTLES_BODY})
SELECT LEAST(model_a, model_b) AS m1,
       GREATEST(model_a, model_b) AS m2,
       SUM(CASE WHEN (model_a < model_b AND outcome = 'a')
                  OR (model_b < model_a AND outcome = 'b')
                THEN 1 ELSE 0 END)::BIGINT AS m1_wins,
       SUM(CASE WHEN (model_a < model_b AND outcome = 'b')
                  OR (model_b < model_a AND outcome = 'a')
                THEN 1 ELSE 0 END)::BIGINT AS m2_wins,
       SUM(CASE WHEN outcome = 'tie' THEN 1 ELSE 0 END)::BIGINT AS ties,
       COUNT(*) AS n_battles
FROM b GROUP BY 1, 2
"""


@register("judge_pairwise_matrix", _PAIRWISE_ORACLE, "M8-judge-arena")
def q_judge_pairwise_matrix(spark, sf_dir):
    from etl_online_retail_spark.operators.arena import pairwise_matrix

    return pairwise_matrix(_battles(spark, sf_dir))


_RECORDS_ORACLE = f"""
WITH b AS ({_BATTLES_BODY}),
s AS (SELECT model_a AS model,
             CASE WHEN outcome = 'a' THEN 1 ELSE 0 END AS w,
             CASE WHEN outcome = 'b' THEN 1 ELSE 0 END AS l,
             CASE WHEN outcome = 'tie' THEN 1 ELSE 0 END AS t
      FROM b
      UNION ALL
      SELECT model_b,
             CASE WHEN outcome = 'b' THEN 1 ELSE 0 END,
             CASE WHEN outcome = 'a' THEN 1 ELSE 0 END,
             CASE WHEN outcome = 'tie' THEN 1 ELSE 0 END
      FROM b)
SELECT model, SUM(w)::BIGINT AS wins, SUM(l)::BIGINT AS losses,
       SUM(t)::BIGINT AS ties, COUNT(*) AS n_battles,
       CAST(2 * SUM(w) + SUM(t) AS DOUBLE) / (2 * COUNT(*)) AS win_rate
FROM s GROUP BY model
"""


@register("judge_model_records", _RECORDS_ORACLE, "M8-judge-arena")
def q_judge_model_records(spark, sf_dir):
    from etl_online_retail_spark.operators.arena import model_records

    return model_records(_battles(spark, sf_dir))


def _bt_oracle():
    from etl_online_retail_spark.operators.arena import bradley_terry_oracle

    return bradley_terry_oracle(_BATTLES_BODY, iters=3)


@register("judge_bt_scores", _bt_oracle(), "M8-judge-arena")
def q_judge_bt_scores(spark, sf_dir):
    from etl_online_retail_spark.operators.arena import bradley_terry

    return bradley_terry(_battles(spark, sf_dir), iters=3)


# annotator agreement (r13, operators/agreement.py): two synthetic
# annotators label every document from deterministic length/key
# residues; Cohen's kappa is the exact-integer identity
# (n*n_agree - pe_num) / (n^2 - pe_num) — BIGINT counting + ONE IEEE
# division, NULL when pe = 1 (degenerate marginals). Fixture
# assumption, verified at all three SFs: documents.text is never NULL
# — the operator treats NULL as one more label (NULL-safe equality)
# while this SQL twin uses plain equality, so a datagen change that
# introduced NULL text would surface as a loud hash mismatch here.
_ANNOT_BODY = """
SELECT source AS src,
       'L' || CAST(length(text) % 5 AS VARCHAR) AS label_a,
       'L' || CAST((length(text) + doc_id) % 5 AS VARCHAR) AS label_b
FROM documents
"""


def _annot_labels(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.col("source").alias("src"),
        F.concat(F.lit("L"),
                 (F.length("text") % 5).cast("string")).alias("label_a"),
        F.concat(F.lit("L"), ((F.length("text") + F.col("doc_id")) % 5)
                 .cast("string")).alias("label_b"))


_CONFUSION_ORACLE = f"""
WITH l AS ({_ANNOT_BODY})
SELECT label_a, label_b, COUNT(*) AS n FROM l GROUP BY 1, 2
"""


@register("annotator_confusion", _CONFUSION_ORACLE,
          "M8-annotator-agreement")
def q_annotator_confusion(spark, sf_dir):
    from etl_online_retail_spark.operators.agreement import confusion_matrix

    return confusion_matrix(_annot_labels(spark, sf_dir))


_KAPPA_ORACLE = f"""
WITH l AS ({_ANNOT_BODY}),
t AS (SELECT src, COUNT(*) AS n,
             SUM(CASE WHEN label_a = label_b THEN 1 ELSE 0 END)::BIGINT
                 AS n_agree
      FROM l GROUP BY src),
ma AS (SELECT src, label_a AS lab, COUNT(*) AS n_a FROM l GROUP BY 1, 2),
mb AS (SELECT src, label_b AS lab, COUNT(*) AS n_b FROM l GROUP BY 1, 2),
p AS (SELECT ma.src, SUM(ma.n_a * mb.n_b)::BIGINT AS pe_num
      FROM ma JOIN mb ON ma.src = mb.src AND ma.lab = mb.lab
      GROUP BY ma.src),
q AS (SELECT t.src, t.n, t.n_agree,
             COALESCE(p.pe_num, 0)::BIGINT AS pe_num
      FROM t LEFT JOIN p ON t.src = p.src)
SELECT src, n, n_agree, pe_num,
       CASE WHEN n * n - pe_num <> 0
            THEN CAST(n * n_agree - pe_num AS DOUBLE)
                 / (n * n - pe_num) END AS kappa
FROM q
"""


@register("annotator_kappa_by_source", _KAPPA_ORACLE,
          "M8-annotator-agreement")
def q_annotator_kappa_by_source(spark, sf_dir):
    from etl_online_retail_spark.operators.agreement import cohens_kappa

    return cohens_kappa(_annot_labels(spark, sf_dir), group_col="src")


# Fleiss' kappa (r13, operators/agreement.py): multi-rater agreement —
# three synthetic raters per document, with rater 2 withheld on
# doc_id % 13 == 0 so the exactly-n validity filter does real work
# (ragged items counted in n_dropped, never entering A/B). A and B are
# exact BIGINTs; po/pe/kappa are the IDENTICAL short chain of IEEE
# divisions on both engines (pe = B/(Nn)/(Nn), never (Nn)^2).
_FLEISS_ORACLE = """
WITH r AS (SELECT source AS src, doc_id,
                  'L' || CAST((length(text) + u.rater * doc_id) % 4
                              AS VARCHAR) AS label
           FROM documents
           CROSS JOIN (VALUES (1), (2), (3)) AS u(rater)
           WHERE NOT (u.rater = 2 AND doc_id % 13 = 0)),
il AS (SELECT src, doc_id, label, COUNT(*) AS c FROM r GROUP BY 1, 2, 3),
im AS (SELECT src, doc_id, SUM(c) AS m,
              SUM(c * (c - 1))::BIGINT AS a_i
       FROM il GROUP BY 1, 2),
valid AS (SELECT src, doc_id, a_i FROM im WHERE m = 3),
g AS (SELECT src, COUNT(*) AS n_items, SUM(a_i)::BIGINT AS a_num
      FROM valid GROUP BY src),
dr AS (SELECT src, SUM(CASE WHEN m <> 3 THEN 1 ELSE 0 END)::BIGINT
              AS n_dropped
       FROM im GROUP BY src),
lt AS (SELECT il.src, il.label, SUM(il.c) AS t
       FROM il JOIN valid ON il.src = valid.src
                         AND il.doc_id = valid.doc_id
       GROUP BY 1, 2),
bq AS (SELECT src, SUM(t * t)::BIGINT AS b_num FROM lt GROUP BY src),
j AS (SELECT dr.src, COALESCE(g.n_items, 0) AS n_items, dr.n_dropped,
             COALESCE(g.a_num, 0)::BIGINT AS a_num,
             COALESCE(bq.b_num, 0)::BIGINT AS b_num
      FROM dr LEFT JOIN g ON dr.src = g.src
              LEFT JOIN bq ON dr.src = bq.src),
k AS (SELECT src, n_items, n_dropped, a_num, b_num,
             CASE WHEN n_items > 0 THEN
                  CAST(a_num AS DOUBLE) / (n_items * 3 * 2) END AS po,
             CASE WHEN n_items > 0 THEN
                  CAST(b_num AS DOUBLE) / (n_items * 3)
                  / (n_items * 3) END AS pe
      FROM j)
SELECT src, n_items, n_dropped, a_num, b_num, po, pe,
       CASE WHEN 1 - pe <> 0 THEN (po - pe) / (1 - pe) END AS kappa
FROM k
"""


@register("annotator_fleiss_by_source", _FLEISS_ORACLE,
          "M8-annotator-agreement")
def q_annotator_fleiss_by_source(spark, sf_dir):
    from etl_online_retail_spark.operators.agreement import fleiss_kappa

    d = _t(spark, sf_dir, "documents")
    ratings = (d.select("source", "doc_id", "text",
                        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3)))
                        .alias("rater"))
               .filter(~((F.col("rater") == 2)
                         & (F.col("doc_id") % 13 == 0)))
               .select(
        F.col("source").alias("src"), F.col("doc_id").alias("item_id"),
        F.concat(F.lit("L"),
                 ((F.length("text") + F.col("rater") * F.col("doc_id"))
                  % 4).cast("string")).alias("label")))
    return fleiss_kappa(ratings, item_col="item_id", label_col="label",
                        n_raters=3, group_col="src")


# Wilson-interval leaderboard (r13): error bars on the half-point win
# rate — IEEE expression tree mirrored operation-for-operation by
# wilson_sql (divisions/multiplies/sqrt are correctly rounded, so the
# identical tree is bit-exact cross-engine).
def _wilson_oracle():
    from etl_online_retail_spark.operators.arena import wilson_sql

    lo, hi = wilson_sql()
    return f"""
WITH rec AS ({_RECORDS_ORACLE})
SELECT model, wins, losses, ties, n_battles, win_rate,
       {lo} AS wilson_lo, {hi} AS wilson_hi
FROM rec
"""


@register("judge_records_wilson", _wilson_oracle(), "M8-judge-arena")
def q_judge_records_wilson(spark, sf_dir):
    from etl_online_retail_spark.operators.arena import (
        model_records,
        with_wilson_interval,
    )

    return with_wilson_interval(model_records(_battles(spark, sf_dir)))


# pass@k (r13, operators/evaluation.py): the Chen et al. 2021 unbiased
# estimator per task — 5 candidates per (source, doc_id % 25) task,
# pass = length residue threshold; the k-term product is an UNROLLED
# fixed expression tree generated by the same loop on both sides.
def _pass_oracle():
    from etl_online_retail_spark.operators.evaluation import pass_at_k_sql

    return f"""
WITH e AS (SELECT source || '#' || CAST(doc_id % 25 AS VARCHAR) AS task,
                  CASE WHEN length(text) % 97 > 48 THEN 1 ELSE 0 END AS p
           FROM documents),
t AS (SELECT task, COUNT(*) AS n, SUM(p)::BIGINT AS c FROM e GROUP BY task)
SELECT task, n, c,
       {pass_at_k_sql(1)} AS pass_at_1,
       {pass_at_k_sql(3)} AS pass_at_3,
       {pass_at_k_sql(5)} AS pass_at_5
FROM t
"""


@register("eval_pass_at_k", _pass_oracle(), "M8-eval-pass-at-k")
def q_eval_pass_at_k(spark, sf_dir):
    from etl_online_retail_spark.operators.evaluation import pass_at_k

    docs = _t(spark, sf_dir, "documents")
    cands = docs.select(
        F.concat("source", F.lit("#"),
                 (F.col("doc_id") % 25).cast("string")).alias("task_id"),
        (F.length("text") % 97 > 48).alias("passed"))
    return pass_at_k(cands, ks=(1, 3, 5))


# reward length-bias audit (r13, operators/profile.py pearson_exact):
# correlate candidate score with response length over the best-of-n
# pool, per source — r > 0 means the judge pays for verbosity. Five
# exact BIGINT sums out of one hash agg; r is the identical IEEE
# chain both engines (guarded NULL on zero variance).
def _bias_oracle():
    from etl_online_retail_spark.operators.profile import (
        pearson_exact_sql,
    )

    return f"""
WITH c AS (SELECT source AS src,
                  CAST(length(text) % 97 AS BIGINT) AS x,
                  CAST(length(text) AS BIGINT) AS y
           FROM documents),
a AS (SELECT src, COUNT(*) AS n, SUM(x)::BIGINT AS sx,
             SUM(y)::BIGINT AS sy, SUM(x * y)::BIGINT AS sxy,
             SUM(x * x)::BIGINT AS sxx, SUM(y * y)::BIGINT AS syy
      FROM c GROUP BY src)
SELECT src, n, sx, sy, sxy, sxx, syy,
       {pearson_exact_sql()} AS r
FROM a
"""


@register("reward_length_bias", _bias_oracle(), "M8-reward-length-bias")
def q_reward_length_bias(spark, sf_dir):
    from etl_online_retail_spark.operators.profile import pearson_exact

    docs = _t(spark, sf_dir, "documents")
    cands = docs.select(
        F.col("source").alias("src"),
        (F.length("text") % 97).cast("bigint").alias("score"),
        F.length("text").cast("bigint").alias("resp_len"))
    return pearson_exact(cands, "score", "resp_len", group_col="src")


# position-bias audit (r13, operators/arena.py position_bias): the
# standard judge check next to verbosity bias — does the FIRST-
# presented side win more often? Exact counts + single IEEE
# divisions; the fixture's outcome residue is position-symmetric by
# construction, so the gap hash-verifies near zero.
_POSBIAS_ORACLE = f"""
WITH b AS ({_BATTLES_BODY}),
a AS (SELECT COUNT(*) AS n_battles,
             SUM(CASE WHEN outcome = 'a' THEN 1 ELSE 0 END)::BIGINT
                 AS a_wins,
             SUM(CASE WHEN outcome = 'b' THEN 1 ELSE 0 END)::BIGINT
                 AS b_wins,
             SUM(CASE WHEN outcome = 'tie' THEN 1 ELSE 0 END)::BIGINT
                 AS ties
      FROM b)
SELECT n_battles, a_wins, b_wins, ties,
       CASE WHEN n_battles > 0
            THEN CAST(a_wins AS DOUBLE) / n_battles END AS a_win_rate,
       CASE WHEN n_battles > 0
            THEN CAST(b_wins AS DOUBLE) / n_battles END AS b_win_rate,
       CASE WHEN n_battles > 0
            THEN CAST(a_wins - b_wins AS DOUBLE) / n_battles
            END AS position_gap
FROM a
"""


@register("judge_position_bias", _POSBIAS_ORACLE, "M8-judge-arena")
def q_judge_position_bias(spark, sf_dir):
    from etl_online_retail_spark.operators.arena import position_bias

    return position_bias(_battles(spark, sf_dir))


# Krippendorff's alpha (r13, operators/agreement.py): ragged-panel
# agreement — the same 3-rater fixture as Fleiss but with rater 3
# ALSO withheld on doc_id % 7 == 0, so panels of size 1/2/3 coexist
# (m=1 items dropped-and-counted, m in {2,3} fold through the per-m
# sequential sum — F.aggregate vs list_reduce, identical sorted-m
# order, the EWMA precedent).
_ALPHA_ORACLE = """
WITH r AS (SELECT source AS src, doc_id,
                  'L' || CAST((length(text) + u.rater * doc_id) % 4
                              AS VARCHAR) AS label
           FROM documents
           CROSS JOIN (VALUES (1), (2), (3)) AS u(rater)
           WHERE NOT (u.rater = 2 AND doc_id % 13 = 0)
             AND NOT (u.rater = 3 AND doc_id % 7 = 0)),
il AS (SELECT src, doc_id, label, COUNT(*) AS c FROM r GROUP BY 1, 2, 3),
im AS (SELECT src, doc_id, SUM(c) AS m,
              SUM(c * (c - 1))::BIGINT AS ai
       FROM il GROUP BY 1, 2),
pair AS (SELECT * FROM im WHERE m >= 2),
dr AS (SELECT src, SUM(CASE WHEN m < 2 THEN 1 ELSE 0 END)::BIGINT
              AS n_dropped
       FROM im GROUP BY src),
sm AS (SELECT src, m, SUM(ai)::BIGINT AS s FROM pair GROUP BY 1, 2),
ao AS (SELECT src,
              list_reduce(list_prepend(0.0::DOUBLE,
                  list(CAST(s AS DOUBLE) / (m - 1) ORDER BY m)),
                  (acc, x) -> acc + x) AS ao_num
       FROM sm GROUP BY src),
st AS (SELECT src, COUNT(*) AS n_items FROM pair GROUP BY src),
lt AS (SELECT il.src, il.label, SUM(il.c)::BIGINT AS nc
       FROM il JOIN pair ON il.src = pair.src
                        AND il.doc_id = pair.doc_id
       GROUP BY 1, 2),
ne AS (SELECT src, SUM(nc)::BIGINT AS n_ratings,
              SUM(nc * (nc - 1))::BIGINT AS e_num
       FROM lt GROUP BY src),
j AS (SELECT dr.src, COALESCE(ne.n_ratings, 0)::BIGINT AS n_ratings,
             COALESCE(st.n_items, 0) AS n_items, dr.n_dropped,
             ao.ao_num, ne.e_num
      FROM dr LEFT JOIN st ON dr.src = st.src
              LEFT JOIN ao ON dr.src = ao.src
              LEFT JOIN ne ON dr.src = ne.src),
k AS (SELECT src, n_ratings, n_items, n_dropped,
             CASE WHEN n_ratings >= 2
                  THEN ao_num / n_ratings END AS ao,
             CASE WHEN n_ratings >= 2
                  THEN CAST(e_num AS DOUBLE) / n_ratings
                       / (n_ratings - 1) END AS ae
      FROM j)
SELECT src, n_ratings, n_items, n_dropped, ao, ae,
       CASE WHEN 1 - ae <> 0 THEN (ao - ae) / (1 - ae) END AS alpha
FROM k
"""


@register("annotator_alpha_by_source", _ALPHA_ORACLE,
          "M8-annotator-agreement")
def q_annotator_alpha_by_source(spark, sf_dir):
    from etl_online_retail_spark.operators.agreement import (
        krippendorff_alpha,
    )

    d = _t(spark, sf_dir, "documents")
    ratings = (d.select("source", "doc_id", "text",
                        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3)))
                        .alias("rater"))
               .filter(~((F.col("rater") == 2)
                         & (F.col("doc_id") % 13 == 0)))
               .filter(~((F.col("rater") == 3)
                         & (F.col("doc_id") % 7 == 0)))
               .select(
        F.col("source").alias("src"), F.col("doc_id").alias("item_id"),
        F.concat(F.lit("L"),
                 ((F.length("text") + F.col("rater") * F.col("doc_id"))
                  % 4).cast("string")).alias("label")))
    return krippendorff_alpha(ratings, item_col="item_id",
                              label_col="label", group_col="src")


# judge-vs-human agreement (r13): how well does the LLM judge's
# outcome track the human's on the SAME battles? Pure composition —
# cohens_kappa over two outcome labelings (second "judge" from an
# independent residue). The kappa every judge-distillation pipeline
# reports before trusting synthetic battles.
_JH_ORACLE = """
WITH l AS (SELECT CASE (CAST(o_orderkey AS BIGINT) * 31 + o_custkey) % 3
                       WHEN 0 THEN 'a' WHEN 1 THEN 'b'
                       ELSE 'tie' END AS label_a,
                  CASE (CAST(o_orderkey AS BIGINT) * 17 + o_custkey) % 3
                       WHEN 0 THEN 'a' WHEN 1 THEN 'b'
                       ELSE 'tie' END AS label_b
           FROM orders
           WHERE o_orderkey % 7 <> o_custkey % 7),
t AS (SELECT COUNT(*) AS n,
             SUM(CASE WHEN label_a = label_b THEN 1 ELSE 0 END)::BIGINT
                 AS n_agree
      FROM l),
ma AS (SELECT label_a AS lab, COUNT(*) AS n_a FROM l GROUP BY 1),
mb AS (SELECT label_b AS lab, COUNT(*) AS n_b FROM l GROUP BY 1),
p AS (SELECT SUM(ma.n_a * mb.n_b)::BIGINT AS pe_num
      FROM ma JOIN mb ON ma.lab = mb.lab),
q AS (SELECT t.n, t.n_agree, COALESCE(p.pe_num, 0)::BIGINT AS pe_num
      FROM t LEFT JOIN p ON TRUE)
SELECT n, n_agree, pe_num,
       CASE WHEN n * n - pe_num <> 0
            THEN CAST(n * n_agree - pe_num AS DOUBLE)
                 / (n * n - pe_num) END AS kappa
FROM q
"""


@register("judge_human_agreement", _JH_ORACLE,
          "M8-judge-arena,M8-annotator-agreement")
def q_judge_human_agreement(spark, sf_dir):
    from etl_online_retail_spark.operators.agreement import cohens_kappa

    o = _t(spark, sf_dir, "orders")
    r1 = (F.col("o_orderkey").cast("bigint") * 31 + F.col("o_custkey")) % 3
    r2 = (F.col("o_orderkey").cast("bigint") * 17 + F.col("o_custkey")) % 3

    def lab(r):
        return (F.when(r == 0, F.lit("a")).when(r == 1, F.lit("b"))
                .otherwise(F.lit("tie")))

    labels = (o.filter((F.col("o_orderkey") % 7)
                       != (F.col("o_custkey") % 7))
              .select(lab(r1).alias("label_a"), lab(r2).alias("label_b")))
    return cohens_kappa(labels)

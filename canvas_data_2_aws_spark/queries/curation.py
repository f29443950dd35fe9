"""Training-corpus curation operators, round 4 (SURVEY §2.8 EXT).

The stages a 100 TB pretraining pipeline runs between raw crawl and
tokenizer: semantic (embedding-space) dedup, containment detection for
subset duplicates, sketch-quality evaluation, LM-based quality scoring,
and deterministic mix sampling — plus product-quantization codes, the
storage format that makes trillion-vector ANN affordable.

Every query here follows the house determinism rules (SURVEY §8):
integer/decimal arithmetic wherever a sum crosses a shuffle boundary,
md5 as the only hash (byte-identical in every engine), rounded doubles
only at the output edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import text as T
from ..operators.similarity import cosine_blas
from ..registry import graded
from ..session import load_table
from .shared_sql import (
    KMEANS_CTES as _KMEANS_CTES,
    MINHASH_BANDS_SQL as _MINHASH_BANDS_SQL,
    MINHASH_SIG as _MINHASH_SIG,
)

# NOTE: engine-side helpers from registering modules (dedup.minhash_candidates,
# vectors._kmeans_assignment) are imported inside the consuming functions —
# a top-level import would drag those modules' registrations into this
# module's slot in the driver-sampling order (registry.load_all).

# --- SemDeDup: embedding-cluster near-dup pruning -------------------------------

# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the embedding
# space, then drop near-duplicate members WITHIN each cluster — the
# pairwise cosine work collapses from O(n²) to Σ |cluster|², and the
# cluster id is the one shuffle key. Clustering reuses the
# deterministic 2-iteration Lloyd assignment shared with the IVF
# family (queries/vectors.py), so the whole pipeline hash-matches SQL.
# Canonical-keep rule: lowest vec_id in a near-dup pair survives; a
# vector is dropped if ANY more-canonical near-duplicate exists.
_SEMANTIC_ORACLE = f"""
WITH {_KMEANS_CTES},
cl AS (SELECT vec_id, c2 AS cluster FROM a2),
p AS (
  SELECT cb.vec_id AS drop_id, ca.cluster,
         ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                      CAST(eb.embedding AS DOUBLE[])), 4) AS score
  FROM cl ca
  JOIN cl cb ON ca.cluster = cb.cluster AND ca.vec_id < cb.vec_id
  JOIN embeddings ea ON ea.vec_id = ca.vec_id
  JOIN embeddings eb ON eb.vec_id = cb.vec_id
)
SELECT drop_id, cluster, COUNT(*) AS n_better, MAX(score) AS max_score
FROM p
WHERE score >= 0.3
GROUP BY drop_id, cluster
"""


@graded("dedup_semantic_clusters", oracle=_SEMANTIC_ORACLE)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means cells (the memoized
    deterministic assignment) block the pair scan; within each cell the
    BLAS kernel scores pairs and every vector with a lower-id neighbor
    above the cosine threshold is emitted as a drop candidate. At
    100 TB the cell count grows with the corpus (√n cells keeps cell
    sizes bounded), and the per-cell scan is the bucket-local rerank
    shape already proven by ann_hyperplane_lsh."""
    import numpy as np
    import pandas as pd

    from .vectors import _kmeans_assignment

    assign = _kmeans_assignment(spark, sf_dir).select(
        "vec_id", F.col("c2").alias("cluster")
    )
    emb = load_table(spark, sf_dir, "embeddings").join(assign, "vec_id")

    # CELL-LOCAL scoring, not a dense corpus matrix: one shuffle on the
    # cluster key, then each cell runs its own |cell|² BLAS block and
    # aggregates drop candidates before anything leaves the worker.
    # The earlier cosine_blas(block_col=...) form computed the full
    # n×n similarity matrix and masked by block AFTERWARD — n² compute
    # for Σ|cell|² useful pairs (measured 30 s at 10× vs 3 s here).
    # With k ∝ √n (queries/vectors.py) cell sizes stay bounded, so
    # per-task memory is |cell|·d + |cell|² floats at any corpus size.
    def cell_drops(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id", ignore_index=True)
        ids = pdf["vec_id"].to_numpy(np.int64)
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        sims = np.round((mat @ mat.T) / (norms[:, None] * norms[None, :]), 4)
        a_idx, b_idx = np.nonzero(
            np.triu(sims >= 0.3, k=1)  # canonical id < candidate id
        )
        if len(a_idx) == 0:
            return pd.DataFrame(
                {"drop_id": [], "cluster": [], "n_better": [], "max_score": []}
            ).astype(
                {"drop_id": "int64", "cluster": "int64",
                 "n_better": "int64", "max_score": "float64"}
            )
        out = (
            pd.DataFrame(
                {"drop_id": ids[b_idx], "score": sims[a_idx, b_idx]}
            )
            .groupby("drop_id", as_index=False)
            .agg(n_better=("score", "size"), max_score=("score", "max"))
        )
        out.insert(1, "cluster", int(pdf["cluster"].iloc[0]))
        return out

    return emb.groupBy("cluster").applyInPandas(
        cell_drops,
        "drop_id long, cluster long, n_better long, max_score double",
    )


# --- containment: subset-duplicate detection ------------------------------------

# Jaccard misses A⊂B duplication (a doc embedded inside a larger one
# scores |A|/|B| — low); the overlap coefficient |A∩B| / min(|A|,|B|)
# catches it. Same blocked-pair plan as dedup_ngram_jaccard — exact
# small-integer division, no floats until the output edge.
_CONTAINMENT_ORACLE = """
WITH sh AS MATERIALIZED (
  SELECT doc_id, lang, source,
         list_distinct(list_transform(
           range(1, GREATEST(LEN(string_split(text, ' ')) - 1, 1)),
           i -> concat_ws(' ',
                list_extract(string_split(text, ' '), i),
                list_extract(string_split(text, ' '), i + 1),
                list_extract(string_split(text, ' '), i + 2))
         )) AS shingles
  FROM documents
),
-- |A∩B| via explode + grouped equi-join (r10 oracle-stability recipe:
-- identical integers/doubles, hash-join plan DuckDB cannot flip into
-- re-evaluated per-pair intersects). Threshold 0.05 > 0 ⇒ only pairs
-- with a shared shingle can qualify, so the inner join is complete.
cnt AS MATERIALIZED (SELECT doc_id, LEN(shingles) AS ns FROM sh),
px AS MATERIALIZED (
  SELECT doc_id, lang, source, unnest(shingles) AS g FROM sh
),
inter AS MATERIALIZED (
  SELECT a.doc_id AS pa, b.doc_id AS pb, COUNT(*) AS ni
  FROM px a
  JOIN px b ON a.g = b.g AND a.lang = b.lang AND a.source = b.source
            AND a.doc_id < b.doc_id
  GROUP BY pa, pb
)
SELECT doc_a, doc_b, containment
FROM (
  SELECT i.pa AS doc_a, i.pb AS doc_b,
         CAST(i.ni AS DOUBLE) / LEAST(x.ns, y.ns) AS containment
  FROM inter i
  JOIN cnt x ON x.doc_id = i.pa
  JOIN cnt y ON y.doc_id = i.pb
) t
WHERE containment >= 0.05
"""


@graded("dedup_containment", oracle=_CONTAINMENT_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle overlap coefficient between (lang, source)-blocked
    pairs — the subset-duplicate detector that complements Jaccard.
    Exact |∩| ÷ min(|A|,|B|) of small ints is IEEE-exact; block-key
    shuffle_hash join as in dedup_ngram_jaccard (broadcast would
    serialize shingle compute — same measurement)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", "lang", "source", F.split("text", " ").alias("w"))
    sh = words.select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(T.ngrams_from_words("w", n=3)).alias("shingles"),
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("source_a"),
        F.col("shingles").alias("sh_a"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        F.col("shingles").alias("sh_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    cont = inter.cast("double") / F.least(F.size("sh_a"), F.size("sh_b"))
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("lang_a") == F.col("lang_b"))
            & (F.col("source_a") == F.col("source_b")),
        )
        .select("doc_a", "doc_b", cont.alias("containment"))
        .where(F.col("containment") >= 0.05)
    )


# --- MinHash LSH quality evaluation ---------------------------------------------

# The sketch-tuning loop every dedup deployment runs: did the banding
# scheme catch the true near-duplicates? Ground truth comes from the
# inverted-index join (any pair with J > 0 shares ≥1 shingle, so the
# postings self-join enumerates exactly the nonzero-Jaccard pairs —
# no O(n²) scan); candidates from the shared banded-MinHash stage.
# At web scale the postings join caps ultra-common shingles (drop
# postings longer than a bound — they only contribute to pairs far
# below the threshold); the md5 sketch side is the production path.
_LSH_RECALL_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS MATERIALIZED (
  SELECT doc_id, list_distinct(list_transform(
           range(1, GREATEST(LEN(w) - 1, 1)),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingles
  FROM w
),
px AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM px a JOIN px b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
),
truth AS MATERIALIZED (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sh x ON x.doc_id = i.doc_a
  JOIN sh y ON y.doc_id = i.doc_b
  WHERE CAST(i.n_inter AS DOUBLE)
          / (LEN(x.shingles) + LEN(y.shingles) - i.n_inter) >= 0.5
),
shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
sig AS (
  SELECT doc_id,
          {_MINHASH_SIG}
  FROM shx GROUP BY doc_id
),
bands AS (
  {_MINHASH_BANDS_SQL}
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
hit AS MATERIALIZED (
  SELECT COUNT(*) AS n FROM truth t JOIN cand c
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM cand) AS n_cand,
       (SELECT n FROM hit) AS n_hit,
       ROUND(CAST((SELECT n FROM hit) AS DOUBLE)
             / (SELECT COUNT(*) FROM truth), 4) AS recall
"""


@graded("dedup_lsh_recall_eval", oracle=_LSH_RECALL_ORACLE)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the banded-MinHash candidate set against exact
    J ≥ 0.5 ground truth (postings-join enumeration). One row:
    n_truth / n_cand / n_hit / recall — the metric that decides
    band×row geometry before a corpus-wide dedup run."""
    # r12: the shingle frame and the J >= 0.5 postings-join truth are
    # session-memoized (queries/dedup.py) — dedup_banding_grid_eval
    # grades the same truth, so the eval family's most expensive stage
    # builds once per session instead of once per instrument.
    from .dedup import (
        minhash_candidates_from_sig,
        minhash_sig_cached,
        minhash_truth_cached,
    )

    truth = minhash_truth_cached(spark, sf_dir)
    # r13: reuse the session-memoized signature frame too — the
    # candidate stage then recomputes only banding + bucket pairs.
    # r14 §2.4: cand is consumed twice (the hit join and its own
    # census) and each evaluation re-ran the banding self-join over
    # the signature checkpoint. Pair-sized; computed once.
    cand = minhash_candidates_from_sig(
        minhash_sig_cached(spark, sf_dir)
    ).localCheckpoint(eager=False)
    hit = truth.join(cand, ["doc_a", "doc_b"])
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    n_cand = cand.agg(F.count("*").alias("n_cand"))
    n_hit = hit.agg(F.count("*").alias("n_hit"))
    return (
        n_truth.crossJoin(F.broadcast(n_cand))  # scalar×scalar (whitelisted)
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_truth",
            "n_cand",
            "n_hit",
            F.round(
                F.col("n_hit").cast("double") / F.col("n_truth"), 4
            ).alias("recall"),
        )
    )


# --- bigram-LM quality scoring (CCNet-style) ------------------------------------

# CCNet buckets web text by LM perplexity; the distributed analog is a
# corpus-trained add-one-smoothed bigram model scored back over each
# document. Both count tables come from the same token stream; the
# per-bigram term ln((c(w1w2)+1)/(c(w1)+V)) is identical-operand IEEE,
# quantized to DECIMAL(38,9) before the order-independent per-doc sum
# (the text_unigram_logprob recipe, one model order up).
_BIGRAM_LP_ORACLE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
bg AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS bg, w[i] AS w1
  FROM w, LATERAL unnest(range(1, GREATEST(LEN(w), 1))) t(i)
),
cb AS (SELECT bg, COUNT(*) AS cb FROM bg GROUP BY bg),
cu AS (
  SELECT token, COUNT(*) AS cu
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
  GROUP BY token
),
v AS (SELECT COUNT(*) AS v FROM cu)
SELECT bg.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(CAST(ln((cb.cb + 1.0) / (cu.cu + v.v)) AS DECIMAL(38,9)))
            AS DOUBLE) / COUNT(*) AS avg_logprob
FROM bg JOIN cb USING (bg) JOIN cu ON cu.token = bg.w1, v
GROUP BY bg.doc_id
"""


@graded("text_bigram_logprob", oracle=_BIGRAM_LP_ORACLE)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    add-one-smoothed bigram LM — the model-based quality score one
    order above text_unigram_logprob. The bigram-count and
    unigram-count tables are vocabulary-sized (broadcast); the probe
    side is the bigram stream — two count aggs + two broadcast joins
    + one per-doc agg, nothing quadratic at any scale."""
    # MEASURED NEGATIVE (r14): a lazy checkpoint of cu (so v and the
    # probe broadcast read one vocabulary computation instead of two
    # scan+explode+aggs; plan 8→4 scans, 10→6 Exchanges) benched
    # 1.39-1.41 s old vs 1.53-1.92 s new over four interleaved sf0.1
    # pairs (never crossed): the vocabulary-frame materialization sits
    # on the critical path while the duplicated count subtrees run
    # fully pipelined inside parallel broadcast-build jobs — the same
    # verdict as the NB single-pass probe. Do not re-try without new
    # evidence.
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    bg = words.select(
        "doc_id", F.explode(T.ngrams_from_words("w", n=2)).alias("bg")
    ).withColumn("w1", F.substring_index("bg", " ", 1))
    cb = bg.groupBy("bg").agg(F.count("*").alias("cb"))
    cu = (
        docs.select(F.explode(T.tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cu"))
    )
    v = cu.agg(F.count("*").alias("v"))
    term = F.log(
        (F.col("cb") + F.lit(1.0)) / (F.col("cu") + F.col("v"))
    ).cast("decimal(38,9)")
    return (
        bg.join(F.broadcast(cb), "bg")
        .join(F.broadcast(cu), F.col("w1") == F.col("token"))
        .crossJoin(F.broadcast(v))  # scalar broadcast (whitelisted)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.sum(term).cast("double") / F.count("*")).alias("avg_logprob"),
        )
    )


# --- deterministic mix sampling -------------------------------------------------

# Data-mixing execution: given per-source target rates (here: balance
# every source down to the smallest), keep a doc iff its md5 bucket
# falls under the source's integer threshold. The decision is a pure
# hash of the doc id — reproducible across engines, runs, retries, and
# appends (a late-arriving doc doesn't change any other doc's fate),
# which is what makes the sample auditable at 100 TB.
_MIX_SAMPLER_ORACLE = """
WITH cnt AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
m AS (SELECT MIN(n_docs) AS m FROM cnt),
th AS (SELECT source, n_docs, (256 * m.m) // n_docs AS thresh FROM cnt, m),
b AS (
  SELECT d.source,
         (strpos('0123456789abcdef',
                 substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         + strpos('0123456789abcdef',
                  substring(md5(CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1 AS bucket
  FROM documents d
)
SELECT th.source, th.n_docs, th.thresh,
       CAST(SUM(CASE WHEN b.bucket < th.thresh THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM b JOIN th USING (source)
GROUP BY th.source, th.n_docs, th.thresh
"""


@graded("pipeline_mix_sampler", oracle=_MIX_SAMPLER_ORACLE)
def pipeline_mix_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-Bernoulli mix sampler: per-source integer keep-thresholds
    (256·min/n, integer division) applied to each document's md5
    bucket. Threshold table is sources-sized (broadcast); the scan
    side is one narrow map — no shuffle beyond the final per-source
    rollup."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    m = cnt.agg(F.min("n_docs").alias("m"))
    th = cnt.crossJoin(F.broadcast(m)).select(  # scalar broadcast
        "source",
        "n_docs",
        F.expr("(256 * m) DIV n_docs").alias("thresh"),
    )
    hexpos = (
        "(instr('0123456789abcdef',"
        " substring(md5(cast(doc_id as string)), {i}, 1)) - 1)"
    )
    bucket = F.expr(f"{hexpos.format(i=1)} * 16 + {hexpos.format(i=2)}")
    b = docs.select("source", bucket.alias("bucket"))
    return (
        b.join(F.broadcast(th), "source")
        .groupBy("source", "n_docs", "thresh")
        .agg(
            F.sum(
                F.when(F.col("bucket") < F.col("thresh"), 1).otherwise(0)
            ).alias("n_kept")
        )
    )


# --- product quantization: codes ------------------------------------------------

# PQ splits the 64-dim embedding into 8 subspaces × 8 dims and stores
# one small code per subspace. This variant quantizes each dimension
# to one bit against the corpus median (median-threshold PQ): exact
# 1e-4 integer ticks, integer 2·median (interpolated median of ints is
# a .5 fraction — doubled, it is exact), strict integer comparison —
# every stage hash-matches SQL, unlike codebook PQ's seeded k-means.
_PQ_CODES_ORACLE = """
WITH pos AS (
  SELECT vec_id, pos AS dim,
         CAST(round(CAST(list_extract(embedding, pos + 1) AS DOUBLE)
                    * 10000, 0) AS BIGINT) AS xi
  FROM embeddings, range(0, 64) t(pos)
),
med AS (
  SELECT dim, CAST(quantile_cont(xi, 0.5) * 2 AS BIGINT) AS med2
  FROM pos GROUP BY dim
)
SELECT p.vec_id, p.dim // 8 AS subspace,
       CAST(SUM(CASE WHEN 2 * p.xi > m.med2
                THEN CAST(1 AS BIGINT) << (p.dim % 8) ELSE 0 END) AS BIGINT) AS code
FROM pos p JOIN med m ON p.dim = m.dim
GROUP BY p.vec_id, subspace
"""


def _pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, subspace, code): median-threshold PQ codes, the shared
    stage of vector_pq_codes and vector_pq_adc_topk."""
    emb = load_table(spark, sf_dir, "embeddings")
    pos = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("x").cast("double") * 10000, 0).cast("long").alias("xi"),
    )
    med = pos.groupBy("dim").agg(
        F.expr("CAST(percentile(xi, 0.5) * 2 AS BIGINT)").alias("med2")
    )
    return (
        pos.join(F.broadcast(med), "dim")
        .groupBy("vec_id", F.expr("dim DIV 8").alias("subspace"))
        .agg(
            F.sum(
                F.when(
                    2 * F.col("xi") > F.col("med2"),
                    F.expr("CAST(1 AS BIGINT) << (dim % 8)"),
                ).otherwise(F.lit(0))
            ).alias("code")
        )
    )


@graded("vector_pq_codes", oracle=_PQ_CODES_ORACLE)
def vector_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-threshold product-quantization codes: 64 dims → 8 bytes
    per vector (64× compression of the float64 form). The median table
    is 64 rows (broadcast); code assembly is one partial-aggregated
    shuffle keyed on (vec_id, subspace). At 100 TB the codes ARE the
    index — the scan side of vector_pq_adc_topk reads 8 bytes/vector
    instead of 512."""
    return _pq_codes(spark, sf_dir)


# --- product quantization: ADC top-k scan ---------------------------------------

_PQ_ADC_ORACLE = """
WITH pos AS (
  SELECT vec_id, pos AS dim,
         CAST(round(CAST(list_extract(embedding, pos + 1) AS DOUBLE)
                    * 10000, 0) AS BIGINT) AS xi
  FROM embeddings, range(0, 64) t(pos)
),
med AS (
  SELECT dim, CAST(quantile_cont(xi, 0.5) * 2 AS BIGINT) AS med2
  FROM pos GROUP BY dim
),
codes AS (
  SELECT p.vec_id, p.dim // 8 AS subspace,
         CAST(SUM(CASE WHEN 2 * p.xi > m.med2
                  THEN CAST(1 AS BIGINT) << (p.dim % 8) ELSE 0 END) AS BIGINT) AS code
  FROM pos p JOIN med m ON p.dim = m.dim
  GROUP BY p.vec_id, subspace
),
d AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(SUM(bit_count(xor(q.code, c.code))) AS BIGINT) AS hamming
  FROM codes q JOIN codes c
    ON q.subspace = c.subspace AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 8
  GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id, hamming, rn
FROM (
  SELECT query_id, neighbor_id, hamming,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rn
  FROM d
) t
WHERE rn <= 10
"""


@graded("vector_pq_adc_topk", oracle=_PQ_ADC_ORACLE)
def vector_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ distance scan: top-10 neighbors per query (vec_id < 8) by
    summed per-subspace Hamming distance between codes — the cheap
    first pass before exact re-rank in a two-stage retrieval stack.
    The 64 query code rows broadcast; per-pair distance is 8 integer
    XOR+popcounts; WindowGroupLimit prunes to top-10 per query before
    the final exchange. At scale the 8 codes pack into one 64-bit
    word per vector and the scan is a single narrow bit_count pass."""
    codes = _pq_codes(spark, sf_dir).localCheckpoint()  # consumed 2×
    q = codes.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        "subspace",
        F.col("code").alias("qcode"),
    )
    d = (
        codes.join(F.broadcast(q), "subspace")
        .where(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.sum(F.expr("bit_count(qcode ^ code)")).alias("hamming")
        )
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        d.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 10)
    )


# --- Naive-Bayes quality classifier (trained and scored in one pass) -------------

# The model-based quality filter stage (fastText-classifier analog):
# label docs with a cheap heuristic (≥2 distinct function words ⇒
# "clean"), train add-one-smoothed token log-odds on that weak label,
# score every doc with the learned model. Per-token log-likelihood
# ratios are identical-operand IEEE doubles, quantized to
# DECIMAL(38,9) before the per-doc sum; the prior is one more
# identical-operand log. Output is the confusion rollup.
# Shared CTE block: weak labels -> token log-odds -> per-doc NB score.
# Used by the confusion rollup (text_naive_bayes_quality) AND the
# calibration readout (analytics_calibration_ece) so the scoring
# semantics live in exactly one place.
_NB_SCORED_CTES = """lab AS (
  SELECT doc_id,
         CASE WHEN LEN(list_intersect(
                list_distinct(string_split(text, ' ')),
                ['a', 'the', 'and', 'of', 'to'])) >= 2
              THEN 1 ELSE 0 END AS label
  FROM documents
),
tok AS (
  SELECT d.doc_id, unnest(string_split(d.text, ' ')) AS token
  FROM documents d
),
tl AS (SELECT t.doc_id, t.token, l.label FROM tok t JOIN lab l USING (doc_id)),
cnt AS (
  SELECT token,
         CAST(SUM(label) AS BIGINT) AS cpos,
         CAST(SUM(1 - label) AS BIGINT) AS cneg
  FROM tl GROUP BY token
),
tot AS (
  SELECT CAST(SUM(cpos) AS BIGINT) AS npos, CAST(SUM(cneg) AS BIGINT) AS nneg,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM cnt
),
prior AS (
  SELECT ln(CAST(SUM(label) AS DOUBLE) / SUM(1 - label)) AS prior FROM lab
),
scored AS (
  SELECT tl.doc_id, ANY_VALUE(tl.label) AS label,
         ANY_VALUE(p.prior)
         + CAST(SUM(CAST(ln((c.cpos + 1.0) / (t.npos + t.v))
                         - ln((c.cneg + 1.0) / (t.nneg + t.v))
                    AS DECIMAL(38,9))) AS DOUBLE) AS score
  FROM tl JOIN cnt c USING (token), tot t, prior p
  GROUP BY tl.doc_id
)"""

_NB_QUALITY_ORACLE = f"""
WITH {_NB_SCORED_CTES}
SELECT label, CASE WHEN score > 0 THEN 1 ELSE 0 END AS pred,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(CAST(score AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*), 4)
         AS avg_score
FROM scored GROUP BY label, pred
"""


def _nb_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc NB quality scores (doc_id, label, score) — the shared
    scoring stage behind the confusion rollup, ECE, isotonic
    calibration and ROC-AUC readouts. Mirrors _NB_SCORED_CTES exactly.

    Session-memoized (r13, guide §2.4): FOUR graded queries consume
    this frame and each used to rebuild both token passes (two
    explodes + a vocabulary join) per invocation. The frame is
    doc-sized (doc_id, label, score), the scores are
    corpus-deterministic, so sharing cannot change any consumer's
    output; the one-off build cost is the named bench build row
    ``nb_scored_build`` (the simhash/minhash build-row precedent)."""
    from ..operators.fuzzy_graph import memoized_checkpoint

    return memoized_checkpoint(
        spark, sf_dir, "nb_scored", lambda: _build_nb_scored(spark, sf_dir)
    )


def _build_nb_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import spread

    # spread the single-row-group scan before the two token explodes
    # (r14, guide §2.5) — both passes otherwise run as one task.
    #
    # MEASURED NEGATIVE (r14) at this site: collapsing the two token passes into one
    # via an eager (doc_id, token, n, label) checkpoint — cnt from
    # Σ label·n and the scored sum rewritten as the exact decimal
    # Σ n·llr with llr at DECIMAL(19,9) × n at DECIMAL(18,0) (product
    # DECIMAL(38,9), no scale truncation; scores verified bit-exact at
    # all three SFs) — benched 0.68-0.81 s old vs 0.88-0.94 s new over
    # four interleaved sf0.1 reps (pairs never crossed): the checkpoint
    # write of the vocabulary-pair frame costs more than the saved
    # explode+join leg here (unlike bm25_postings, whose barrier
    # removed THREE re-passes). Two partial-aggregated passes stay the
    # intended shape; do not re-try without new evidence.
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    lab = docs.select(
        "doc_id",
        F.when(T.stopword_hits() >= 2, F.lit(1)).otherwise(F.lit(0)).alias("label"),
    )
    tok = docs.select("doc_id", F.explode(T.tokens()).alias("token"))
    tl = tok.join(lab, "doc_id")
    cnt = tl.groupBy("token").agg(
        F.sum("label").alias("cpos"),
        F.sum(1 - F.col("label")).alias("cneg"),
    )
    tot = cnt.agg(
        F.sum("cpos").alias("npos"),
        F.sum("cneg").alias("nneg"),
        F.count("*").alias("v"),
    )
    prior = lab.agg(
        F.log(
            F.sum("label").cast("double") / F.sum(1 - F.col("label"))
        ).alias("prior")
    )
    llr = (
        F.log((F.col("cpos") + F.lit(1.0)) / (F.col("npos") + F.col("v")))
        - F.log((F.col("cneg") + F.lit(1.0)) / (F.col("nneg") + F.col("v")))
    ).cast("decimal(38,9)")
    scored = (
        tl.join(F.broadcast(cnt), "token")
        .crossJoin(F.broadcast(tot))  # scalar broadcast (whitelisted)
        .crossJoin(F.broadcast(prior))
        .groupBy("doc_id")
        .agg(
            F.first("label").alias("label"),
            (F.first("prior") + F.sum(llr).cast("double")).alias("score"),
        )
    )
    return scored


@graded("text_naive_bayes_quality", oracle=_NB_QUALITY_ORACLE)
def text_naive_bayes_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-label Naive-Bayes quality scoring: heuristic labels → token
    log-odds table (vocabulary-sized, broadcast) → per-doc scores →
    confusion rollup. Two passes over the token stream, both
    partial-aggregated; nothing quadratic — the distributed shape of
    every production quality-classifier pretrain filter."""
    scored = _nb_scored(spark, sf_dir)
    return (
        scored.withColumn(
            "pred", F.when(F.col("score") > 0, F.lit(1)).otherwise(F.lit(0))
        )
        .groupBy("label", "pred")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum(F.col("score").cast("decimal(38,9)")).cast("double")
                / F.count("*"),
                4,
            ).alias("avg_score"),
        )
    )


# --- Matryoshka prefix-dimension retrieval eval ---------------------------------

# MRL-style embeddings let retrieval run on a prefix of the dimensions;
# this measures what that truncation costs: recall@10 of the 16-dim
# prefix ranking against the full 64-dim ranking for 8 query vectors.
# Both rankings use the rounded-score + id-tiebreak recipe, so each is
# individually deterministic and the overlap count is exact.
_PREFIX_RECALL_ORACLE = """
WITH fullr AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY ROUND(list_cosine_similarity(
                        CAST(a.embedding AS DOUBLE[]),
                        CAST(b.embedding AS DOUBLE[])), 4) DESC,
                      b.vec_id) AS rn
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < 8
  ) t WHERE rn <= 10
),
pre AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY ROUND(list_cosine_similarity(
                        CAST(a.embedding[1:16] AS DOUBLE[]),
                        CAST(b.embedding[1:16] AS DOUBLE[])), 4) DESC,
                      b.vec_id) AS rn
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < 8
  ) t WHERE rn <= 10
)
SELECT f.query_id,
       CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hit,
       ROUND(CAST(COUNT(p.neighbor_id) AS DOUBLE) / 10, 4) AS recall
FROM fullr f
LEFT JOIN pre p
  ON f.query_id = p.query_id AND f.neighbor_id = p.neighbor_id
GROUP BY f.query_id
"""


@graded("vector_prefix_dim_recall", oracle=_PREFIX_RECALL_ORACLE)
def vector_prefix_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of 16-dim-prefix cosine retrieval vs the full 64-dim
    ranking — the dimension-truncation tuning curve for
    Matryoshka-style embeddings. Both rankings run the broadcast+BLAS
    kernel (zero shuffle); the overlap join is 80 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)

    def top10(q: DataFrame, c: DataFrame, key: str) -> DataFrame:
        scored = cosine_blas(q, c, mode="knn", k=10, corpus_key=key)
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("neighbor_id")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 10)
            .select("query_id", "neighbor_id")
        )

    fullr = top10(queries, emb, f"emb:{sf_dir}")
    sliced = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    pre = top10(sliced.where(F.col("vec_id") < 8), sliced, f"emb_pfx16:{sf_dir}")
    return (
        fullr.join(
            pre.withColumnRenamed("neighbor_id", "hit_id"),
            (fullr.query_id == pre.query_id)
            & (F.col("neighbor_id") == F.col("hit_id")),
            "left",
        )
        .drop(pre.query_id)
        .groupBy("query_id")
        .agg(
            F.count("hit_id").alias("n_hit"),
            F.round(F.count("hit_id").cast("double") / 10, 4).alias("recall"),
        )
    )


# --- distributed BPE merge-pair counting ----------------------------------------

# The first iteration of byte-pair-encoding tokenizer training: count
# adjacent character pairs across the corpus, weighted by word
# frequency, and emit the top merge candidates. The production loop
# re-runs this count after each merge; one iteration is the graded
# primitive (the shuffle shape — distinct-word agg, then pair-count
# agg — is identical every round). Pure integers throughout.

# Shared derivation (house rule: one place): word-frequency + char-pair
# CTEs, reused by the merge-candidate count AND the encode oracle.
_BPE_WF_PAIRS_CTES = """wf AS (
  SELECT token AS w, COUNT(*) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
  GROUP BY token
),
pairs AS (
  SELECT substring(w, j, 2) AS pair, freq
  FROM wf, LATERAL unnest(range(1, length(w))) t(j)
  WHERE length(w) >= 2
)"""

_BPE_ORACLE = f"""
WITH {_BPE_WF_PAIRS_CTES}
SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
FROM pairs
GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT 20
"""


@graded("pipeline_bpe_merges", oracle=_BPE_ORACLE)
def pipeline_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 BPE merge candidates: word-frequency agg (vocabulary
    cardinality — the token stream collapses before any pair work),
    char-pair explode over DISTINCT words only (pair count = Σ freq,
    so repeated words cost nothing), pair agg, TakeOrdered. At any
    scale the expensive stream is |vocab|·avg_word_len rows, not
    corpus tokens — the reason real BPE trainers also count on the
    vocabulary, not the raw text."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(T.tokens()).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    pairs = wf.where(F.length("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " j -> substring(w, j, 2))"
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(20)
    )


# --- BPE encode: apply the learned merges, emit token ids ----------------------

# The tokenize-end-to-end step the merge count feeds: apply the top-K
# merges (rank order = cnt DESC, pair ASC — the deterministic total
# order both engines share) to every distinct word, then stream each
# document's words through the learned segmentation and emit its token
# ids. Merge application is ONE fold of string replaces: each word is
# spaced as ``||c1||c2||…||`` (double-separator symbol boundaries),
# and merge (a,b) is ``replace('|a||b|' -> '|ab|')`` — left-to-right
# non-overlapping replacement in both Spark and DuckDB, which is
# exactly BPE's greedy-leftmost single-merge pass. Double separators
# matter: with single ones, a pattern can falsely match across a
# previously merged symbol's boundary ('ll'+'x' would merge as 'l'+'lx')
# or lose the boundary of the next pair in a run ('aaaa' would encode
# aa,a,a instead of aa,aa). Verified equivalent in both engines for
# runs, prefix/suffix collisions, and chained merges.
_BPE_ENCODE_K = 8

# The Spark twin of the oracle-side fold (one place, like
# _BPE_WF_PAIRS_CTES): format with the word column and the merge-array
# expression. Tests import this constant so the engines cannot diverge
# through a copy getting edited.
_BPE_FOLD_SQL = r"""filter(split(
  aggregate(
    {merges},
    concat(regexp_replace({w}, '(.)', '||$1'), '||'),
    (acc, m) -> replace(acc,
        concat('|', substring(m, 1, 1), '||', substring(m, 2, 1), '|'),
        concat('|', m, '|'))
  ), '\\|\\|'), x -> x <> '')"""


_BPE_ENCODE_ORACLE = f"""
WITH {_BPE_WF_PAIRS_CTES},
topm AS (
  SELECT pair, SUM(freq) AS cnt FROM pairs GROUP BY pair
  ORDER BY cnt DESC, pair LIMIT {_BPE_ENCODE_K}
),
ml AS (SELECT list(pair ORDER BY cnt DESC, pair) AS merges FROM topm),
sl AS (
  SELECT doc_id, string_split(text, ' ') AS ws
  FROM documents WHERE doc_id % 13 = 3
),
dw AS (SELECT DISTINCT unnest(ws) AS w FROM sl),
encw AS (
  SELECT w, list_filter(string_split(
    list_reduce(
      list_prepend(regexp_replace(w, '(.)', '||\\1', 'g') || '||', merges),
      (acc, m) -> replace(acc,
         '|' || substring(m, 1, 1) || '||' || substring(m, 2, 1) || '|',
         '|' || m || '|')
    ), '||'), x -> x <> '') AS toks
  FROM dw, ml
),
vocab AS (
  SELECT tok, ROW_NUMBER() OVER (ORDER BY tok) AS id
  FROM (SELECT DISTINCT unnest(toks) AS tok FROM encw) v
),
words AS (
  SELECT doc_id, j AS wpos, ws[j] AS w
  FROM sl, LATERAL unnest(range(1, len(ws) + 1)) t(j)
),
dt AS (
  SELECT wo.doc_id, wo.wpos, k AS tpos, e.toks[k] AS tok
  FROM words wo JOIN encw e USING (w),
  LATERAL unnest(range(1, len(e.toks) + 1)) t(k)
)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY d.wpos, d.tpos)
         AS token_ids
FROM dt d JOIN vocab v USING (tok)
GROUP BY d.doc_id
"""


@graded("pipeline_bpe_encode", oracle=_BPE_ENCODE_ORACLE)
def pipeline_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the top-{K} BPE merges end-to-end: (doc_id, n_tokens,
    token_ids) for a bounded corpus slice (doc_id % 13 = 3), closing
    the tokenize gap left by pipeline_bpe_merges (which only counts
    candidates).

    Scale shape: merges are learned from the FULL corpus (same
    vocabulary-level agg as the merge count — |vocab| rows, not corpus
    tokens), then attached as a 1-row broadcast array; encoding runs
    once per DISTINCT word (vocabulary-level fold, checkpointed so the
    vocab build and the doc join reuse one materialization); the token
    vocab after K merges is ≤ |alphabet| + K symbols, so id assignment
    is a unit-group row_number and the id join a broadcast. The only
    corpus-sized shuffles are the word join and the per-doc reassembly
    — both keyed, no all-pairs stage.
    """
    from ..operators import ranks as R

    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(T.tokens()).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    prs = wf.where(F.length("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " j -> substring(w, j, 2))"
            )
        ).alias("pair"),
        "freq",
    )
    topm = (
        prs.groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(_BPE_ENCODE_K)
    )
    # 1-row frame holding the rank-ordered merge list (struct sort on
    # (-cnt, pair) reproduces the oracle's ORDER BY after the limit).
    merges = topm.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(-cnt AS nc, pair AS p))),"
            " x -> x.p)"
        ).alias("merges")
    )
    sl = docs.where(F.col("doc_id") % 13 == 3).select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    words = sl.select("doc_id", F.posexplode("ws").alias("wpos", "w"))
    dw = words.select("w").distinct().crossJoin(F.broadcast(merges))
    encw = dw.select(
        "w",
        F.expr(_BPE_FOLD_SQL.format(w="w", merges="merges")).alias("toks"),
    ).localCheckpoint(eager=False)
    vocab = encw.select(F.explode("toks").alias("tok")).distinct()
    vocab = (
        R.attach_unit_group(vocab)
        .withColumn(
            "id",
            F.row_number().over(
                Window.partitionBy(R.UNIT_GROUP).orderBy("tok")
            ),
        )
        .drop(R.UNIT_GROUP)
    )
    dt = words.join(encw, "w").select(
        "doc_id", "wpos", F.posexplode("toks").alias("tpos", "tok")
    )
    ids = dt.join(F.broadcast(vocab), "tok")
    return (
        ids.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.expr(
                "array_join(transform(array_sort("
                "collect_list(struct(wpos, tpos, id))),"
                " x -> CAST(x.id AS STRING)), ' ')"
            ).alias("token_ids"),
        )
        .orderBy("doc_id")
    )


# --- composed quality-gate funnel report ----------------------------------------

# The acceptance funnel a corpus release publishes: how many documents
# survive each successive gate — length band, low repetition, and
# bigram-LM score above the corpus 10th percentile. Gates are
# conjunctive and counted cumulatively. The LM gate compares scores
# ROUNDed to 6 dp on both sides of the percentile, so the boundary is
# decided on identical quantized values in both engines.
_QUALITY_FUNNEL_ORACLE = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
lenr AS (
  SELECT doc_id, LEN(w) BETWEEN 30 AND 5000 AS pass_len FROM w
),
shx AS (
  SELECT doc_id, concat_ws(' ', w[i], w[i+1], w[i+2]) AS shingle
  FROM w, LATERAL unnest(range(1, GREATEST(LEN(w) - 1, 1))) t(i)
),
rep AS (
  SELECT doc_id,
         CAST(COUNT(*) - COUNT(DISTINCT shingle) AS DOUBLE) / COUNT(*)
           <= 0.2 AS pass_rep
  FROM shx GROUP BY doc_id
),
bg AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS bg, w[i] AS w1
  FROM w, LATERAL unnest(range(1, GREATEST(LEN(w), 1))) t(i)
),
cb AS (SELECT bg, COUNT(*) AS cb FROM bg GROUP BY bg),
cu AS (
  SELECT token, COUNT(*) AS cu
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
  GROUP BY token
),
v AS (SELECT COUNT(*) AS v FROM cu),
lm AS (
  SELECT bg.doc_id,
         ROUND(CAST(SUM(CAST(ln((cb.cb + 1.0) / (cu.cu + v.v))
                             AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*), 6)
           AS score
  FROM bg JOIN cb USING (bg) JOIN cu ON cu.token = bg.w1, v
  GROUP BY bg.doc_id
),
cut AS (SELECT quantile_cont(score, 0.1) AS p10 FROM lm)
SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN l.pass_len THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
       CAST(SUM(CASE WHEN l.pass_len AND r.pass_rep THEN 1 ELSE 0 END)
            AS BIGINT) AS n_len_rep,
       CAST(SUM(CASE WHEN l.pass_len AND r.pass_rep AND m.score >= c.p10
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_accept
FROM lenr l
JOIN rep r USING (doc_id)
JOIN lm m USING (doc_id), cut c
"""


@graded("pipeline_quality_funnel", oracle=_QUALITY_FUNNEL_ORACLE)
def pipeline_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative acceptance counts through three quality gates
    (length band → repetition ≤ 0.2 → LM score ≥ corpus p10). Three
    per-doc passes over the token stream, each partial-aggregated to
    doc cardinality before its join; the percentile cut is a 1-row
    broadcast (approx_percentile at 100 TB, as agg_percentile
    documents)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    lenr = words.select(
        "doc_id", F.size("w").between(30, 5000).alias("pass_len")
    )
    shx = words.select(
        "doc_id", F.explode(T.ngrams_from_words("w", n=3)).alias("shingle")
    )
    rep = shx.groupBy("doc_id").agg(
        (
            (F.count("*") - F.countDistinct("shingle")).cast("double")
            / F.count("*")
            <= 0.2
        ).alias("pass_rep")
    )
    bg = words.select(
        "doc_id", F.explode(T.ngrams_from_words("w", n=2)).alias("bg")
    ).withColumn("w1", F.substring_index("bg", " ", 1))
    cb = bg.groupBy("bg").agg(F.count("*").alias("cb"))
    cu = (
        docs.select(F.explode(T.tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cu"))
    )
    v = cu.agg(F.count("*").alias("v"))
    term = F.log(
        (F.col("cb") + F.lit(1.0)) / (F.col("cu") + F.col("v"))
    ).cast("decimal(38,9)")
    lm = (
        bg.join(F.broadcast(cb), "bg")
        .join(F.broadcast(cu), F.col("w1") == F.col("token"))
        .crossJoin(F.broadcast(v))  # scalar broadcast (whitelisted)
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(term).cast("double") / F.count("*"), 6).alias("score")
        )
        # r14 §2.4: lm is consumed twice (the p10 cut and the final
        # gate join) and each evaluation re-ran the whole bigram-LM
        # stage — two corpus tokenize+join passes. The frame is
        # doc-sized (doc_id, score); the lazy checkpoint computes it
        # once and the cut job hands the blocks to the gate join
        # (the bm25_postings shape: ≥2 corpus re-passes removed, not
        # the vocabulary-frame-on-critical-path shape that measured
        # negative in text_bigram_logprob).
        .localCheckpoint(eager=False)
    )
    cut = lm.agg(F.expr("percentile(score, 0.1)").alias("p10"))
    return (
        lenr.join(rep, "doc_id")
        .join(lm, "doc_id")
        .crossJoin(F.broadcast(cut))  # scalar broadcast (whitelisted)
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("pass_len"), 1).otherwise(0)).alias("n_len"),
            F.sum(
                F.when(F.col("pass_len") & F.col("pass_rep"), 1).otherwise(0)
            ).alias("n_len_rep"),
            F.sum(
                F.when(
                    F.col("pass_len")
                    & F.col("pass_rep")
                    & (F.col("score") >= F.col("p10")),
                    1,
                ).otherwise(0)
            ).alias("n_accept"),
        )
    )


# --- fertility under the LEARNED tokenizer ------------------------------------

# text_tokenizer_fertility (enrichment.py) proxies tokenization with a
# regex; this one measures fertility under the actual learned BPE
# merges end-to-end: per-word token counts come from the same
# double-separator fold as pipeline_bpe_encode, weighted by the word's
# corpus frequency per language. Vocabulary-level work throughout —
# the corpus-sized stream is tokenize+count once; the fold runs per
# DISTINCT (lang, word).
_BPE_FERTILITY_ORACLE = f"""
WITH {_BPE_WF_PAIRS_CTES},
topm AS (
  SELECT pair, SUM(freq) AS cnt FROM pairs GROUP BY pair
  ORDER BY cnt DESC, pair LIMIT {_BPE_ENCODE_K}
),
ml AS (SELECT list(pair ORDER BY cnt DESC, pair) AS merges FROM topm),
lwf AS (
  SELECT lang, token AS w, COUNT(*) AS freq
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents) t
  WHERE token <> ''
  GROUP BY lang, token
),
wtok AS (
  SELECT w, len(list_filter(string_split(
    list_reduce(
      list_prepend(regexp_replace(w, '(.)', '||\\1', 'g') || '||', merges),
      (acc, m) -> replace(acc,
         '|' || substring(m, 1, 1) || '||' || substring(m, 2, 1) || '|',
         '|' || m || '|')
    ), '||'), x -> x <> '')) AS n_tok,
    length(w) AS n_char
  FROM (SELECT DISTINCT w FROM lwf) dw, ml
)
SELECT l.lang,
       CAST(SUM(l.freq) AS BIGINT) AS n_words,
       CAST(SUM(l.freq * t.n_tok) AS BIGINT) AS n_tokens,
       CAST(SUM(l.freq * t.n_char) AS BIGINT) AS n_chars,
       ROUND(CAST(SUM(l.freq * t.n_tok) AS DOUBLE) / SUM(l.freq), 4)
         AS fertility,
       ROUND(CAST(SUM(l.freq * t.n_char) AS DOUBLE)
             / SUM(l.freq * t.n_tok), 4) AS chars_per_token
FROM lwf l JOIN wtok t USING (w)
GROUP BY l.lang
"""


@graded("text_bpe_fertility", oracle=_BPE_FERTILITY_ORACLE)
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility (tokens/word) and compression
    (chars/token) under the learned top-K BPE merges — the
    token-budget allocation table computed with the real tokenizer
    instead of the regex proxy. One corpus tokenize feeding a
    (lang, word) frequency agg; the merge fold runs once per distinct
    word; final stats are integer sums with two output-edge
    divisions."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(T.tokens()).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    prs = wf.where(F.length("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " j -> substring(w, j, 2))"
            )
        ).alias("pair"),
        "freq",
    )
    topm = (
        prs.groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(_BPE_ENCODE_K)
    )
    merges = topm.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(-cnt AS nc, pair AS p))),"
            " x -> x.p)"
        ).alias("merges")
    )
    lwf = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count("*").alias("freq"))
    )
    wtok = (
        lwf.select("w")
        .distinct()
        .crossJoin(F.broadcast(merges))
        .select(
            "w",
            F.expr(
                "size(" + _BPE_FOLD_SQL.format(w="w", merges="merges") + ")"
            ).alias("n_tok"),
            F.length("w").alias("n_char"),
        )
    )
    j = lwf.join(wtok, "w")
    return j.groupBy("lang").agg(
        F.sum("freq").cast("bigint").alias("n_words"),
        F.sum(F.col("freq") * F.col("n_tok")).cast("bigint").alias("n_tokens"),
        F.sum(F.col("freq") * F.col("n_char")).cast("bigint").alias("n_chars"),
        F.round(
            F.sum(F.col("freq") * F.col("n_tok")).cast("double")
            / F.sum("freq"),
            4,
        ).alias("fertility"),
        F.round(
            F.sum(F.col("freq") * F.col("n_char")).cast("double")
            / F.sum(F.col("freq") * F.col("n_tok")),
            4,
        ).alias("chars_per_token"),
    )


# --- BPE merge-count tuning curve ----------------------------------------------

# The curve a tokenizer-training run reads to pick K: for each prefix
# of the rank-ordered merge list (k = 0..K), corpus token count, token
# vocabulary size, and fertility after applying the first k merges.
# One 9-way fan-out over the word vocabulary (slice(merges, 1, k) is
# the fold input), never over the corpus; the token stream was already
# collapsed to (word, freq).
_BPE_VOCAB_GROWTH_ORACLE = f"""
WITH {_BPE_WF_PAIRS_CTES},
topm AS (
  SELECT pair, SUM(freq) AS cnt FROM pairs GROUP BY pair
  ORDER BY cnt DESC, pair LIMIT {_BPE_ENCODE_K}
),
ml AS (SELECT list(pair ORDER BY cnt DESC, pair) AS merges FROM topm),
wk AS (
  SELECT w, freq, CAST(t.k AS INTEGER) AS k,
    list_filter(string_split(
      list_reduce(
        list_prepend(regexp_replace(w, '(.)', '||\\1', 'g') || '||',
                     merges[1:k]),
        (acc, m) -> replace(acc,
           '|' || substring(m, 1, 1) || '||' || substring(m, 2, 1) || '|',
           '|' || m || '|')
      ), '||'), x -> x <> '') AS toks
  FROM wf, ml, LATERAL unnest(range(0, {_BPE_ENCODE_K} + 1)) t(k)
  WHERE w <> ''
),
per_k AS (
  SELECT k,
         CAST(SUM(freq * len(toks)) AS BIGINT) AS n_tokens,
         CAST(SUM(freq) AS BIGINT) AS n_words
  FROM wk GROUP BY k
),
voc AS (
  SELECT k, COUNT(DISTINCT tok) AS vocab_size
  FROM (SELECT k, unnest(toks) AS tok FROM wk) t
  GROUP BY k
)
SELECT p.k AS merges_applied, v.vocab_size, p.n_tokens,
       ROUND(CAST(p.n_tokens AS DOUBLE) / p.n_words, 4) AS fertility
FROM per_k p JOIN voc v USING (k)
ORDER BY merges_applied
"""


@graded("pipeline_bpe_vocab_growth", oracle=_BPE_VOCAB_GROWTH_ORACLE)
def pipeline_bpe_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token count / vocab size / fertility after each merge-list
    prefix k = 0..{K} — the merge-budget tuning curve. Work is
    vocabulary-level ×(K+1): the corpus collapses to (word, freq)
    once, the 9-point grid is a literal fan-out (bounded build side,
    plans/audit.py-proven), and both output aggs run on the
    (k, word) frame."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(T.tokens()).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    prs = wf.where(F.length("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " j -> substring(w, j, 2))"
            )
        ).alias("pair"),
        "freq",
    )
    topm = (
        prs.groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(_BPE_ENCODE_K)
    )
    merges = topm.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(-cnt AS nc, pair AS p))),"
            " x -> x.p)"
        ).alias("merges")
    )
    wk = (
        wf.crossJoin(F.broadcast(merges))
        .select(
            "w",
            "freq",
            F.explode(F.expr(f"sequence(0, {_BPE_ENCODE_K})")).alias("k"),
            "merges",
        )
        .select(
            "w",
            "freq",
            "k",
            F.expr(
                _BPE_FOLD_SQL.format(w="w", merges="slice(merges, 1, k)")
            ).alias("toks"),
        )
        .localCheckpoint(eager=False)
    )
    per_k = wk.groupBy("k").agg(
        F.sum(F.col("freq") * F.size("toks")).cast("bigint").alias("n_tokens"),
        F.sum("freq").cast("bigint").alias("n_words"),
    )
    voc = (
        wk.select("k", F.explode("toks").alias("tok"))
        .groupBy("k")
        .agg(F.countDistinct("tok").alias("vocab_size"))
    )
    return (
        per_k.join(voc, "k")
        .select(
            F.col("k").alias("merges_applied"),
            "vocab_size",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_words"), 4
            ).alias("fertility"),
        )
        .orderBy("merges_applied")
    )


# --- temperature-scaled language mixing (mC4 / XLM-R style) ---------------------

# Up-weight low-resource languages by sampling ∝ p^α (α = 0.5). The
# only float stage is sqrt(toks) — IEEE-754 sqrt is correctly rounded,
# so Spark and DuckDB produce the bit-identical double — immediately
# floored into integer micro-weights; the apportionment itself is the
# same exact-integer Hamilton scheme as pipeline_mix_allocation
# (largest-remainder, Σalloc == budget exactly, lang tie-break).
_MIX_TEMP_BUDGET = 100_000

_MIX_TEMP_ORACLE = f"""
WITH counts AS (
  SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS toks
  FROM documents GROUP BY lang
),
w AS (
  SELECT lang, toks,
         CAST(floor(sqrt(CAST(toks AS DOUBLE)) * 1000000) AS BIGINT) AS w_micros
  FROM counts
),
tot AS (SELECT SUM(w_micros) AS sw FROM w),
quota AS (
  SELECT lang, toks, w_micros,
         ({_MIX_TEMP_BUDGET} * w_micros) // sw AS base,
         ({_MIX_TEMP_BUDGET} * w_micros) % sw AS rem
  FROM w, tot
),
ranked AS (
  SELECT lang, toks, w_micros, base,
         ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk,
         {_MIX_TEMP_BUDGET} - SUM(base) OVER () AS leftover
  FROM quota
)
SELECT lang, toks, w_micros,
       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM ranked
ORDER BY lang
"""


@graded("pipeline_mix_temperature", oracle=_MIX_TEMP_ORACLE)
def pipeline_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data-mix allocation: per-language budgets
    ∝ toks^0.5 (α = 0.5 flattens the mix toward low-resource langs —
    the mC4/XLM-R sampling rule), apportioned by Hamilton's
    largest-remainder method so Σalloc == budget exactly.

    Scale: one corpus-wide token rollup (shuffle on lang) is the only
    data-scale pass; sqrt/floor/apportionment run on the
    lang-cardinality table (broadcast-sized at any corpus scale).
    sqrt is the sole float op and is correctly rounded by IEEE-754, so
    the floored micro-weights are cross-engine exact.
    """
    from ..operators import ranks as R

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("toks")
    )
    w = counts.select(
        "lang",
        "toks",
        F.floor(F.sqrt(F.col("toks").cast("double")) * 1000000)
        .cast("bigint")
        .alias("w_micros"),
    )
    tot = w.agg(F.sum("w_micros").alias("sw"))
    quota = w.crossJoin(F.broadcast(tot)).select(  # scalar broadcast
        "lang",
        "toks",
        "w_micros",
        F.expr(f"({_MIX_TEMP_BUDGET} * w_micros) DIV sw").alias("base"),
        F.expr(f"({_MIX_TEMP_BUDGET} * w_micros) % sw").alias("rem"),
    )
    w_all = Window.partitionBy(R.UNIT_GROUP)
    w_rk = Window.partitionBy(R.UNIT_GROUP).orderBy(
        F.col("rem").desc(), "lang"
    )  # per-language quotas: broadcast-sized
    ranked = R.attach_unit_group(quota).select(
        "lang",
        "toks",
        "w_micros",
        "base",
        F.row_number().over(w_rk).alias("rk"),
        (F.lit(_MIX_TEMP_BUDGET) - F.sum("base").over(w_all)).alias("leftover"),
    )
    return ranked.select(
        "lang",
        "toks",
        "w_micros",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    ).orderBy("lang")


# --- quality-classifier calibration (reliability bins + ECE) --------------------

# How trustworthy are the NB quality probabilities? Reliability
# diagram: sigmoid(score) → 10 confidence bins; per bin, mean
# confidence vs empirical positive rate; ECE = Σ (n_b/N)·|acc−conf|.
# Determinism: score is the shared decimal-quantized NB sum; sigmoid
# is identical-operand IEEE exp (the same contract ln already relies
# on); conf is rounded to 6dp BEFORE binning and summed as
# DECIMAL(18,6) so bin means are exact; the ≤10-bin ECE fold sums
# 6dp-rounded decimal contributions.
_CALIBRATION_ORACLE = f"""
WITH {{nb}},
conf AS (
  SELECT doc_id, label,
         ROUND(1.0 / (1.0 + exp(-score)), 6) AS conf
  FROM scored
),
binned AS (
  SELECT CAST(LEAST(CAST(floor(conf * 10) AS BIGINT), 9) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         ROUND(CAST(SUM(CAST(conf AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4)
           AS avg_conf,
         ROUND(CAST(SUM(label) AS DOUBLE) / COUNT(*), 4) AS frac_pos
  FROM conf GROUP BY 1
),
cal_tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM binned),
ece AS (
  SELECT ROUND(CAST(SUM(CAST(
           ROUND(n_docs * abs(frac_pos - avg_conf) / n, 6)
         AS DECIMAL(18,6))) AS DOUBLE), 4) AS ece
  FROM binned, cal_tot
)
SELECT b.bin, b.n_docs, b.avg_conf, b.frac_pos, e.ece
FROM binned b, ece e
ORDER BY b.bin
""".replace("{nb}", _NB_SCORED_CTES)


@graded("analytics_calibration_ece", oracle=_CALIBRATION_ORACLE)
def analytics_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error for the NB
    quality classifier: sigmoid confidences binned into deciles, per
    bin mean-confidence vs positive-rate, global ECE attached as a
    1-row scalar broadcast. The only data-scale passes are the shared
    NB scoring stages; binning is one hash agg on ≤10 keys."""
    scored = _nb_scored(spark, sf_dir)
    conf = scored.select(
        "doc_id",
        "label",
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("score"))), 6
        ).alias("conf"),
    )
    binned = conf.groupBy(
        F.least(F.floor(F.col("conf") * 10).cast("bigint"), F.lit(9).cast("bigint"))
        .cast("bigint")
        .alias("bin")
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(
            F.sum(F.col("conf").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            4,
        ).alias("avg_conf"),
        F.round(F.sum("label").cast("double") / F.count("*"), 4).alias(
            "frac_pos"
        ),
    ).localCheckpoint(eager=False)  # consumed by bins AND the two scalars
    tot = binned.agg(F.sum("n_docs").cast("bigint").alias("n"))
    ece = (
        binned.crossJoin(F.broadcast(tot))  # scalar broadcast
        .select(
            F.round(
                F.col("n_docs")
                * F.abs(F.col("frac_pos") - F.col("avg_conf"))
                / F.col("n"),
                6,
            )
            .cast("decimal(18,6)")
            .alias("contrib")
        )
        .agg(F.round(F.sum("contrib").cast("double"), 4).alias("ece"))
    )
    return (
        binned.crossJoin(F.broadcast(ece))  # scalar broadcast
        .select("bin", "n_docs", "avg_conf", "frac_pos", "ece")
        .orderBy("bin")
    )


# --- isotonic (PAV) calibration of the quality classifier (r13) ------------------

# The reliability diagram (analytics_calibration_ece) DIAGNOSES
# miscalibration; this query FIXES it: the isotonic-regression fit
# (the standard post-hoc calibrator next to Platt scaling) maps each
# confidence bin to the best monotone-nondecreasing approximation of
# its empirical positive rate. Computed via the minimax identity
# iso(i) = max_{j<=i} min_{k>=i} avg(j..k) — the closed form of the
# pool-adjacent-violators solution — over the <=20 present confidence
# bins, so the whole fit is a bounded fan-out (<= 20*21/2 = 210 (j,k)
# pairs, <= ~1.5k (i,j,k) triples) off ONE binned census of the shared
# NB scoring frame: data-scale work is the scoring stages the ECE/
# confusion queries already pay; everything after the bin census is
# manifest-sized at ANY corpus. Determinism: bin masses are exact
# BIGINTs; every segment average is carried as the exact (num, den)
# pair and compared through identical-operand IEEE division (bounded
# integer operands: distinct rationals with num,den <= |docs| differ
# by >= 1/den^2, far above double ulp — no cross-engine tie hazard;
# ties ARE equal rationals, so argmin/argmax representation choice
# cannot change the rounded output); final rates use the r13
# integer-domain half-up millionths recipe, never ROUND(double). At
# 100 TB the num*2000000 intermediates want DECIMAL(38,0) widening —
# the bin census itself stays 20 rows regardless of corpus.
_ISOTONIC_ORACLE = f"""
WITH {{nb}},
conf AS (
  SELECT doc_id, label,
         ROUND(1.0 / (1.0 + exp(-score)), 6) AS conf
  FROM scored
),
b AS (
  SELECT CAST(LEAST(CAST(floor(conf * 20) AS BIGINT), 19) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(label) AS BIGINT) AS pos
  FROM conf GROUP BY 1
),
rk AS (
  SELECT bin, n, pos,
         CAST(ROW_NUMBER() OVER (ORDER BY bin) AS BIGINT) AS r,
         CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
         CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
  FROM b
),
pairs AS (
  SELECT j.r AS jr, k.r AS kr,
         CAST(k.cp - (j.cp - j.pos) AS BIGINT) AS num,
         CAST(k.cn - (j.cn - j.n) AS BIGINT) AS den
  FROM rk j JOIN rk k ON k.r >= j.r
),
tri AS (
  SELECT i.r AS ir, p.jr, p.num, p.den,
         CAST(p.num AS DOUBLE) / p.den AS seg_avg
  FROM pairs p JOIN rk i ON p.jr <= i.r AND p.kr >= i.r
),
inn AS (
  SELECT ir, jr,
         arg_min(struct_pack(num := num, den := den), seg_avg) AS s
  FROM tri GROUP BY ir, jr
),
iso AS (
  SELECT ir, arg_max(s, CAST(s['num'] AS DOUBLE) / s['den']) AS s
  FROM inn GROUP BY ir
)
SELECT rk.bin, rk.n AS n_docs, rk.pos,
       CAST((rk.pos * 2000000 + rk.n) // (2 * rk.n) AS DOUBLE) / 1000000.0
         AS raw_rate,
       CAST((s['num'] * 2000000 + s['den']) // (2 * s['den']) AS DOUBLE)
         / 1000000.0 AS iso_rate
FROM iso JOIN rk ON rk.r = iso.ir
ORDER BY rk.bin
""".replace("{nb}", _NB_SCORED_CTES)


def isotonic_fit(b: DataFrame, max_bins: int = 20) -> DataFrame:
    """Monotone (PAV) fit over a ``(bin, n, pos)`` census frame via the
    minimax identity — the reusable core of
    ``analytics_isotonic_calibration`` (full rationale above that
    query's oracle), factored out so adversarial synthetic censuses
    can be driven through the EXACT production expressions
    (tests/test_curation.py). ``b`` must have at most ``max_bins``
    rows; returns one row per bin with exact counts and the
    millionths-rounded raw/iso rates."""
    b = (
        b.select(
            F.col("bin").cast("bigint").alias("bin"),
            F.col("n").cast("bigint").alias("n"),
            F.col("pos").cast("bigint").alias("pos"),
        )
        .limit(max_bins)  # redundant literal bound for the plan audit
        .localCheckpoint(eager=False)  # consumed by j/k/i fan-outs
    )
    w = Window.orderBy("bin")
    rk = b.select(
        "bin",
        "n",
        "pos",
        F.row_number().over(w).cast("bigint").alias("r"),
        F.sum("n").over(w).cast("bigint").alias("cn"),
        F.sum("pos").over(w).cast("bigint").alias("cp"),
    ).localCheckpoint(eager=False)
    # redundant literal .limit on each BUILD side: the checkpoint
    # hides the upstream bin bound, so re-state it where the plan
    # audit's bound resolver looks (SURVEY §8 r11 erratum 4)
    j, k = rk.alias("j"), rk.limit(max_bins).alias("k")
    pairs = j.join(F.broadcast(k), F.col("k.r") >= F.col("j.r")).select(
        F.col("j.r").alias("jr"),
        F.col("k.r").alias("kr"),
        (F.col("k.cp") - (F.col("j.cp") - F.col("j.pos")))
        .cast("bigint")
        .alias("num"),
        (F.col("k.cn") - (F.col("j.cn") - F.col("j.n")))
        .cast("bigint")
        .alias("den"),
    )
    tri = pairs.join(
        F.broadcast(rk.select(F.col("r").alias("ir")).limit(max_bins)),
        (F.col("jr") <= F.col("ir")) & (F.col("kr") >= F.col("ir")),
    ).select(
        "ir",
        "jr",
        "num",
        "den",
        (F.col("num").cast("double") / F.col("den")).alias("seg_avg"),
    )
    inn = tri.groupBy("ir", "jr").agg(
        F.expr("min_by(struct(num, den), seg_avg)").alias("s")
    )
    iso = inn.groupBy("ir").agg(
        F.expr("max_by(s, CAST(s.num AS DOUBLE) / s.den)").alias("s")
    )
    return (
        iso.join(rk, rk["r"] == iso["ir"])
        .select(
            "bin",
            F.col("n").alias("n_docs"),
            "pos",
            (
                F.expr("(pos * 2000000 + n) DIV (2 * n)").cast("double")
                / F.lit(1000000.0)
            ).alias("raw_rate"),
            (
                F.expr("(s.num * 2000000 + s.den) DIV (2 * s.den)").cast(
                    "double"
                )
                / F.lit(1000000.0)
            ).alias("iso_rate"),
        )
        .orderBy("bin")
    )


@graded("analytics_isotonic_calibration", oracle=_ISOTONIC_ORACLE)
def analytics_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration map for the NB quality classifier:
    per confidence bin, the raw empirical positive rate and the
    monotone isotonic fit via the minimax identity (rationale above
    the oracle; core in :func:`isotonic_fit`). Everything past the
    shared scoring stages is a <=20-row manifest with bounded
    broadcast fan-outs."""
    scored = _nb_scored(spark, sf_dir)
    conf = scored.select(
        "label",
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("score"))), 6
        ).alias("conf"),
    )
    b = conf.groupBy(
        F.least(
            F.floor(F.col("conf") * 20).cast("bigint"),
            F.lit(19).cast("bigint"),
        )
        .cast("bigint")
        .alias("bin")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("pos"),
    )
    return isotonic_fit(b, max_bins=20)


# --- exact ROC-AUC of the quality classifier (r13) --------------------------------

# The third leg of the classifier-eval suite: the confusion rollup
# grades one operating point, ECE + isotonic grade CALIBRATION, and
# AUC grades DISCRIMINATION — the probability a random clean doc
# outranks a random non-clean one, threshold-free. Exact via the
# Mann–Whitney identity AUC = (R1 - n1(n1+1)/2) / (n1*n0) with
# average-rank ties: ranks come from the range-partitioned
# global_row_number (distributed, no single-task window), tied scores
# share (min_rn + max_rn)/2 — carried as the INTEGER min_rn + max_rn
# so 2*R1 stays an exact BIGINT (the NB scores are decimal-quantized
# sums, so cross-engine tie GROUPS are identical). The final division
# uses the integer-domain millionths recipe; 2*R1 <= n^2 wants
# DECIMAL(38,0) widening past ~3e9 rows — the census and rank stages
# themselves are the engine's standard distributed primitives.
_AUC_ORACLE = f"""
WITH {{nb}},
r AS (
  SELECT label, score,
         CAST(ROW_NUMBER() OVER (ORDER BY score, doc_id) AS BIGINT) AS rn
  FROM scored
),
t AS (
  SELECT score,
         CAST(MIN(rn) + MAX(rn) AS BIGINT) AS rr2
  FROM r GROUP BY score
),
s AS (
  SELECT CAST(SUM(CASE WHEN r.label = 1 THEN t.rr2 ELSE 0 END) AS BIGINT)
           AS r1x2,
         CAST(SUM(r.label) AS BIGINT) AS n1,
         CAST(SUM(1 - r.label) AS BIGINT) AS n0
  FROM r JOIN t USING (score)
)
SELECT n1 AS n_pos, n0 AS n_neg,
       CAST(CAST(((r1x2 - n1 * (n1 + 1)) * 1000000 + n1 * n0)
                 // (2 * n1 * n0) AS BIGINT) AS DOUBLE) / 1000000.0 AS auc,
       CAST(CAST(((r1x2 - n1 * (n1 + 1)) * 1000000 + n1 * n0)
                 // (2 * n1 * n0) AS BIGINT) AS DOUBLE) / 500000.0 - 1.0
         AS gini
FROM s
""".replace("{nb}", _NB_SCORED_CTES)


@graded("analytics_auc_quality", oracle=_AUC_ORACLE)
def analytics_auc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC-AUC (and Gini) of the NB quality
    classifier via the Mann–Whitney rank identity (rationale above the
    oracle) — distributed global ranks, integer rank sums, one
    millionths division at the end."""
    from ..operators.ranks import global_row_number

    scored = _nb_scored(spark, sf_dir)
    r = global_row_number(scored, ["score", "doc_id"], out="rn")
    t = r.groupBy("score").agg(
        (F.min("rn") + F.max("rn")).cast("bigint").alias("rr2")
    )
    s = r.join(t, "score").agg(
        F.sum(F.when(F.col("label") == 1, F.col("rr2")).otherwise(0))
        .cast("bigint")
        .alias("r1x2"),
        F.sum("label").cast("bigint").alias("n1"),
        F.sum(1 - F.col("label")).cast("bigint").alias("n0"),
    )
    mill = F.expr(
        "((r1x2 - n1 * (n1 + 1)) * 1000000 + n1 * n0) DIV (2 * n1 * n0)"
    ).cast("bigint")
    return s.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        (mill.cast("double") / F.lit(1000000.0)).alias("auc"),
        (mill.cast("double") / F.lit(500000.0) - F.lit(1.0)).alias("gini"),
    )


# --- boilerplate candidate mining (CCNet-style, source-scoped) ------------------

# Web-corpus boilerplate (navigation strings, footers, templated spans)
# is domain-local: the SAME n-gram recurring across many documents of
# ONE source. Mine the top-5 highest document-frequency 3-grams per
# source — the candidate list a removal pass would strike. Shingling
# is doc-DISTINCT (a doc repeating its own n-gram isn't boilerplate
# evidence); ranking is (df DESC, ngram) per source, fully keyed.
_BOILERPLATE_ORACLE = """
WITH tok AS (
  SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
pos AS (
  SELECT doc_id, source, ts, unnest(range(1, len(ts) - 1)) AS i FROM tok
),
sh AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(list_slice(ts, i, i + 2), ' ') AS ng
  FROM pos
),
df AS (SELECT source, ng, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY 1, 2),
nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1)
SELECT source, ng, df, n_docs,
       ROUND(CAST(df AS DOUBLE) / n_docs, 4) AS share, rk
FROM (
  SELECT df.source, df.ng, df.df, nd.n_docs,
         ROW_NUMBER() OVER (
           PARTITION BY df.source ORDER BY df.df DESC, df.ng
         ) AS rk
  FROM df JOIN nd USING (source)
) t
WHERE rk <= 5
ORDER BY source, rk
"""


@graded("text_boilerplate_ngrams", oracle=_BOILERPLATE_ORACLE)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-scoped boilerplate candidates: per-source top-5 3-grams
    by document frequency. One explode → doc-distinct shingle set →
    hash agg on (source, ngram); the rank window partitions by source
    (WindowGroupLimit keeps per-partition top-5 heaps), so the shape
    is shuffle-on-source-key at any corpus size — the detection stage
    of a CCNet-style boilerplate strike-out."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.split("text", " ").alias("ts")
    ).where(F.size("ts") >= 3)
    pos = tok.select(
        "doc_id",
        "source",
        "ts",
        F.explode(F.expr("sequence(1, size(ts) - 2)")).alias("i"),
    )
    sh = pos.select(
        "doc_id",
        "source",
        F.array_join(F.expr("slice(ts, i, 3)"), " ").alias("ng"),
    ).distinct()
    df = sh.groupBy("source", "ng").agg(F.count("*").cast("bigint").alias("df"))
    nd = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    w = Window.partitionBy("source").orderBy(F.col("df").desc(), "ng")
    return (
        df.join(F.broadcast(nd), "source")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
        .select(
            "source",
            "ng",
            "df",
            "n_docs",
            F.round(F.col("df").cast("double") / F.col("n_docs"), 4).alias(
                "share"
            ),
            "rk",
        )
        .orderBy("source", "rk")
    )


# --- Kneser-Ney smoothed bigram LM ----------------------------------------------

# Interpolated Kneser-Ney (the standard n-gram smoothing, Chen &
# Goodman 1999) with absolute discount d = 0.75 — EXACT in binary
# (0.75 = 3/4), so max(c12−d, 0) on integer counts is an exact double
# and every P_KN term is a single identical-operand IEEE expression:
# no float sums anywhere (the continuation weights are COUNT
# aggregates). P_KN(w2|w1) = max(c12−d,0)/c1 + (d·N1+(w1·)/c1)·
# (Ncont(w2)/Ntypes); output is the global top-50 by 6dp-rounded
# probability with the (w1, w2) unique tie-break.
_KN_BIGRAM_ORACLE = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
pos AS (
  SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM words
),
bg AS (
  SELECT list_extract(w, i) AS w1, list_extract(w, i + 1) AS w2 FROM pos
),
c12 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2
),
c1 AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, CAST(COUNT(*) AS BIGINT) AS n1p
  FROM c12 GROUP BY 1
),
nc AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncont FROM c12 GROUP BY 1),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntypes FROM c12)
SELECT w1, w2, c12,
       ROUND(greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE)
             + (0.75 * CAST(n1p AS DOUBLE) / CAST(c1 AS DOUBLE))
               * (CAST(ncont AS DOUBLE) / CAST(ntypes AS DOUBLE)), 6) AS pkn
FROM c12 JOIN c1 USING (w1) JOIN nc USING (w2), nt
ORDER BY pkn DESC, w1, w2
LIMIT 50
"""


@graded("text_kneser_ney_bigram", oracle=_KN_BIGRAM_ORACLE)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities, top-50. One pass
    over the bigram stream builds the TYPE table (c12); the context
    totals, continuation counts, and type total are all aggregates OF
    that vocabulary²-bounded table, not the stream — so corpus growth
    moves only the first hash agg. Stats-side joins are broadcast here
    (vocab-sized); at a 100 TB vocabulary they become ordinary
    shuffle joins on w1/w2 with the identical plan shape."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    bg = words.select(
        F.explode(T.ngrams_from_words("w", n=2)).alias("bg")
    ).select(
        F.substring_index("bg", " ", 1).alias("w1"),
        F.substring_index("bg", " ", -1).alias("w2"),
    )
    c12 = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c12"))
        .localCheckpoint(eager=False)  # consumed by 4 downstream aggs
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count("*").cast("bigint").alias("n1p"),
    )
    nc = c12.groupBy("w2").agg(F.count("*").cast("bigint").alias("ncont"))
    nt = c12.agg(F.count("*").cast("bigint").alias("ntypes"))
    pkn = (
        F.greatest(F.col("c12").cast("double") - F.lit(0.75), F.lit(0.0))
        / F.col("c1").cast("double")
        + (F.lit(0.75) * F.col("n1p").cast("double") / F.col("c1").cast("double"))
        * (F.col("ncont").cast("double") / F.col("ntypes").cast("double"))
    )
    return (
        c12.join(F.broadcast(c1), "w1")
        .join(F.broadcast(nc), "w2")
        .crossJoin(F.broadcast(nt))  # scalar broadcast
        .select("w1", "w2", "c12", F.round(pkn, 6).alias("pkn"))
        .orderBy(F.col("pkn").desc(), "w1", "w2")
        .limit(50)
    )


# --- coreset selection: greedy k-center (farthest-point traversal) --------------

# Diversity sampling for training-data selection: greedily pick 8
# centers, each the point FARTHEST (max min-distance) from the chosen
# set — the classic 2-approximation k-center coreset. Distances are
# exact BIGINT squared-tick euclidean (Σ(a−b)² over 1e-4 ticks, ≤9e9
# per pair), so there is NO float anywhere: selection order is exact
# in both engines by construction (ties → smaller vec_id).
# Each center's 64 ticks are isolated into their own MATERIALIZED CTE
# before the distance join: a scalar subquery INSIDE the join
# condition (``b.vec_id = (SELECT ...)``) can miss pushdown and build
# the full t×t dim join (256M rows/stage at sf0.1 — observed spilling
# >80 GB); the pre-filtered 64-row side makes every stage a 1:1 join.
_KCENTER_STAGE = """
c{k} AS MATERIALIZED (
  SELECT vec_id, mind FROM m{p} ORDER BY mind DESC, vec_id LIMIT 1
),
b{k} AS MATERIALIZED (
  SELECT dim, xi FROM t WHERE vec_id = (SELECT vec_id FROM c{k})
),
m{k} AS MATERIALIZED (
  SELECT a.vec_id,
         LEAST(mp.mind, SUM((a.xi - b.xi) * (a.xi - b.xi))) AS mind
  FROM t a
  JOIN b{k} b ON a.dim = b.dim
  JOIN m{p} mp ON mp.vec_id = a.vec_id
  GROUP BY a.vec_id, mp.mind
)"""

_KCENTER_ORACLE = (
    """
WITH t AS MATERIALIZED (
  SELECT vec_id, i AS dim,
         CAST(round(CAST(list_extract(embedding, i + 1) AS DOUBLE) * 10000)
              AS BIGINT) AS xi
  FROM embeddings, range(0, 64) r(i)
),
c1 AS MATERIALIZED (SELECT MIN(vec_id) AS vec_id, CAST(0 AS BIGINT) AS mind FROM t),
b1 AS MATERIALIZED (
  SELECT dim, xi FROM t WHERE vec_id = (SELECT vec_id FROM c1)
),
m1 AS MATERIALIZED (
  SELECT a.vec_id, SUM((a.xi - b.xi) * (a.xi - b.xi)) AS mind
  FROM t a
  JOIN b1 b ON a.dim = b.dim
  GROUP BY a.vec_id
),"""
    + ",".join(_KCENTER_STAGE.format(k=k, p=k - 1) for k in range(2, 9))
    + """
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS rank, vec_id, CAST(mind AS BIGINT) AS radius2 FROM c1
"""
    + "".join(
        f"  UNION ALL SELECT CAST({k} AS BIGINT), vec_id, CAST(mind AS BIGINT) FROM c{k}\n"
        for k in range(2, 9)
    )
    + """) sel
ORDER BY rank
"""
)


@graded("sample_coreset_kcenter", oracle=_KCENTER_ORACLE)
def sample_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (8 centers): each iteration keeps a
    per-vector running min-squared-distance to the chosen set (one
    narrow map per pass — the center's ticks ride a 1-row broadcast)
    and takes the global argmax via TakeOrderedAndProject. k passes
    over the corpus, zero floats, no pairwise stage — the textbook
    distributed farthest-first traversal. Storage: each pass
    checkpoints (vec_id, tk, mind), so at most k=8 corpus copies live
    in executor MEMORY_AND_DISK — the bounded frontier-checkpoint
    pattern of operators/graph.py (per-executor share shrinks with
    cluster size; the alternative, re-joining ticks per pass, trades
    the copies for k corpus shuffles)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ticks = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> cast(round(cast(x as double) * 10000) as bigint))"
        ).alias("tk"),
    )
    dist2 = F.expr(
        "aggregate(zip_with(tk, ck, (a, b) -> (a - b) * (a - b)),"
        " 0L, (acc, v) -> acc + v)"
    )
    seed = ticks.orderBy("vec_id").limit(1)
    cur = (
        ticks.crossJoin(
            F.broadcast(seed.select(F.col("tk").alias("ck")))
        )
        .select("vec_id", "tk", dist2.alias("mind"))
        .localCheckpoint(eager=False)
    )
    picks = [
        seed.select(
            F.lit(1).cast("bigint").alias("rank"),
            "vec_id",
            F.lit(0).cast("bigint").alias("radius2"),
        )
    ]
    for k in range(2, 9):
        center = cur.orderBy(F.col("mind").desc(), "vec_id").limit(1)
        picks.append(
            center.select(
                F.lit(k).cast("bigint").alias("rank"),
                "vec_id",
                F.col("mind").cast("bigint").alias("radius2"),
            )
        )
        cur = (
            cur.crossJoin(
                F.broadcast(center.select(F.col("tk").alias("ck")))
            )
            .select(
                "vec_id",
                "tk",
                F.least("mind", dist2).alias("mind"),
            )
            .localCheckpoint(eager=False)
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.orderBy("rank")


# --- banded-SimHash recall evaluation (r9: does 4×16 find the ham≤8 truth?) -----

# The production near-dup graph (shared_sql.SIMHASH_PAIRS_SQL / Spark
# twin dedup.simhash_pairs) generates candidates from 4 bands of 16
# bits — EXACT only to Hamming 3 by pigeonhole; pairs at distance 4–8
# are found only when their flipped bits happen to cluster. This query
# measures that recall against EXACT Hamming ≤ 8 truth computed with a
# SECOND pigeonhole banding — 9 bands of 7 bits, which IS exact for
# τ = 8 (9 bands cannot all contain one of ≤ 8 flipped bits) — so even
# the truth side is a bounded equi-join (≈ n²/2⁷ candidates per band
# at random bits), never an all-pairs scan. The same eval harness
# pattern as dedup_lsh_recall_eval; all counts are integers and the
# single recall division is identical-operand IEEE.
from .shared_sql import SIMHASH_PAIRS_SQL as _SIMHASH_PAIRS_SQL

_SIMHASH_RECALL_ORACLE = (
    _SIMHASH_PAIRS_SQL
    + """
tb AS MATERIALIZED (
  SELECT doc_id, simhash, b7, CAST((simhash >> (b7 * 7)) & 127 AS BIGINT) AS bv7
  FROM sh, range(0, 9) t(b7)
),
truth AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM tb a
  JOIN tb b ON a.b7 = b.b7 AND a.bv7 = b.bv7 AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
),
hit AS MATERIALIZED (
  SELECT t.doc_a FROM truth t JOIN pairs p ON p.pa = t.doc_a AND p.pb = t.doc_b
)
SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM pairs) AS n_found,
       (SELECT COUNT(*) FROM hit) AS n_hit,
       ROUND(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
             / (SELECT COUNT(*) FROM truth), 4) AS recall
"""
)


@graded("dedup_simhash_recall_eval", oracle=_SIMHASH_RECALL_ORACLE)
def dedup_simhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the production 4×16-band simhash near-dup pairs
    against exact Hamming ≤ 8 truth from a 9×7-bit pigeonhole banding
    (exact for τ = 8, and still a bounded band-key equi-join — the
    truth harness scales the same way the production path does). One
    row: n_truth, n_found, n_hit, recall."""
    from pyspark.sql import functions as F

    from .dedup import simhash_pairs_cached

    from ..session import spread

    sh = T.simhash_sh_cached(spark, sf_dir)  # both truth legs, shared
    tb = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(b) for b in range(9)])).alias("b7"),
    ).select(
        "doc_id",
        "simhash",
        "b7",
        F.expr("CAST((simhash >> (b7 * 7)) & 127 AS BIGINT)").alias("bv7"),
    )
    # spread before the band self-join (r14, guide §2.5): the sh
    # checkpoint is 1 partition, so the quadratic-in-group-size pair
    # verify otherwise runs at shuffle.partitions width.
    tb = spread(tb, "b7", "bv7")
    a = tb.select(
        "b7", "bv7", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa")
    )
    b = tb.select(
        "b7", "bv7", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb")
    )
    truth = (
        a.join(b, ["b7", "bv7"])
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & F.expr("bit_count(sa ^ sb) <= 8")
        )
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=True)  # feeds n_truth and the hit join
    )
    found = simhash_pairs_cached(spark, sf_dir)
    hit = truth.join(found, ["doc_a", "doc_b"])
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    n_found = found.agg(F.count("*").alias("n_found"))
    n_hit = hit.agg(F.count("*").alias("n_hit"))
    return (
        n_truth.crossJoin(F.broadcast(n_found))  # scalar×scalar (whitelisted)
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_truth",
            "n_found",
            "n_hit",
            F.round(
                F.col("n_hit").cast("double") / F.col("n_truth"), 4
            ).alias("recall"),
        )
    )


# --- stratified Neyman-allocation sampling (r10) ----------------------------------

# Training-mix sampling done the survey-statistics way: allocate a
# fixed document budget across strata (language) proportionally to
# N_h·S_h (stratum size × stratum std of n_chars) — high-variance
# strata get more samples — then select deterministically by md5 rank
# inside each stratum (the same hash-of-key reproducibility contract
# as sample_train_test_split: assignment survives reruns and appends).
#
# Every allocation quantity is INTEGER-exact cross-engine: with
# x = n_chars (int), N_h·Σx² − (Σx)² = N_h²·Var_h is a BIGINT, and
# √(N_h²·Var_h) = N_h·S_h — so the Neyman weight is FLOOR(SQRT()) of
# an exact integer (doubles represent it exactly below 2⁵³; IEEE sqrt
# is correctly rounded; both engines agree bit-for-bit), and quotas
# are bigint multiply-divide. No float sum ever crosses a shuffle.
_NEYMAN_BUDGET = 200

_NEYMAN_ORACLE = f"""
WITH s AS (
  SELECT lang, COUNT(*) AS n_stratum,
         SUM(CAST(n_chars AS BIGINT)) AS sx,
         SUM(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS sxx
  FROM documents GROUP BY lang
),
w AS (
  SELECT lang, n_stratum,
         CAST(FLOOR(SQRT(CAST(n_stratum * sxx - sx * sx AS DOUBLE)))
              AS BIGINT) AS weight
  FROM s
),
tot AS (SELECT SUM(weight) AS tw FROM w),
alloc AS (
  SELECT lang, n_stratum, weight,
         CAST(LEAST(n_stratum,
                    GREATEST(CAST(1 AS BIGINT),
                             ({_NEYMAN_BUDGET} * weight) // tw))
              AS BIGINT) AS n_alloc
  FROM w, tot
),
sel AS (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rn
  FROM documents
)
SELECT a.lang, a.n_stratum, a.weight, a.n_alloc,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(SUM(CAST(d.n_chars AS BIGINT)) AS BIGINT) AS sample_chars
FROM alloc a JOIN sel d ON d.lang = a.lang AND d.rn <= a.n_alloc
GROUP BY a.lang, a.n_stratum, a.weight, a.n_alloc
"""


@graded("sample_stratified_neyman", oracle=_NEYMAN_ORACLE)
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample with Neyman allocation (rationale above): one
    stats pass (groupBy lang — integer partials), a ≤|strata|-row
    allocation table (always broadcast), and a per-stratum md5-rank
    window with the broadcast quota as the filter. At 100 TB the
    window partitions by stratum — with few huge strata, sub-salt the
    rank (md5 prefix bucket) and take per-bucket quotas, same recipe
    as the fuzzy SALT; the allocation math is identical."""
    docs = load_table(spark, sf_dir, "documents")
    xs = F.col("n_chars").cast("bigint")
    s = docs.groupBy("lang").agg(
        F.count("*").alias("n_stratum"),
        F.sum(xs).alias("sx"),
        F.sum(xs * xs).alias("sxx"),
    )
    w = s.select(
        "lang",
        "n_stratum",
        F.floor(F.sqrt((F.col("n_stratum") * F.col("sxx")
                        - F.col("sx") * F.col("sx")).cast("double")))
        .cast("bigint")
        .alias("weight"),
    )
    tot = w.agg(F.sum("weight").alias("tw"))
    alloc = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_stratum",
        "weight",
        F.least(
            F.col("n_stratum"),
            F.greatest(
                F.lit(1).cast("bigint"),
                F.expr(f"({_NEYMAN_BUDGET} * weight) DIV tw"),
            ),
        ).alias("n_alloc"),
    )
    sel = docs.select(
        "lang",
        "doc_id",
        "n_chars",
        F.row_number()
        .over(
            Window.partitionBy("lang").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("rn"),
    )
    return (
        sel.join(F.broadcast(alloc), "lang")
        .where(F.col("rn") <= F.col("n_alloc"))
        .groupBy("lang", "n_stratum", "weight", "n_alloc")
        .agg(
            F.count("*").cast("bigint").alias("n_sampled"),
            F.sum(F.col("n_chars").cast("bigint")).alias("sample_chars"),
        )
    )


# --- coordinated FK-consistent downsampling (r10) ---------------------------------

# Downscaling a warehouse for a dev/test replica the RIGHT way: sample
# the PARENT entity by a stable hash rule and let every child table
# inherit membership through its FK — the resulting mini-warehouse
# satisfies every FK (n_fk_orphans is computed by a real anti-join and
# graded as a value, not asserted), joins behave like production, and
# the rule is coordinate-free (md5 of the key: any engine, any time,
# same sample — appends included). Contrast: independently sampling
# each table at 12.5% orphans ~87.5% of child rows. Child retention
# tracks parent retention only as far as FK fan-out is uniform — the
# pct columns measure exactly that.
_COORD_SAMPLE_ORACLE = """
WITH sc AS (
  SELECT c_custkey FROM customer
  WHERE substring(md5(CAST(c_custkey AS VARCHAR)), 1, 2) < '20'
),
so AS (
  SELECT o.o_orderkey, o.o_custkey FROM orders o
  WHERE o.o_custkey IN (SELECT c_custkey FROM sc)
),
sl AS (
  SELECT l.l_orderkey FROM lineitem l
  WHERE l.l_orderkey IN (SELECT o_orderkey FROM so)
)
SELECT 'customer' AS tbl,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_total,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sc) AS n_sampled,
       ROUND((SELECT CAST(COUNT(*) AS DOUBLE) FROM sc)
             / (SELECT COUNT(*) FROM customer), 4) AS pct,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sc
        WHERE c_custkey NOT IN (SELECT c_custkey FROM customer))
         AS n_fk_orphans
UNION ALL
SELECT 'orders',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM so),
       ROUND((SELECT CAST(COUNT(*) AS DOUBLE) FROM so)
             / (SELECT COUNT(*) FROM orders), 4),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM so
        WHERE o_custkey NOT IN (SELECT c_custkey FROM sc))
UNION ALL
SELECT 'lineitem',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sl),
       ROUND((SELECT CAST(COUNT(*) AS DOUBLE) FROM sl)
             / (SELECT COUNT(*) FROM lineitem), 4),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sl
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM so))
"""


@graded("sample_coordinated_fk", oracle=_COORD_SAMPLE_ORACLE)
def sample_coordinated_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordinated FK-consistent sample (rationale above): one md5
    rule on the parent key, children inherit by LEFT SEMI join (the
    FK-scale join shape — no broadcast of the data, shuffles on the
    join keys Catalyst already uses), orphan checks by LEFT ANTI. The
    result is nine 1-row aggregates assembled into a 3-row report —
    every attach bounded."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # r14 §2.4: sc is consumed 5×, so 4×, sl 2× (counts, semi-joins,
    # anti-joins) — unmaterialized, the nine 1-row aggregates re-ran
    # the whole sample chain per consumer: 38 parquet scans in one
    # plan (8 after). LAZY checkpoints: the first consumer
    # materializes each keys-only frame and the rest read blocks —
    # eager measured slightly negative here (3 serialized build jobs
    # on the critical path), lazy benched neutral-to-better over 5
    # interleaved pairs. All three frames are keys-only projections
    # (the guide §8 lightweight-proxy rule), but only sc is dim-sized:
    # so and sl are fact-key-scale (one key per sampled order and per
    # sampled line item, 1/8 of each table under the md5 < "20" rule).
    # Their checkpoint blocks are unreplicated executor storage that
    # grows with the fact tables, and an executor loss loses them.
    sc = (
        cust.where(
            F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 2) < "20"
        )
        .select("c_custkey")
        .localCheckpoint(eager=False)
    )
    so = (
        orders.join(sc, orders.o_custkey == sc.c_custkey, "left_semi")
        .select("o_orderkey", "o_custkey")
        .localCheckpoint(eager=False)
    )
    sl = (
        li.join(so, li.l_orderkey == so.o_orderkey, "left_semi")
        .select("l_orderkey")
        .localCheckpoint(eager=False)
    )

    def report(tbl: str, total_df, samp_df, orphan_df) -> DataFrame:
        t = total_df.agg(F.count("*").cast("bigint").alias("n_total"))
        s = samp_df.agg(F.count("*").cast("bigint").alias("n_sampled"))
        o = orphan_df.agg(F.count("*").cast("bigint").alias("n_fk_orphans"))
        return (
            t.crossJoin(F.broadcast(s))  # 1-row count attaches
            .crossJoin(F.broadcast(o))
            .select(
                F.lit(tbl).alias("tbl"),
                "n_total",
                "n_sampled",
                F.round(
                    F.col("n_sampled").cast("double") / F.col("n_total"), 4
                ).alias("pct"),
                "n_fk_orphans",
            )
        )

    rows = [
        report("customer", cust, sc,
               sc.join(cust, "c_custkey", "left_anti")),
        report("orders", orders, so,
               so.join(sc, so.o_custkey == sc.c_custkey, "left_anti")),
        report("lineitem", li, sl,
               sl.join(so, sl.l_orderkey == so.o_orderkey, "left_anti")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --- EXT: weighted sampling without replacement, exponential keys (r11) ------------

# Efraimidis–Spirakis A-ES: give item i the key u_i^(1/w_i) (here its
# monotone log form ln(u_i)/w_i) and take the k LARGEST keys — a
# provably exact weighted sample without replacement, computed as a
# stateless per-row expression + one top-k. This is the distributed
# answer to "sample 100 documents proportionally to length": no
# cumulative-weight prefix scan, no rejection loop, merge-safe (top-k
# of per-partition top-ks), one TakeOrderedAndProject. u is the house
# deterministic uniform ((md5 13-hex + 1) / 2^52 — the +1 keeps
# ln away from 0), weights GREATEST(n_chars, 1). The selection
# key ordering runs on identical-operand doubles in both engines; the
# displayed key is rounded, the ORDER BY uses the raw value. The key
# expression and the oracle live in operators/sampling.py and
# shared_sql (r12): the streaming replay twin
# stream_priority_sample_replay grades against the SAME derivation.
from .shared_sql import WPS_K as _WPS_K, WPS_ORACLE as _WPS_ORACLE


@graded("sample_weighted_priority", oracle=_WPS_ORACLE)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted 100-document sample via Efraimidis–Spirakis
    exponential keys (rationale above the oracle). The rank window
    runs over the 100-row selection (attach_unit_group — sample-sized
    by design, never corpus-sized)."""
    from ..operators import ranks as RK
    from ..operators.sampling import priority_keys

    docs = load_table(spark, sf_dir, "documents")
    keys = priority_keys(docs)
    topk = keys.orderBy(F.col("es_key").desc(), "doc_id").limit(_WPS_K)
    return (
        RK.attach_unit_group(topk)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy(RK.UNIT_GROUP).orderBy(
                    F.col("es_key").desc(), "doc_id"
                )
            ),
        )
        .select(
            F.col("rank").cast("long"),
            "doc_id",
            "weight",
            F.round(F.col("es_key") * 1000000, 4).alias("key_ppm"),
        )
        .orderBy("rank")
    )


# --- EXT: banding recall sweep across Hamming thresholds (r11) ---------------------

# dedup_simhash_recall_eval grades the production 4×16 banding at ONE
# operating point (τ = 8); the tuning question is the CURVE — how
# recall decays as the near-dup definition tightens or loosens. For
# every τ ≤ 8 the 9×7-bit pigeonhole banding is exact truth (8 errors
# can break at most 8 of 9 bands), and every 4×16 candidate within τ
# is by construction IN that truth, so precision is 1 and the sweep
# reduces to recall per τ: pairs-that-share-a-16-bit-band / all pairs
# at distance ≤ τ. τ ≤ 3 is guaranteed 1.0 (pigeonhole over 4 bands);
# the τ = 8 row reproduces the single-point eval. Uses the UNCAPPED
# 4×16 candidates — the sweep grades banding geometry, not the
# hub-star cap (whose effect dedup_simhash_cap_effect grades). Both
# pair frames are bounded band-key equi-joins; the τ ladder is a 4-row
# broadcast.
from .shared_sql import SIMHASH_SH_CTES as _SIMHASH_SH_CTES

_SWEEP_ORACLE = (
    _SIMHASH_SH_CTES
    + """,
b16 AS MATERIALIZED (
  SELECT doc_id, simhash, b, CAST((simhash >> (b * 16)) & 65535 AS BIGINT) AS bv
  FROM sh, range(0, 4) t(b)
),
f AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         bit_count(xor(a.simhash, b.simhash)) AS dist
  FROM b16 a
  JOIN b16 b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
),
b7 AS MATERIALIZED (
  SELECT doc_id, simhash, b7, CAST((simhash >> (b7 * 7)) & 127 AS BIGINT) AS bv7
  FROM sh, range(0, 9) t(b7)
),
t AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         bit_count(xor(a.simhash, b.simhash)) AS dist
  FROM b7 a
  JOIN b7 b ON a.b7 = b.b7 AND a.bv7 = b.bv7 AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
),
taus AS (SELECT unnest([2, 4, 6, 8]) AS tau),
tcnt AS (
  SELECT taus.tau, CAST(SUM(CASE WHEN t.dist <= taus.tau THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_truth
  FROM taus, t GROUP BY taus.tau
),
fcnt AS (
  SELECT taus.tau, CAST(SUM(CASE WHEN f.dist <= taus.tau THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_found
  FROM taus, f GROUP BY taus.tau
)
SELECT tcnt.tau, tcnt.n_truth, fcnt.n_found,
       ROUND(CAST(fcnt.n_found AS DOUBLE) / NULLIF(tcnt.n_truth, 0), 4)
         AS recall
FROM tcnt JOIN fcnt ON fcnt.tau = tcnt.tau
ORDER BY tcnt.tau
"""
)


@graded("dedup_threshold_sweep", oracle=_SWEEP_ORACLE)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the 4×16 banding per Hamming threshold τ ∈ {2,4,6,8}
    against 9×7 pigeonhole truth (rationale above the oracle)."""
    sh = T.simhash_sh_cached(spark, sf_dir)

    def pair_dists(n_bands: int, bits: int) -> DataFrame:
        from ..session import spread

        bands = sh.select(
            "doc_id",
            "simhash",
            F.explode(F.array(*[F.lit(b) for b in range(n_bands)])).alias("b"),
        ).select(
            "doc_id",
            "simhash",
            "b",
            F.expr(
                f"CAST((simhash >> (b * {bits})) & {(1 << bits) - 1} AS BIGINT)"
            ).alias("bv"),
        )
        # spread before the band self-join (r14, guide §2.5): the sh
        # checkpoint is 1 partition, so the quadratic-in-group-size
        # pair verify otherwise runs at shuffle.partitions width.
        bands = spread(bands, "b", "bv")
        a = bands.select(
            "b", "bv", F.col("doc_id").alias("da"), F.col("simhash").alias("sa")
        )
        b = bands.select(
            "b", "bv", F.col("doc_id").alias("db"), F.col("simhash").alias("sb")
        )
        return (
            a.join(b, ["b", "bv"])
            .where(F.col("da") < F.col("db"))
            .select(
                "da", "db", F.expr("bit_count(sa ^ sb)").alias("dist")
            )
            .where(F.col("dist") <= 8)
            .distinct()
        )

    found = pair_dists(4, 16)
    truth = pair_dists(9, 7)
    taus = spark.range(4).select((2 * (F.col("id") + 1)).cast("int").alias("tau"))

    def per_tau(pairs: DataFrame, out: str) -> DataFrame:
        # pre-aggregate per dist (≤9 rows, r14 §2.3) so the 4-row tau
        # ladder multiplies a 9-row census instead of every pair:
        # Σ_{dist≤τ} count(dist) ≡ the old per-pair conditional sum.
        by_dist = pairs.groupBy("dist").agg(F.count(F.lit(1)).alias("n"))
        return (
            by_dist.crossJoin(F.broadcast(taus))  # 4-row tau ladder
            .groupBy("tau")
            .agg(
                F.sum(
                    F.when(F.col("dist") <= F.col("tau"), F.col("n")).otherwise(
                        0
                    )
                )
                .cast("bigint")
                .alias(out)
            )
        )

    tcnt = per_tau(truth, "n_truth")
    fcnt = per_tau(found, "n_found")
    return (
        tcnt.join(fcnt, "tau")
        .select(
            "tau",
            "n_truth",
            "n_found",
            F.round(
                F.col("n_found").cast("double")
                / F.nullif(F.col("n_truth"), F.lit(0)),
                4,
            ).alias("recall"),
        )
        .orderBy("tau")
    )

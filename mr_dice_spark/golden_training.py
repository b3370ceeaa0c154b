"""Golden corpus part 8: training-data plumbing operators — deterministic
split assignment, corpus-adaptive length gating, embedding int8
quantization audit, truncate-then-rerank ANN.

All four are north-star extensions (the reference has no corpus/embedding
surface; nearest analogues are its projection/cleaning stage and the
dedup family, SURVEY.md §2.2/§2.6) but are the operators a 100 TB
pretraining pipeline runs daily: leakage-safe train/val/test cuts, length
outlier removal whose thresholds track the corpus, a go/no-go check
before compressing the embedding store, and the dimension-truncation ANN
path that complements LSH (bucketing) and IVF (clustering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mr_dice_spark.catalog import Catalog
from mr_dice_spark.golden import _r, golden
from mr_dice_spark.golden_builders import _utc
from mr_dice_spark.operators.sampling import split_assign, split_thresholds

# ---------------------------------------------------------------------------
# deterministic train/val/test split
# ---------------------------------------------------------------------------

def _bucket_sql(expr: str, seed: str) -> str:
    """DuckDB restatement of ``sampling.hash_bucket`` (8-hex-char md5
    prefix -> 32-bit bucket) — shared by every oracle in this module so
    the arithmetic is stated once. (golden_pipeline's ``_phash_sql`` is
    the 15-char/60-bit dedup-signature variant, a different hash.)"""
    return (
        f"CAST(('0x' || substring(md5('{seed}' || CAST({expr} AS VARCHAR)), 1, 8)) "
        "AS BIGINT)"
    )


# whitespace token count of documents.text, exactly as functions.text.tokens
_N_TOKENS_SQL = (
    r"CAST(CASE WHEN trim(COALESCE(text, '')) = '' THEN 0 "
    r"ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)"
)


def _split_case_sql(splits, seed: str, expr: str = "doc_id") -> str:
    """CASE expression assigning ``expr``'s split, thresholds taken from
    the SAME ``split_thresholds`` call the operator compiles, so the
    cumulative float arithmetic cannot drift between the two statements."""
    bounds = split_thresholds(splits)
    hv = _bucket_sql(expr, seed)
    cases = " ".join(f"WHEN {hv} < {u} THEN '{n}'" for n, u in bounds[:-1])
    return f"CASE {cases} ELSE '{bounds[-1][0]}' END"


_SPLITS = (("train", 0.9), ("val", 0.05), ("test", 0.05))
_SPLIT_SEED = "split/v1"


def _split_oracle() -> str:
    return f"""
SELECT doc_id, {_split_case_sql(_SPLITS, _SPLIT_SEED)} AS split
FROM documents
ORDER BY doc_id
"""


@golden("train_split_assign", _split_oracle(), tags=("sampling", "split", "documents"))
def train_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 leakage-safe split over documents: assignment is a pure
    function of (doc_id, seed) via the portable md5-prefix hash, so the
    cut is identical under repartitioning, re-runs, and engines. Plan is
    one narrow CASE — no shuffle, no aggregate."""
    docs = Catalog(spark, sf_dir).documents
    out = split_assign(docs, "doc_id", splits=_SPLITS, seed=_SPLIT_SEED)
    return out.select("doc_id", "split").orderBy("doc_id")


_KFOLD_SEED = "fold/v1"


def _kfold_oracle() -> str:
    return f"""
SELECT doc_id, CAST({_bucket_sql('doc_id', _KFOLD_SEED)} % 5 AS INT) AS fold
FROM documents
ORDER BY doc_id
"""


@golden("kfold_assign_docs", _kfold_oracle(), tags=("sampling", "kfold", "documents"))
def kfold_assign_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation assignment over documents: fold is a pure
    function of (doc_id, seed) via the portable md5-prefix hash — stable
    under repartitioning and incremental corpus growth (adding documents
    never moves existing rows between folds, which a rank-based equal
    split could not guarantee). One narrow expression, no shuffle."""
    from mr_dice_spark.operators.sampling import kfold_assign

    docs = Catalog(spark, sf_dir).documents
    return kfold_assign(docs, "doc_id", k=5, seed=_KFOLD_SEED).select(
        "doc_id", "fold"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# corpus-adaptive length outlier gate
# ---------------------------------------------------------------------------

LENGTH_FILTER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_N_TOKENS_SQL} AS n_tokens
  FROM documents
),
b AS (
  SELECT quantile_cont(n_tokens, 0.05) AS lo,
         quantile_cont(n_tokens, 0.95) AS hi
  FROM t
)
SELECT doc_id, n_tokens
FROM t, b
WHERE n_tokens >= lo - 1e-6 AND n_tokens <= hi + 1e-6
ORDER BY doc_id
"""


@golden(
    "length_outlier_filter",
    LENGTH_FILTER_ORACLE,
    tags=("curation", "percentile", "documents"),
)
def length_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep documents inside the corpus's own exact [p5, p95] token-count
    band (quantile_length_filter): one 2-quantile aggregate broadcast back
    as a scalar bound, one narrow filter pass — no corpus shuffle. The
    1e-6 boundary widening makes the integer-vs-interpolated-double
    comparison engine-exact (see the operator docstring)."""
    from mr_dice_spark.operators.curation import quantile_length_filter

    docs = Catalog(spark, sf_dir).documents
    out = quantile_length_filter(docs, "doc_id", "text", low=0.05, high=0.95)
    return out.select("doc_id", "n_tokens").orderBy("doc_id")


# ---------------------------------------------------------------------------
# embedding int8 quantization audit
# ---------------------------------------------------------------------------

INT8_ORACLE = """
WITH t AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc
  FROM t
),
e AS (
  -- sc IS NULL (empty/NULL vector: list_max of nothing) folds into the
  -- zero-error branch and a 0.0 scale, matching the operator's coalesce
  SELECT vec_id, sc,
         CASE WHEN sc IS NULL OR sc = 0 THEN list_transform(v, x -> 0.0)
              ELSE list_transform(v, x -> abs(floor(x / sc + 0.5) * sc - x)) END
           AS errs,
         len(v) AS nd
  FROM s
)
SELECT vec_id,
       ROUND(1e-9 + COALESCE(sc, 0.0), 6) AS scale,
       ROUND(1e-9 + CASE WHEN nd = 0 THEN 0.0 ELSE list_max(errs) END, 6)
         AS max_abs_err,
       ROUND(1e-9 + CASE WHEN nd = 0 THEN 0.0
                         ELSE list_sum(list_transform(errs, x -> x * x)) / nd END, 8)
         AS mse
FROM e
ORDER BY vec_id
"""


@golden(
    "embedding_int8_quantize",
    INT8_ORACLE,
    tags=("similarity", "quantization", "embeddings"),
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization error audit per vector — scale,
    max-abs reconstruction error, MSE — entirely JVM-side array HOFs
    (int8_quantize_stats): map-only, zero shuffle, code rounding stated
    as floor(x/scale + 0.5) so both engines tie-break identically."""
    from mr_dice_spark.operators.similarity import int8_quantize_stats

    emb = Catalog(spark, sf_dir).embeddings
    return int8_quantize_stats(emb, "vec_id", "embedding").orderBy("vec_id")


# ---------------------------------------------------------------------------
# truncate-then-rerank ANN (Matryoshka shape)
# ---------------------------------------------------------------------------

TRUNCATE_RERANK_ORACLE = """
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
t AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id <> 0
),
coarse AS (
  SELECT vec_id, v,
         ROUND(1e-9 + list_cosine_similarity(v[1:16], (SELECT qv[1:16] FROM q)), 6)
           AS cs
  FROM t
  ORDER BY cs DESC, vec_id
  LIMIT 50
)
SELECT vec_id,
       ROUND(1e-9 + list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS cosine
FROM coarse
ORDER BY cosine DESC, vec_id
LIMIT 10
"""


@golden(
    "cosine_topk_truncate_rerank",
    TRUNCATE_RERANK_ORACLE,
    tags=("similarity", "ann", "rerank"),
)
def cosine_topk_truncate_rerank_q0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbours of vector 0 via a 16-dim coarse pass over the
    truncated prefix, then exact 64-dim rerank of the 50 candidates —
    both stages TakeOrderedAndProject (per-partition heads, no global
    sort), both scores nudge-rounded before ranking so candidate
    membership is engine-exact."""
    from mr_dice_spark.operators.similarity import cosine_topk_truncate_rerank

    emb = Catalog(spark, sf_dir).embeddings
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    corpus = emb.where(F.col("vec_id") != 0)
    return cosine_topk_truncate_rerank(
        corpus, "vec_id", "embedding", qv, k=10, coarse_dims=16, coarse_k=50
    )


# ---------------------------------------------------------------------------
# token-budget mixture sampling
# ---------------------------------------------------------------------------

_BUDGETS = {"en": 5000, "de": 1500, "es": 1500, "fr": 1500, "zh": 2000}
_BUDGET_SEED = "budget/v1"


def _budget_oracle() -> str:
    vals = ", ".join(f"('{g}', {b})" for g, b in sorted(_BUDGETS.items()))
    return f"""
WITH t AS (
  SELECT doc_id, lang,
         {_N_TOKENS_SQL} AS n_tokens,
         {_bucket_sql("doc_id", _BUDGET_SEED)} AS hv
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY hv, doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens
              AS BIGINT) AS cum_before
  FROM t
),
b(lang, budget) AS (VALUES {vals})
SELECT doc_id, lang, n_tokens, cum_before
FROM c JOIN b USING (lang)
WHERE cum_before < budget
ORDER BY lang, cum_before, doc_id
"""


@golden(
    "token_budget_sample_by_lang",
    _budget_oracle(),
    tags=("sampling", "mixture", "tokens", "documents"),
)
def token_budget_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut each language to a TOKEN budget (how pretraining mixtures are
    specified) in portable-hash order: one per-group running-sum window
    (single hash shuffle) with the budget dimension broadcast back; the
    first budget-crossing document is included, bounding overshoot by one
    doc. Fully deterministic, so the oracle reproduces the exact member
    set — not just the counts."""
    from mr_dice_spark.functions.text import tokens
    from mr_dice_spark.operators.sampling import token_budget_sample

    docs = Catalog(spark, sf_dir).documents
    sized = docs.select(
        "doc_id",
        "lang",
        F.size(tokens(F.coalesce(F.col("text"), F.lit("")))).cast("long").alias(
            "n_tokens"
        ),
    )
    out = token_budget_sample(
        sized, "lang", _BUDGETS, "n_tokens", "doc_id", seed=_BUDGET_SEED
    )
    return out.select("doc_id", "lang", "n_tokens", "cum_before").orderBy(
        "lang", "cum_before", "doc_id"
    )


# ---------------------------------------------------------------------------
# split contamination audit (leakage QA)
# ---------------------------------------------------------------------------

_LEAK_SPLITS = (("train", 0.8), ("val", 0.1), ("test", 0.1))
_LEAK_SEED = "leak/v1"


def _leak_oracle() -> str:
    split_expr = _split_case_sql(_LEAK_SPLITS, _LEAK_SEED)
    return f"""
WITH a AS (
  SELECT doc_id, text, {split_expr} AS split FROM documents
),
words AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM a
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
             range(1, greatest(len(w) - 1, 1)),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
  FROM words WHERE len(w) >= 3
),
probe AS (
  SELECT DISTINCT shingle FROM sh JOIN a USING (doc_id) WHERE a.split = 'train'
),
eval_ids AS (SELECT doc_id, split FROM a WHERE split <> 'train'),
cnt AS (
  SELECT e.doc_id, e.split, COUNT(s.shingle) AS n_grams
  FROM eval_ids e LEFT JOIN sh s USING (doc_id)
  GROUP BY e.doc_id, e.split
),
hits AS (
  SELECT s.doc_id, COUNT(*) AS n_shared
  FROM sh s JOIN probe p USING (shingle)
  JOIN eval_ids e ON s.doc_id = e.doc_id
  GROUP BY s.doc_id
)
SELECT c.doc_id, c.split,
       c.n_grams,
       COALESCE(h.n_shared, 0) AS n_shared,
       ROUND(1e-9 + CASE WHEN c.n_grams = 0 THEN 0.0
             ELSE COALESCE(h.n_shared, 0) / CAST(c.n_grams AS DOUBLE) END,
             6) AS share,
       COALESCE(h.n_shared, 0) > 0 AS contaminated
FROM cnt c LEFT JOIN hits h USING (doc_id)
ORDER BY c.doc_id
"""


@golden(
    "split_contamination_audit",
    _leak_oracle(),
    tags=("sampling", "split", "decontaminate", "leakage"),
)
def split_contamination_audit_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage QA after an 80/10/10 row-id-keyed split: every val/test
    document is scored for 3-gram overlap with the train side — the
    planted near-dup families in the fixture guarantee true leakage rows,
    demonstrating exactly why split keys should be content/domain groups.
    Split CASE thresholds and the gram chain are restated verbatim in the
    oracle."""
    from mr_dice_spark.operators.decontaminate import split_contamination_audit

    docs = Catalog(spark, sf_dir).documents
    out = split_contamination_audit(
        docs, "doc_id", "text", splits=_LEAK_SPLITS, seed=_LEAK_SEED
    )
    return out.select(
        "doc_id", "split", "n_grams", "n_shared",
        _r("share", 6).alias("share"),
        "contaminated",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# quality-stratified curriculum mixture (LM score -> quartile -> mixture)
# ---------------------------------------------------------------------------

CURRICULUM_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
  FROM documents
),
dw AS (
  SELECT doc_id, t, COUNT(*) AS c FROM toks WHERE t <> '' GROUP BY doc_id, t
),
vocab AS (SELECT t, SUM(c) AS cw FROM dw GROUP BY t),
tot AS (SELECT CAST(SUM(cw) AS DOUBLE) AS n FROM vocab),
s AS (
  SELECT doc_id,
         ROUND(1e-9 + SUM(c * (ln(n) - ln(CAST(cw AS DOUBLE)))) / SUM(c), 6) AS q
  FROM dw JOIN vocab USING (t) CROSS JOIN tot
  GROUP BY doc_id
),
th AS (
  SELECT quantile_cont(q, 0.25) AS t1,
         quantile_cont(q, 0.50) AS t2,
         quantile_cont(q, 0.75) AS t3
  FROM s
),
b AS (
  SELECT doc_id, q,
         CASE WHEN q <= t1 + 1e-9 THEN 'b0'
              WHEN q <= t2 + 1e-9 THEN 'b1'
              WHEN q <= t3 + 1e-9 THEN 'b2'
              ELSE 'b3' END AS bucket
  FROM s, th
),
r AS (
  SELECT doc_id, q, bucket,
         ROW_NUMBER() OVER (
           PARTITION BY bucket
           ORDER BY {_bucket_sql("doc_id", "cur/")},
                    doc_id
         ) AS rn
  FROM b
)
SELECT doc_id, bucket, q
FROM r
WHERE rn <= CASE bucket WHEN 'b0' THEN 40 WHEN 'b1' THEN 30
                        WHEN 'b2' THEN 20 WHEN 'b3' THEN 10 ELSE 0 END
ORDER BY bucket, doc_id
"""


@golden(
    "quality_bucketed_mixture",
    CURRICULUM_ORACLE,
    tags=("sampling", "mixture", "quality", "pipeline"),
)
def quality_bucketed_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-mixture pipeline end-to-end: corpus-self-trained unigram
    LM score per doc -> exact quartile thresholds (broadcast scalars,
    nudged +1e-9 so a rounded score sitting exactly on an interpolated
    boundary buckets identically in both engines) -> deterministic
    40/30/20/10 mixture across quality buckets, fluent-most first. The
    oracle restates the whole chain; like mixture_sample_by_lang it
    hardcodes the uncapped largest-remainder quotas, valid because every
    quartile bucket holds >= 25% of the corpus >= its quota at oracle
    scale (availability-capping is unit-tested, not reachable here)."""
    from mr_dice_spark.operators.sampling import mixture_sample
    from mr_dice_spark.operators.terms import unigram_lm_score

    docs = Catalog(spark, sf_dir).documents
    scores = unigram_lm_score(docs, "doc_id", "text")
    # the scored frame feeds FOUR consumers (threshold aggregate, bucket
    # projection, mixture's group-count collect, final output) — without
    # materialization Catalyst re-runs the whole LM chain per consumer
    s = scores.select(
        "doc_id", _r("avg_neg_logprob", 6).alias("q")
    ).localCheckpoint(eager=True)
    th = s.agg(
        F.percentile("q", F.lit(0.25)).alias("__t1"),
        F.percentile("q", F.lit(0.50)).alias("__t2"),
        F.percentile("q", F.lit(0.75)).alias("__t3"),
    )
    eps = F.lit(1e-9)
    b = s.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "q",
        F.when(F.col("q") <= F.col("__t1") + eps, "b0")
        .when(F.col("q") <= F.col("__t2") + eps, "b1")
        .when(F.col("q") <= F.col("__t3") + eps, "b2")
        .otherwise("b3")
        .alias("bucket"),
    )
    out = mixture_sample(
        b, "bucket",
        {"b0": 0.4, "b1": 0.3, "b2": 0.2, "b3": 0.1},
        100, "doc_id", seed="cur/",
    )
    return out.select("doc_id", "bucket", "q").orderBy("bucket", "doc_id")


# ---------------------------------------------------------------------------
# corpus datasheet (per source x lang QA rollup)
# ---------------------------------------------------------------------------


def _datasheet_oracle() -> str:
    from mr_dice_spark.functions.text import LANG_PROFILES
    from mr_dice_spark.golden_pipeline import _lang_score_sql

    langs = sorted(LANG_PROFILES)
    scores = ",\n         ".join(f"{_lang_score_sql(lg)} AS s_{lg}" for lg in langs)
    mx = f"greatest({', '.join('s_' + lg for lg in langs)})"
    whens = " ".join(f"WHEN s_{lg} = mx THEN '{lg}'" for lg in langs)
    return f"""
WITH scored AS (
  SELECT source, lang,
         {_N_TOKENS_SQL} AS n_tokens,
         len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
             w -> list_contains(['the','a','an','and','or','of','to','in','is',
                                 'it','that','for','on','with','as','was','at',
                                 'by','this','be'], w))) * 1.0
           / len(string_split_regex(trim(text), '\\s+')) AS swr,
         {scores},
         text
  FROM documents
),
det AS (
  SELECT source, lang, n_tokens, swr,
         CASE WHEN {mx} = 0 THEN 'und' {whens} ELSE 'und' END AS detected
  FROM (SELECT *, {mx} AS mx FROM scored)
)
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(1e-9 + quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
       ROUND(1e-9 + AVG(swr), 6) AS avg_stopword_ratio,
       CAST(COUNT(*) FILTER (WHERE detected <> lang) AS BIGINT) AS n_lang_mismatch
FROM det
GROUP BY source, lang
ORDER BY source, lang
"""


@golden(
    "corpus_datasheet",
    _datasheet_oracle(),
    tags=("curation", "datasheet", "quality", "documents"),
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-(source, lang) corpus datasheet a dataset release ships:
    volume (docs, tokens), the exact median document length, stopword
    density, and the language-ID disagreement count — one scan, one hash
    aggregate, every signal a codegen'd expression (detect_language is
    the marker-score CASE, restated verbatim in the oracle)."""
    from mr_dice_spark.functions.text import detect_language, stopword_ratio, tokens

    docs = Catalog(spark, sf_dir).documents
    t = F.coalesce(F.col("text"), F.lit(""))
    d = docs.select(
        "source",
        "lang",
        F.size(tokens(t)).cast("long").alias("n_tokens"),
        stopword_ratio(F.col("text")).alias("swr"),
        detect_language(F.col("text")).alias("detected"),
    )
    return (
        d.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            _r(F.percentile("n_tokens", F.lit(0.5)), 4).alias("p50_tokens"),
            _r(F.avg("swr"), 6).alias("avg_stopword_ratio"),
            F.count_if(F.col("detected") != F.col("lang")).cast("long").alias(
                "n_lang_mismatch"
            ),
        )
        .orderBy("source", "lang")
    )


# ---------------------------------------------------------------------------
# embedding outlier QA (distance-to-centroid z-score)
# ---------------------------------------------------------------------------

EMB_OUTLIER_ORACLE = """
WITH t AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
e AS (
  SELECT label, CAST(g.i AS INT) AS pos, v[CAST(g.i AS INT)] AS x
  FROM t, UNNEST(generate_series(1, len(v))) AS g(i)
),
c AS (SELECT label, pos, AVG(x) AS cx FROM e GROUP BY label, pos),
cent AS (SELECT label, list(cx ORDER BY pos) AS cv FROM c GROUP BY label),
d AS (
  SELECT t.vec_id, t.label,
         1.0 - list_cosine_similarity(t.v, cent.cv) AS dist
  FROM t JOIN cent USING (label)
),
s AS (SELECT label, AVG(dist) AS mu, stddev_samp(dist) AS sd FROM d GROUP BY label)
SELECT d.vec_id, d.label,
       ROUND(1e-9 + dist, 6) AS dist,
       ROUND(1e-9 + (dist - mu) / NULLIF(sd, 0), 4) AS z,
       COALESCE(ROUND(1e-9 + (dist - mu) / NULLIF(sd, 0), 4) > 3.0, false) AS outlier
FROM d JOIN s USING (label)
ORDER BY vec_id
"""


@golden(
    "embedding_outlier_flags",
    EMB_OUTLIER_ORACLE,
    tags=("similarity", "quality", "outlier", "embeddings"),
)
def embedding_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-store QA (embedding_outliers): cosine distance to the
    label centroid, per-label z-score, outlier flag at z > 3 — the cheap
    mislabeled-row / corrupt-vector screen run before an index build.
    Centroids come from a (label, dim) hash aggregate and broadcast back;
    z compares after nudge-rounding so the flag is engine-exact."""
    from mr_dice_spark.operators.similarity import embedding_outliers

    emb = Catalog(spark, sf_dir).embeddings
    return embedding_outliers(emb, "vec_id", "embedding", "label").orderBy("vec_id")


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

_DSIR_SEED = "dsir/"


def _dsir_oracle(k: int = 100, buckets: int = 256) -> str:
    h_gram = _bucket_sql("u.g", _DSIR_SEED)
    h_gum = _bucket_sql("d.doc_id", _DSIR_SEED + "gumbel/")
    return f"""
WITH g AS (
  SELECT doc_id, t, b, COUNT(*) AS cnt FROM (
    SELECT doc_id, (lang = 'en') AS t,
           {h_gram} % {buckets} AS b
    FROM documents,
         UNNEST(string_split_regex(lower(COALESCE(text, '')), '[^a-z]+')) AS u(g)
    WHERE u.g <> ''
  ) GROUP BY 1, 2, 3
),
cells AS (
  SELECT b,
         SUM(CASE WHEN t THEN cnt ELSE 0 END) AS ct,
         SUM(cnt) AS cp
  FROM g GROUP BY b
),
lr AS (
  SELECT b,
         LN((ct + 1.0) / (SUM(ct) OVER () + {buckets}.0))
       - LN((cp + 1.0) / (SUM(cp) OVER () + {buckets}.0)) AS lr
  FROM cells
),
sc AS (
  SELECT g.doc_id, SUM(g.cnt * lr.lr) AS logw
  FROM g JOIN lr ON lr.b = g.b GROUP BY g.doc_id
),
keyed AS (
  SELECT d.doc_id, COALESCE(sc.logw, 0.0) AS logw,
         COALESCE(sc.logw, 0.0)
           - LN(-LN(({h_gum} + 0.5) / 4294967296.0)) AS gk
  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
)
SELECT doc_id, ROUND(1e-9 + logw, 6) AS logw,
       ROUND(1e-9 + gk, 6) AS gumbel_key
FROM keyed
ORDER BY gk DESC, doc_id
LIMIT {k}
"""


@golden(
    "dsir_importance_select_en",
    _dsir_oracle(),
    tags=("sampling", "dsir", "importance", "documents"),
)
def dsir_importance_select_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection toward the English subcorpus: hashed-unigram
    cell distributions (portable md5 → 256 cells) for target (lang='en')
    and pool, Laplace-smoothed log-likelihood-ratio per cell, per-doc
    importance logw, and a deterministic Gumbel-top-100 draw — the
    standard importance-resampling recipe for matching a pretraining
    pool to a domain. Cell dim is broadcast (bounded by the parameter),
    the per-doc sum is the one corpus shuffle, and the top-k is
    TakeOrderedAndProject. The oracle restates every stage including the
    Gumbel noise; both engines round only at the output."""
    from mr_dice_spark.operators.curation import dsir_importance_select

    docs = Catalog(spark, sf_dir).documents.withColumn(
        "is_en", F.col("lang") == "en"
    )
    out = dsir_importance_select(
        docs, "doc_id", "text", "is_en", k=100, buckets=256, seed=_DSIR_SEED
    )
    return out.select(
        "doc_id",
        _r("logw", 6).alias("logw"),
        _r("gumbel_key", 6).alias("gumbel_key"),
    ).orderBy(F.col("gumbel_key").desc(), "doc_id")


# ---------------------------------------------------------------------------
# model-evaluation aggregates: AUC / calibration / inter-rater agreement
# ---------------------------------------------------------------------------

AUC_ORACLE = """
WITH base AS (
  SELECT event_type AS g, value AS s, (user_id % 3 = 0) AS y
  FROM events WHERE value IS NOT NULL
),
ranked AS (
  SELECT g, y,
         (RANK() OVER (PARTITION BY g ORDER BY s ASC)
          + COUNT(*) OVER (PARTITION BY g)
          - RANK() OVER (PARTITION BY g ORDER BY s DESC) + 1) / 2.0 AS r
  FROM base
),
agg AS (
  SELECT g,
         SUM(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos,
         SUM(CASE WHEN y THEN 0 ELSE 1 END) AS n_neg,
         SUM(CASE WHEN y THEN r END) AS rpos
  FROM ranked GROUP BY g
)
SELECT g AS event_type, CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       ROUND(1e-9 + (rpos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6)
         AS auc
FROM agg
ORDER BY event_type
"""


@golden(
    "auc_value_by_event_type",
    AUC_ORACLE,
    tags=("evaluation", "auc", "window", "events"),
)
def auc_value_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ROC-AUC as the Mann-Whitney rank-sum with exact mid-rank
    tie handling — the 'does this quality score actually separate the
    labels' audit, per event type. The ascending/descending rank windows
    and the group count share ONE exchange on the group key; arithmetic
    is half-integer-exact until the final division, rounded identically
    on both engines. (The label is a synthetic hash-class — the golden
    checks the statistic, not the classifier.)"""
    from mr_dice_spark.operators.evaluation import auc_by_group

    ev = Catalog(spark, sf_dir).events.withColumn(
        "is_hit", F.col("user_id") % 3 == 0
    )
    out = auc_by_group(ev, "event_type", "value", "is_hit")
    return out.select(
        "event_type", "n_pos", "n_neg", _r("auc", 6).alias("auc")
    ).orderBy("event_type")


CALIBRATION_ORACLE = """
WITH base AS (
  SELECT value / (value + 50.0) AS s,
         (event_type IN ('purchase', 'signup')) AS y
  FROM events WHERE value IS NOT NULL
),
agg AS (
  SELECT LEAST(GREATEST(CAST(FLOOR(s * 10) AS INT), 0), 9) AS bin,
         COUNT(*) AS n, AVG(s) AS mean_score,
         AVG(CASE WHEN y THEN 1.0 ELSE 0.0 END) AS pos_rate
  FROM base GROUP BY 1
)
SELECT bin, CAST(n AS BIGINT) AS n,
       ROUND(1e-9 + mean_score, 6) AS mean_score,
       ROUND(1e-9 + pos_rate, 6) AS pos_rate,
       ROUND(1e-9 + ABS(pos_rate - mean_score), 6) AS abs_gap
FROM agg
ORDER BY bin
"""


@golden(
    "calibration_bins_events",
    CALIBRATION_ORACLE,
    tags=("evaluation", "calibration", "agg", "events"),
)
def calibration_bins_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for a squashed [0,1) score against the
    purchase/signup label: 10 equal-width bins, per-bin count, mean
    score, observed rate and |gap| (the ECE summand). One hash
    aggregate on the bin key — the shape that scales to any corpus.
    Both engines bin with the same clamped floor and round only at the
    output."""
    from mr_dice_spark.operators.evaluation import calibration_bins

    ev = Catalog(spark, sf_dir).events.select(
        (F.col("value") / (F.col("value") + 50.0)).alias("score"),
        F.col("event_type").isin("purchase", "signup").alias("is_conv"),
    )
    out = calibration_bins(ev, "score", "is_conv", n_bins=10)
    return out.select(
        "bin", "n",
        _r("mean_score", 6).alias("mean_score"),
        _r("pos_rate", 6).alias("pos_rate"),
        _r("abs_gap", 6).alias("abs_gap"),
    ).orderBy("bin")


KAPPA_ORACLE = """
WITH base AS (
  SELECT CASE WHEN value > 50 THEN 'hi' ELSE 'lo' END AS a,
         CASE WHEN event_type IN ('purchase', 'click') THEN 'hi' ELSE 'lo' END AS b
  FROM events WHERE value IS NOT NULL
),
tot AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree
  FROM base
),
pe AS (
  SELECT SUM(na * nb) AS pe_num FROM
    (SELECT a, COUNT(*) AS na FROM base GROUP BY a) ma
    JOIN (SELECT b, COUNT(*) AS nb FROM base GROUP BY b) mb ON ma.a = mb.b
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(1e-9 + agree / CAST(n AS DOUBLE), 6) AS po,
       ROUND(1e-9 + pe_num / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
       ROUND(1e-9 + (agree / CAST(n AS DOUBLE)
                     - pe_num / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
             / (1.0 - pe_num / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)
         AS kappa
FROM tot, pe
"""


@golden(
    "cohens_kappa_value_flags",
    KAPPA_ORACLE,
    tags=("evaluation", "kappa", "agg", "events"),
)
def cohens_kappa_value_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two derived 'raters' (value threshold vs
    event-type class) — the inter-annotator agreement statistic labeled-
    data QA runs before trusting a label set. Confusion cells, then the
    marginal dot product: two tiny aggregates, a single-row result,
    exact integer arithmetic until the closing divisions."""
    from mr_dice_spark.operators.evaluation import cohens_kappa

    ev = Catalog(spark, sf_dir).events.where(F.col("value").isNotNull()).select(
        F.when(F.col("value") > 50, "hi").otherwise("lo").alias("rater_a"),
        F.when(
            F.col("event_type").isin("purchase", "click"), "hi"
        ).otherwise("lo").alias("rater_b"),
    )
    out = cohens_kappa(ev, "rater_a", "rater_b")
    return out.select(
        "n",
        _r("po", 6).alias("po"),
        _r("pe", 6).alias("pe"),
        _r("kappa", 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# per-group weighted sampling (stratified A-Res)
# ---------------------------------------------------------------------------

WEIGHTED_PER_GROUP_ORACLE = """
SELECT doc_id, lang, n_chars
FROM (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY POW((CAST(('0x' || substring(md5('wsg/' || CAST(doc_id AS VARCHAR)), 1, 8))
                              AS BIGINT) + 0.5) / 4294967296.0,
                        1.0 / n_chars) DESC,
                    doc_id ASC
         ) AS rk
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
)
WHERE rk <= 20
ORDER BY lang, doc_id
"""


@golden(
    "weighted_sample_per_lang",
    WEIGHTED_PER_GROUP_ORACLE,
    tags=("sampling", "weighted", "stratified", "deterministic"),
)
def weighted_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified A-Res: 20 documents per language, drawn without
    replacement with probability proportional to length — the 'balanced
    per-slice, weighted within slice' corpus subsetting primitive. The
    per-group top-n compiles to WindowGroupLimit (rank pushed into the
    shuffle), and the draw key is the portable md5 pow arithmetic, so
    the oracle restates the whole selection."""
    from mr_dice_spark.operators.sampling import weighted_sample_per_group

    docs = Catalog(spark, sf_dir).documents
    out = weighted_sample_per_group(
        docs, "lang", "doc_id", "n_chars", n_per_group=20, seed="wsg/"
    )
    return out.select("doc_id", "lang", "n_chars").orderBy("lang", "doc_id")


# ---------------------------------------------------------------------------
# corpus content fingerprint (order-insensitive multiset hash)
# ---------------------------------------------------------------------------

FINGERPRINT_ORACLE = """
WITH h AS (
  SELECT CAST(('0x' || substring(sha256(
           concat_ws('|',
             CASE WHEN doc_id IS NULL THEN 'N'
                  ELSE length(CAST(doc_id AS VARCHAR)) || ':' || CAST(doc_id AS VARCHAR) END,
             CASE WHEN text IS NULL THEN 'N'
                  ELSE length(text) || ':' || text END,
             CASE WHEN lang IS NULL THEN 'N'
                  ELSE length(lang) || ':' || lang END,
             CASE WHEN source IS NULL THEN 'N'
                  ELSE length(source) || ':' || source END)), 1, 15)) AS BIGINT) AS v
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(v AS HUGEINT)) % 1152921504606846976 AS BIGINT)
         AS content_hash
FROM h
"""


@golden(
    "corpus_fingerprint_documents",
    FINGERPRINT_ORACLE,
    tags=("profile", "fingerprint", "hash", "documents"),
)
def corpus_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive multiset content hash of the documents table —
    the 'are these two snapshots the same data' check that costs one
    aggregate instead of a 100 TB sort/join: each row contributes a
    60-bit sha256 prefix over its canonical column string, summed mod
    2^60 (commutative, so partitioning/ordering/engine cannot change
    it; duplicates COUNT, unlike an XOR fold). The oracle restates the
    identical arithmetic through DuckDB's sha256/HUGEINT."""
    from mr_dice_spark.operators.profile import corpus_fingerprint

    docs = Catalog(spark, sf_dir).documents
    return corpus_fingerprint(docs, ["doc_id", "text", "lang", "source"])


# ---------------------------------------------------------------------------
# Spearman rank correlation (deterministic permutation-rank form)
# ---------------------------------------------------------------------------

SPEARMAN_ORACLE = """
WITH base AS (
  SELECT event_type AS g, value AS x, ts AS y, event_id AS i
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL
    AND ts IS NOT NULL AND event_id IS NOT NULL
),
r AS (
  SELECT g,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY x, i) AS rx,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY y, i) AS ry
  FROM base
)
SELECT g AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(1e-9 + CASE WHEN COUNT(*) > 1 THEN
         1.0 - 6.0 * SUM(CAST(rx - ry AS DOUBLE) * CAST(rx - ry AS DOUBLE))
               / (CAST(COUNT(*) AS DOUBLE)
                  * (CAST(COUNT(*) AS DOUBLE) * COUNT(*) - 1.0)) END, 6)
         AS spearman
FROM r GROUP BY g
ORDER BY event_type
"""


@golden(
    "spearman_value_time_by_type",
    SPEARMAN_ORACLE,
    tags=("evaluation", "correlation", "window", "events"),
)
def spearman_value_time_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Spearman correlation between value and event time —
    the monotone-drift detector (is this metric trending?) that Pearson
    misses on non-linear trends. Ranks are ROW_NUMBERs under a
    deterministic (value, id) total order, so both rank vectors are
    permutations of 1..n and rho = 1 - 6*sum(d^2)/(n(n^2-1)) is
    integer-exact in doubles until the one division — bit-stable
    cross-engine, no tie-averaging FP surface. One exchange on the
    group key (both rank windows share it), one aggregate."""
    from mr_dice_spark.operators.evaluation import spearman_by_group

    ev = Catalog(spark, sf_dir).events
    out = spearman_by_group(ev, "event_type", "value", "ts", "event_id")
    return out.select(
        "event_type", "n", _r("spearman", 6).alias("spearman")
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Bradley-Terry preference strengths (unrolled MM sweeps)
# ---------------------------------------------------------------------------

def _bt_oracle(rounds: int = 5) -> str:
    """Unrolled Zermelo/MM sweeps as chained CTEs. Every CTE is
    MATERIALIZED: d and tw are re-read by every sweep and each s_r feeds
    s_{r+1} twice (the i- and j-side score joins), the exact shape an
    inlining planner re-expands exponentially (the k-core lesson)."""
    parts = [
        """WITH li AS MATERIALIZED (
  SELECT l_orderkey, l_partkey, l_extendedprice FROM lineitem
),
br AS MATERIALIZED (
  SELECT px.p_brand AS bx, py.p_brand AS by_,
         x.l_extendedprice AS vx, y.l_extendedprice AS vy
  FROM li x
  JOIN li y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  JOIN part px ON px.p_partkey = x.l_partkey
  JOIN part py ON py.p_partkey = y.l_partkey
  WHERE px.p_brand <> py.p_brand
),
g AS MATERIALIZED (
  SELECT CASE WHEN bx < by_ THEN bx ELSE by_ END AS a,
         CASE WHEN bx < by_ THEN by_ ELSE bx END AS b,
         COUNT(*) AS n,
         SUM(CASE WHEN (CASE WHEN vx >= vy THEN bx ELSE by_ END)
                     = (CASE WHEN bx < by_ THEN bx ELSE by_ END)
                  THEN 1 ELSE 0 END) AS wa
  FROM br GROUP BY 1, 2
),
d AS MATERIALIZED (
  SELECT a AS i, b AS j, n, wa AS w FROM g
  UNION ALL
  SELECT b, a, n, n - wa FROM g
),
tw AS MATERIALIZED (
  SELECT i, SUM(n) AS games, SUM(w) AS wins FROM d GROUP BY i
),
s0 AS MATERIALIZED (SELECT i, 1.0 AS p FROM tw),"""
    ]
    for r in range(1, rounds + 1):
        prev = f"s{r - 1}"
        parts.append(
            f"""s{r} AS MATERIALIZED (
  SELECT d.i,
         CAST(tw.wins AS DOUBLE)
           / SUM(CAST(d.n AS DOUBLE) / (pi.p + pj.p)) AS p
  FROM d
  JOIN {prev} pi ON pi.i = d.i
  JOIN {prev} pj ON pj.i = d.j
  JOIN tw ON tw.i = d.i
  GROUP BY d.i, tw.wins
),"""
        )
    parts.append(
        f"""fin AS (
  SELECT tw.i, tw.games, tw.wins, s.p
  FROM tw JOIN s{rounds} s ON s.i = tw.i
)
SELECT i AS brand, CAST(games AS BIGINT) AS games,
       CAST(wins AS BIGINT) AS wins,
       ROUND(1e-9 + p, 6) AS strength
FROM fin ORDER BY brand"""
    )
    return "\n".join(parts)


def brand_contest_tally(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand-pair contest tally ``(a, b, n, wins_a)`` from same-order
    lineitem pairs (pricier line wins; price ties to the lower-partkey
    side; same-brand contests excluded). The corpus-sized stage of the
    Bradley-Terry golden — both brand dims broadcast, one (a, b)
    aggregate — factored out so plan-shape CI can pin it BEFORE the
    operator's localCheckpoint materializes it away."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.select("l_orderkey", "l_partkey", "l_extendedprice")
    pb = cat.part.select("p_partkey", "p_brand")
    x, y = li.alias("x"), li.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .join(F.broadcast(pb.alias("px")), F.col("px.p_partkey") == F.col("x.l_partkey"))
        .join(F.broadcast(pb.alias("py")), F.col("py.p_partkey") == F.col("y.l_partkey"))
        .where(F.col("px.p_brand") != F.col("py.p_brand"))
        .select(
            F.col("px.p_brand").alias("bx"),
            F.col("py.p_brand").alias("by"),
            F.col("x.l_extendedprice").alias("vx"),
            F.col("y.l_extendedprice").alias("vy"),
        )
    )
    a = F.least("bx", "by")
    b = F.greatest("bx", "by")
    winner = F.when(F.col("vx") >= F.col("vy"), F.col("bx")).otherwise(F.col("by"))
    return (
        pairs.select(a.alias("a"), b.alias("b"), (winner == a).alias("wa"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("wa").cast("long")).alias("wins_a"),
        )
    )


@golden(
    "bradley_terry_brand_prefs",
    _bt_oracle(),
    tags=("evaluation", "preferences", "iterative"),
)
def bradley_terry_brand_prefs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strengths over brand-vs-brand 'contests' (two parts
    in one order, the pricier line wins, price ties to the lower
    partkey side): the pairwise-preference QA primitive — RLHF
    preference corpora are exactly (a, b, winner) tallies, and BT
    strengths expose imbalanced or non-transitive comparison graphs
    before reward-model training. 5 fixed MM sweeps from p=1, no
    normalization; the corpus-sized pair build aggregates to a
    25-brand tally before any iteration, so the sweeps are item-sized.
    The oracle unrolls the same sweeps (MATERIALIZED; each s_r is read
    twice per sweep)."""
    from mr_dice_spark.operators.evaluation import bradley_terry

    tally = brand_contest_tally(spark, sf_dir)
    out = bradley_terry(tally, "a", "b", "wins_a", "n", n_iter=5)
    return out.select(
        F.col("item").alias("brand"), "games", "wins",
        _r("strength", 6).alias("strength"),
    ).orderBy("brand")


WELCH_ORACLE = """
WITH base AS (
  SELECT event_type AS g,
         (CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) % 7) IN (2, 3) AS s,
         value AS v
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
a AS (
  SELECT g,
         COUNT(CASE WHEN s THEN 1 END) AS n1,
         COUNT(CASE WHEN NOT s THEN 1 END) AS n2,
         AVG(CASE WHEN s THEN v END) AS m1,
         AVG(CASE WHEN NOT s THEN v END) AS m2,
         VAR_SAMP(CASE WHEN s THEN v END) AS v1,
         VAR_SAMP(CASE WHEN NOT s THEN v END) AS v2
  FROM base GROUP BY g
)
SELECT g AS event_type, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       ROUND(1e-9 + m1 - m2, 6) AS mean_diff,
       ROUND(1e-9 + CASE WHEN n1 > 1 AND n2 > 1 THEN
         (m1 - m2) / NULLIF(SQRT(v1 / n1 + v2 / n2), 0) END, 6) AS t_stat,
       ROUND(1e-9 + CASE WHEN n1 > 1 AND n2 > 1 THEN
         POW(v1 / n1 + v2 / n2, 2)
         / NULLIF(POW(v1 / n1, 2) / (n1 - 1)
                  + POW(v2 / n2, 2) / (n2 - 1), 0) END, 6) AS df_welch
FROM a ORDER BY event_type
"""


@golden(
    "welch_t_weekend_split",
    WELCH_ORACLE,
    tags=("evaluation", "ttest", "agg", "events"),
)
def welch_t_weekend_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t between a two-day 'weekend' slice (epoch-day mod 7 in
    {2,3} — day-of-week arithmetic kept engine-portable) and the rest,
    per event type: the parametric mean-shift check beside the
    rank-based AUC and the sequential CUSUM. One conditional-moment
    aggregate per group; no equal-variance assumption."""
    from mr_dice_spark.operators.evaluation import welch_t_test

    ev = Catalog(spark, sf_dir).events.select(
        "event_type", "value",
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7)
        .isin(2, 3).alias("wk"),
    ).where(F.col("ts").isNotNull())
    out = welch_t_test(ev, "event_type", "wk", "value")
    return out.select(
        "event_type", "n1", "n2",
        _r("mean_diff", 6).alias("mean_diff"),
        _r("t_stat", 6).alias("t_stat"),
        _r("df_welch", 6).alias("df_welch"),
    ).orderBy("event_type")


CONFORMAL_ORACLE = """
WITH b AS (
  SELECT event_type AS g,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) - 19723 AS x,
         ROUND(1e-9 + AVG(value), 6) AS y
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
s AS (
  SELECT g, x, y,
         CASE WHEN x < 10 THEN 'fit'
              WHEN x < 20 THEN 'calib' ELSE 'test' END AS sp
  FROM b
),
m AS (
  SELECT g, CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM s WHERE sp = 'fit' GROUP BY g
),
model AS (
  SELECT g, CAST(n AS BIGINT) AS n_fit,
         ROUND(1e-9 + (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6)
           AS b_,
         ROUND(1e-9 + (sy - (n * sxy - sx * sy)
                       / NULLIF(n * sxx - sx * sx, 0) * sx) / n, 6) AS a_
  FROM m
),
r AS (
  SELECT s.g, s.sp, ABS(s.y - (model.a_ + model.b_ * s.x)) AS resid
  FROM s JOIN model ON model.g = s.g
),
c AS (
  SELECT g, COUNT(*) AS n_calib,
         ROUND(1e-9 + quantile_cont(resid, 0.9), 6) AS q_resid
  FROM r WHERE sp = 'calib' GROUP BY g
),
t AS (
  SELECT r.g, COUNT(*) AS n_test,
         ROUND(1e-9 + AVG(CASE WHEN resid <= q_resid
                               THEN 1.0 ELSE 0.0 END), 6) AS coverage
  FROM r JOIN c ON c.g = r.g WHERE sp = 'test' GROUP BY r.g
)
SELECT model.g AS event_type, model.n_fit,
       CAST(COALESCE(c.n_calib, 0) AS BIGINT) AS n_calib,
       CAST(COALESCE(t.n_test, 0) AS BIGINT) AS n_test,
       c.q_resid, t.coverage
FROM model
LEFT JOIN c ON c.g = model.g
LEFT JOIN t ON t.g = model.g
ORDER BY event_type
"""


@golden(
    "conformal_coverage_daily_trend",
    CONFORMAL_ORACLE,
    tags=("evaluation", "conformal", "calibration", "pipeline"),
)
def conformal_coverage_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal interval audit on the daily value trend per event
    type: fit days 0-9, calibrate the 90% absolute-residual quantile on
    days 10-19, measure empirical coverage on days 20+. The
    distribution-free 'are my prediction intervals honest' check —
    coverage far from 0.9 flags regime drift between calibration and
    test. Model coefficients and residual quantiles quantize to 6 dp
    (chained-float contract); percentile() = quantile_cont."""
    from mr_dice_spark.operators.evaluation import conformal_residual_coverage

    ev = Catalog(spark, sf_dir).events.where(F.col("value").isNotNull())
    day = (F.floor(F.unix_timestamp("ts") / 86400).cast("long") - 19723)
    daily = ev.groupBy(
        F.col("event_type"), day.alias("x")
    ).agg(F.round(F.avg("value") + F.lit(1e-9), 6).alias("y"))
    split = (
        F.when(F.col("x") < 10, "fit")
        .when(F.col("x") < 20, "calib")
        .otherwise("test")
    )
    daily = daily.withColumn("sp", split)
    out = conformal_residual_coverage(
        daily, "event_type", "x", "y", "sp", alpha=0.1
    )
    return out.select(
        "event_type", "n_fit", "n_calib", "n_test",
        _r("q_resid", 6).alias("q_resid"),
        _r("coverage", 6).alias("coverage"),
    ).orderBy("event_type")


KM_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CONCAT('c', CAST(user_id % 4 AS VARCHAR)) AS cohort,
         MIN(epoch_us(ts)) AS first_us,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           AS purch_us,
         MAX(epoch_us(ts)) AS last_us
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id
),
subj AS (
  SELECT cohort,
         CAST(FLOOR((COALESCE(purch_us, last_us) - first_us)
                    / 3600000000.0) AS DOUBLE) AS t,
         purch_us IS NOT NULL AS e
  FROM per_user
),
times AS (
  SELECT cohort AS g, t,
         count_if(e) AS d, count_if(NOT e) AS c
  FROM subj GROUP BY 1, 2
),
staged AS (
  SELECT g, t, d, c,
         SUM(d + c) OVER (PARTITION BY g)
         - COALESCE(SUM(d + c) OVER (PARTITION BY g ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
  FROM times
),
lf AS (
  SELECT g, t, d, c, n,
         CASE WHEN d < n
              THEN ROUND(1e-12 + LN(1.0 - CAST(d AS DOUBLE) / n), 9) END AS f
  FROM staged
),
surv AS (
  SELECT g, t, d, c, n,
         CASE WHEN MAX(CASE WHEN d >= n THEN t END) OVER w IS NOT NULL
              THEN 0.0
              ELSE EXP(SUM(f) OVER w) END AS s
  FROM lf
  WINDOW w AS (PARTITION BY g ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT g AS cohort, t AS duration_h,
       CAST(n AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS n_events,
       CAST(c AS BIGINT) AS n_censored,
       ROUND(1e-9 + s, 6) AS survival
FROM surv WHERE d > 0
ORDER BY cohort, duration_h
"""


@golden(
    "kaplan_meier_time_to_purchase",
    KM_ORACLE,
    tags=("evaluation", "survival", "window", "events"),
)
def kaplan_meier_time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-first-purchase per user cohort, with users
    who never purchase right-CENSORED at their last event — the honest
    conversion-latency curve (dropping non-converters biases every
    naive average toward the impatient). Durations are whole hours
    (integer-exact group keys); the survival product telescopes to an
    exp(running sum of 9dp-quantized logs) — one ordered window per
    cohort, both engines chaining identical doubles."""
    from mr_dice_spark.operators.evaluation import kaplan_meier

    ev = Catalog(spark, sf_dir).events.where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    us = F.unix_micros("ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(us).alias("first_us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("purch_us"),
        F.max(us).alias("last_us"),
    )
    subj = per_user.select(
        F.concat(F.lit("c"), (F.col("user_id") % 4).cast("string")).alias("cohort"),
        F.floor(
            (F.coalesce("purch_us", "last_us") - F.col("first_us")) / 3600000000.0
        ).cast("double").alias("duration_h"),
        F.col("purch_us").isNotNull().alias("converted"),
    )
    out = kaplan_meier(subj, "cohort", "duration_h", "converted")
    return out.select(
        "cohort", "duration_h", "n_risk", "n_events", "n_censored",
        _r("survival", 6).alias("survival"),
    ).orderBy("cohort", "duration_h")


RMST_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CONCAT('c', CAST(user_id % 4 AS VARCHAR)) AS cohort,
         MIN(epoch_us(ts)) AS first_us,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           AS purch_us,
         MAX(epoch_us(ts)) AS last_us
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id
),
subj AS (
  SELECT cohort,
         CAST(FLOOR((COALESCE(purch_us, last_us) - first_us)
                    / 3600000000.0) AS DOUBLE) AS t,
         purch_us IS NOT NULL AS e
  FROM per_user
),
times AS (
  SELECT cohort AS g, t,
         count_if(e) AS d, count_if(NOT e) AS c
  FROM subj GROUP BY 1, 2
),
staged AS (
  SELECT g, t, d, c,
         SUM(d + c) OVER (PARTITION BY g)
         - COALESCE(SUM(d + c) OVER (PARTITION BY g ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
  FROM times
),
lf AS (
  SELECT g, t, d, n,
         CASE WHEN d < n
              THEN ROUND(1e-12 + LN(1.0 - CAST(d AS DOUBLE) / n), 9) END AS f
  FROM staged
),
surv AS (
  SELECT g, t, d,
         CASE WHEN MAX(CASE WHEN d >= n THEN t END) OVER w IS NOT NULL
              THEN 0.0
              ELSE EXP(SUM(f) OVER w) END AS s
  FROM lf
  WINDOW w AS (PARTITION BY g ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
ev AS (SELECT g, t, s FROM surv WHERE d > 0),
terms AS (
  SELECT g,
         (CASE WHEN ROW_NUMBER() OVER wo = 1
               THEN LEAST(t, 360.0) ELSE 0.0 END)
         + (CASE WHEN t < 360.0
                 THEN s * (LEAST(COALESCE(LEAD(t) OVER wo, 360.0), 360.0) - t)
                 ELSE 0.0 END) AS a
  FROM ev
  WINDOW wo AS (PARTITION BY g ORDER BY t)
)
SELECT g AS cohort, CAST(COUNT(*) AS BIGINT) AS n_event_times,
       CAST(360.0 AS DOUBLE) AS tau,
       ROUND(SUM(a) + 1e-9, 4) AS rmst
FROM terms GROUP BY g ORDER BY cohort
"""


@golden(
    "rmst_time_to_purchase",
    RMST_ORACLE,
    tags=("evaluation", "survival", "rmst", "events"),
)
def rmst_time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time at tau=360h per user cohort on the
    SAME time-to-first-purchase construction as the KM golden: 'average
    purchase-free hours in the first 15 days' — the censoring-honest
    one-number latency summary (the raw mean is biased, the median may
    not exist). Step-integral over the KM event-time rows with one lead
    window; the oracle restates the full KM chain plus the integral."""
    from mr_dice_spark.operators.evaluation import restricted_mean_survival

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    us = F.unix_micros("ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(us).alias("first_us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("purch_us"),
        F.max(us).alias("last_us"),
    )
    subj = per_user.select(
        F.concat(F.lit("c"), (F.col("user_id") % 4).cast("string")).alias("cohort"),
        F.floor(
            (F.coalesce("purch_us", "last_us") - F.col("first_us")) / 3600000000.0
        ).cast("double").alias("duration_h"),
        F.col("purch_us").isNotNull().alias("converted"),
    )
    return restricted_mean_survival(
        subj, "cohort", "duration_h", "converted", tau=360.0
    ).orderBy("cohort")


LOGRANK_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         (user_id % 2 = 0) AS a,
         MIN(epoch_us(ts)) AS first_us,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           AS purch_us,
         MAX(epoch_us(ts)) AS last_us
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id
),
subj AS (
  SELECT a,
         CAST(FLOOR((COALESCE(purch_us, last_us) - first_us)
                    / 3600000000.0) AS DOUBLE) AS t,
         purch_us IS NOT NULL AS e
  FROM per_user
),
times AS (
  SELECT t, count_if(a AND e) AS d1, count_if(e) AS d,
         count_if(a) AS l1, COUNT(*) AS l
  FROM subj GROUP BY t
),
cum AS (
  SELECT t, d1, d, l1, l,
         SUM(l1) OVER w AS l1c, SUM(l) OVER w AS lc
  FROM times
  WINDOW w AS (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (SELECT SUM(l1) AS n1tot, SUM(l) AS ntot FROM times),
terms AS (
  SELECT d1,
         CAST(d AS DOUBLE)
           * CAST(n1tot - (l1c - l1) AS DOUBLE)
           / CAST(ntot - (lc - l) AS DOUBLE) AS e,
         CASE WHEN CAST(ntot - (lc - l) AS DOUBLE) > 1 THEN
           CAST(d AS DOUBLE)
           * (CAST(n1tot - (l1c - l1) AS DOUBLE)
              / CAST(ntot - (lc - l) AS DOUBLE))
           * (1.0 - CAST(n1tot - (l1c - l1) AS DOUBLE)
                    / CAST(ntot - (lc - l) AS DOUBLE))
           * ((CAST(ntot - (lc - l) AS DOUBLE) - CAST(d AS DOUBLE))
              / (CAST(ntot - (lc - l) AS DOUBLE) - 1.0))
         ELSE 0.0 END AS v,
         n1tot, ntot
  FROM cum, tot WHERE d > 0
),
f AS (
  SELECT MAX(n1tot) AS na, MAX(ntot) AS nn,
         SUM(d1) AS oo, SUM(e) AS ee, SUM(v) AS vv
  FROM terms
)
SELECT CAST(na AS BIGINT) AS n_a,
       CAST(nn - na AS BIGINT) AS n_b,
       CAST(oo AS BIGINT) AS observed_a,
       ROUND(ee + 1e-9, 6) AS expected_a,
       ROUND(vv + 1e-9, 6) AS variance,
       ROUND(CASE WHEN vv > 0
             THEN (CAST(oo AS DOUBLE) - ee) / SQRT(vv) END + 1e-9, 6) AS z,
       ROUND(CASE WHEN vv > 0
             THEN ((CAST(oo AS DOUBLE) - ee) / SQRT(vv))
                  * ((CAST(oo AS DOUBLE) - ee) / SQRT(vv)) END + 1e-9, 4)
         AS chi2
FROM f
"""


@golden(
    "logrank_time_to_purchase_arms",
    LOGRANK_ORACLE,
    tags=("evaluation", "survival", "logrank", "events"),
)
def logrank_time_to_purchase_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test on time-to-first-purchase between the even/odd
    user arms (the two_proportion_z split) — the inferential companion
    to the Kaplan-Meier golden: same right-censored duration
    construction (whole hours from first event; non-converters censored
    at their last event), now asking whether the two arms share one
    conversion-latency curve. O is integer-exact; E/V terms are IEEE
    steps on exact at-risk integers from the distributed prefix pass."""
    from mr_dice_spark.operators.evaluation import logrank_test

    ev = Catalog(spark, sf_dir).events.where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    us = F.unix_micros("ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(us).alias("first_us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("purch_us"),
        F.max(us).alias("last_us"),
    )
    subj = per_user.select(
        (F.col("user_id") % 2 == 0).alias("arm"),
        F.floor(
            (F.coalesce("purch_us", "last_us") - F.col("first_us")) / 3600000000.0
        ).cast("double").alias("duration_h"),
        F.col("purch_us").isNotNull().alias("converted"),
    )
    return logrank_test(subj, "arm", "duration_h", "converted", True)


RANDOMIZATION_ORACLE = f"""
WITH units AS MATERIALIZED (
  SELECT user_id AS u,
         MAX(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS a,
         ROUND(SUM(value) + 1e-9, 6) AS y
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
obs AS (
  SELECT COUNT(*) AS nu,
         count_if(a = 1) AS na, count_if(a = 0) AS nb,
         ROUND(AVG(CASE WHEN a = 1 THEN y END)
               - AVG(CASE WHEN a = 0 THEN y END) + 1e-9, 6) AS t
  FROM units
),
reps AS (
  SELECT g.b AS b, y,
         ({_bucket_sql("CAST(u AS VARCHAR) || ':' || CAST(g.b AS VARCHAR)", "rt")}
          % 2 = 0) AS pa
  FROM units, UNNEST(generate_series(0, 198)) AS g(b)
),
tb AS (
  SELECT b,
         ROUND(AVG(CASE WHEN pa THEN y END)
               - AVG(CASE WHEN NOT pa THEN y END) + 1e-9, 6) AS tb
  FROM reps GROUP BY b
),
ex AS (
  SELECT count_if(ABS(tb) >= ABS((SELECT t FROM obs))) AS ge FROM tb
)
SELECT CAST(nu AS BIGINT) AS n_units,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CASE WHEN na > 0 AND nb > 0 THEN t END AS t_obs,
       CAST(199 AS BIGINT) AS n_perm,
       CAST(ge AS BIGINT) AS n_exceed,
       CASE WHEN na > 0 AND nb > 0
            THEN ROUND((1.0 + CAST(ge AS DOUBLE)) / 200.0 + 1e-9, 6) END
         AS p_value
FROM obs, ex
"""


@golden(
    "randomization_test_user_value",
    RANDOMIZATION_ORACLE,
    tags=("evaluation", "randomization", "permutation", "experiment"),
)
def randomization_test_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo randomization test of the even/odd-arm difference in
    per-user total value: 199 deterministic pseudo-assignments from the
    portable md5 hash (restated verbatim in the oracle), p by the
    add-one rule. The distribution-function-free inference path (no
    normal CDF anywhere); observed and replicate statistics are
    quantized before the exceedance compare so the count cannot flip on
    engine ulps. The arms are a null split, so p should be (and is)
    comfortably non-significant — the test validates the machinery, the
    operator docstring owns the semantics."""
    from mr_dice_spark.operators.evaluation import randomization_test

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.select(
        "user_id", (F.col("user_id") % 2 == 0).alias("arm"), "value"
    )
    return randomization_test(
        ev, "user_id", "arm", "value", True, n_perm=199, seed="rt"
    )


CRONBACH_ORACLE = """
WITH cells AS MATERIALIZED (
  SELECT user_id AS u, event_type AS i,
         ROUND(COUNT(*) + 1e-9, 6) AS x
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
),
nn AS (SELECT CAST(COUNT(DISTINCT u) AS DOUBLE) AS n FROM cells),
items AS (
  SELECT COUNT(*) AS k,
         SUM(s2 / n - (s1 / n) * (s1 / n)) AS vi
  FROM (SELECT i, SUM(x) AS s1, SUM(x * x) AS s2 FROM cells GROUP BY i), nn
),
tot AS (
  SELECT MAX(n) AS nd, SUM(t) AS ts1, SUM(t * t) AS ts2
  FROM (SELECT u, SUM(x) AS t FROM cells GROUP BY u), nn
),
f AS (
  SELECT k, nd, vi,
         ts2 / nd - (ts1 / nd) * (ts1 / nd) AS vt
  FROM items, tot
)
SELECT CAST(k AS BIGINT) AS k_items,
       CAST(nd AS BIGINT) AS n_units,
       ROUND(vi + 1e-9, 6) AS sum_item_var,
       ROUND(vt + 1e-9, 6) AS total_var,
       ROUND(CASE WHEN k >= 2 AND vt > 0
             THEN CAST(k AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0)
                  * (1.0 - vi / vt) END + 1e-9, 6) AS alpha
FROM f
"""


@golden(
    "cronbach_alpha_user_engagement",
    CRONBACH_ORACLE,
    tags=("evaluation", "reliability", "cronbach", "events"),
)
def cronbach_alpha_user_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the user x event-type engagement-count
    matrix: do the five per-channel counts move together enough to read
    'user activity' as one scale? The internal-consistency twin of the
    Krippendorff inter-rater golden. Absent cells fold in analytically
    (the burstiness variance-from-sums identity) — no pivot, no dense
    matrix."""
    from mr_dice_spark.operators.evaluation import cronbach_alpha

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    ).select("user_id", "event_type", F.lit(1.0).alias("one"))
    return cronbach_alpha(ev, "user_id", "event_type", "one")


HL_SHIFT_ORACLE = """
WITH b AS (
  SELECT event_type AS k,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d,
         ROUND(AVG(value) + 1e-9, 6) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
cl AS (
  SELECT k, (d % 7) IN (2, 3) AS a, v FROM b
),
counts AS (
  SELECT k, count_if(a) AS na, count_if(NOT a) AS nb FROM cl GROUP BY k
),
diffs AS (
  SELECT x.k, x.v - y.v AS dd
  FROM cl x JOIN cl y ON x.k = y.k AND x.a AND NOT y.a
),
hl AS (
  SELECT k, COUNT(*) AS np,
         ROUND(quantile_cont(dd, 0.5) + 1e-9, 6) AS h
  FROM diffs GROUP BY k
)
SELECT counts.k AS event_type,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(COALESCE(np, 0) AS BIGINT) AS n_pairs,
       h AS hl_shift
FROM counts LEFT JOIN hl ON hl.k = counts.k
ORDER BY event_type
"""


@golden(
    "hodges_lehmann_weekend_shift",
    HL_SHIFT_ORACLE,
    tags=("evaluation", "hodges-lehmann", "robust", "events"),
)
def hodges_lehmann_weekend_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann weekend-vs-weekday shift of each event type's
    DAILY mean value: the robust 'how big is the shift' beside the
    Mann-Whitney 'is there one'. Fed the REDUCED daily-bucket frame
    (the operator's theil_sen-style contract: pair work is |A| x |B|
    per key over what the caller supplies — ~8 x 22 here, never raw
    events). Weekend = epoch-day % 7 in (2, 3) (day 0 = Thursday)."""
    from mr_dice_spark.operators.evaluation import hodges_lehmann_shift

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(F.col("value").isNotNull())
    b = (
        ev.groupBy(
            F.col("event_type").alias("k"),
            F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("d"),
        )
        .agg(_r(F.avg("value"), 6).alias("v"))
        .select("k", (F.col("d") % 7).isin(2, 3).alias("a"), "v")
    )
    return hodges_lehmann_shift(b, "k", "a", "v", True).withColumnRenamed(
        "k", "event_type"
    ).orderBy("event_type")


SMD_BALANCE_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS a,
         ROUND(COUNT(*) + 1e-9, 6) AS n_events,
         ROUND(AVG(value) + 1e-9, 6) AS avg_value,
         ROUND(AVG(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END)
               + 1e-9, 6) AS purchase_share
  FROM events
  WHERE user_id IS NOT NULL
  GROUP BY user_id
),
m AS (
  SELECT count_if(a = 1) AS na, count_if(a = 0) AS nb,
         AVG(CASE WHEN a = 1 THEN n_events END) AS ma1,
         AVG(CASE WHEN a = 0 THEN n_events END) AS mb1,
         var_pop(CASE WHEN a = 1 THEN n_events END) AS va1,
         var_pop(CASE WHEN a = 0 THEN n_events END) AS vb1,
         AVG(CASE WHEN a = 1 THEN avg_value END) AS ma2,
         AVG(CASE WHEN a = 0 THEN avg_value END) AS mb2,
         var_pop(CASE WHEN a = 1 THEN avg_value END) AS va2,
         var_pop(CASE WHEN a = 0 THEN avg_value END) AS vb2,
         AVG(CASE WHEN a = 1 THEN purchase_share END) AS ma3,
         AVG(CASE WHEN a = 0 THEN purchase_share END) AS mb3,
         var_pop(CASE WHEN a = 1 THEN purchase_share END) AS va3,
         var_pop(CASE WHEN a = 0 THEN purchase_share END) AS vb3
  FROM per_user
),
rows_out AS (
  SELECT 'n_events' AS covariate, na, nb, ma1 AS ma, mb1 AS mb,
         va1 AS va, vb1 AS vb FROM m
  UNION ALL
  SELECT 'avg_value', na, nb, ma2, mb2, va2, vb2 FROM m
  UNION ALL
  SELECT 'purchase_share', na, nb, ma3, mb3, va3, vb3 FROM m
)
SELECT covariate, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(ma + 1e-9, 6) AS mean_a, ROUND(mb + 1e-9, 6) AS mean_b,
       CASE WHEN (va + vb) / 2.0 > 0
            THEN ROUND((ma - mb) / SQRT((va + vb) / 2.0) + 1e-9, 6) + 0.0
       END AS smd,
       COALESCE(ABS(CASE WHEN (va + vb) / 2.0 > 0
                    THEN ROUND((ma - mb) / SQRT((va + vb) / 2.0) + 1e-9, 6)
                         + 0.0 END) < 0.1, false) AS balanced
FROM rows_out ORDER BY covariate
"""


@golden(
    "covariate_balance_experiment_arms",
    SMD_BALANCE_ORACLE,
    tags=("evaluation", "experiment", "balance", "smd"),
)
def covariate_balance_experiment_arms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Standardized-mean-difference balance table for the even/odd user
    arms over three per-user covariates (event count, mean value,
    purchase share) — the covariate screen run BEFORE trusting any A/B
    readout, beside srm_check's count-level gate. Honest small-n
    readout: at 150 users the 0.1 rule-of-thumb flags pure sampling
    noise (SE(SMD) ~ sqrt(4/n) ~ 0.16 here, so |SMD| ~ 0.2-0.35 rows
    read 'false'); at sf0.1's 1500 users two of three covariates clear
    it — which is exactly the lesson the threshold teaches about
    underpowered balance checks. The caller supplies the unit-level
    covariate frame; the operator's conditional-moment aggregate emits
    all arms x covariates from one reduce."""
    from mr_dice_spark.operators.evaluation import covariate_balance_smd

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(F.col("user_id").isNotNull())
    per_user = ev.groupBy("user_id").agg(
        _r(F.count(F.lit(1)).cast("double"), 6).alias("n_events"),
        _r(F.avg("value"), 6).alias("avg_value"),
        _r(
            F.avg(F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0)),
            6,
        ).alias("purchase_share"),
    ).select(
        "user_id", (F.col("user_id") % 2 == 0).alias("arm"),
        "n_events", "avg_value", "purchase_share",
    )
    return covariate_balance_smd(
        per_user, "user_id", "arm",
        ["n_events", "avg_value", "purchase_share"], True,
    ).orderBy("covariate")


CUPED_ORACLE = """
WITH units AS MATERIALIZED (
  SELECT user_id % 2 AS grp,
         CAST(COUNT(*) AS DOUBLE) AS x,
         SUM(value) AS y
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
mom AS (
  SELECT ROUND(1e-9 + covar_pop(x, y) / NULLIF(var_pop(x), 0), 9) AS theta,
         ROUND(1e-9 + AVG(x), 9) AS xbar
  FROM units
),
adj AS (
  SELECT grp, y, y - COALESCE(mom.theta, 0) * (x - mom.xbar) AS ya
  FROM units CROSS JOIN mom
)
SELECT grp AS "group",
       COUNT(*) AS n,
       ROUND(1e-9 + AVG(y), 4) AS mean_metric,
       ROUND(1e-9 + AVG(ya), 4) AS mean_adjusted,
       ROUND(1e-9 + var_pop(y), 4) AS var_metric,
       ROUND(1e-9 + var_pop(ya), 4) AS var_adjusted,
       -- same association order as the Spark expression
       -- ((1.0 - x) + 1e-9, not (1e-9 + 1.0) - x): the two differ by
       -- up to ~1 ulp, a latent rounding-boundary flip (ADVICE r6)
       ROUND((1.0 - var_pop(ya) / NULLIF(var_pop(y), 0)) + 1e-9, 4) AS var_reduction
FROM adj GROUP BY grp ORDER BY grp
"""


@golden(
    "cuped_value_readout",
    CUPED_ORACLE,
    tags=("evaluation", "experiment", "variance-reduction"),
)
def cuped_value_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout over a synthetic A/B
    split (user_id parity): metric = each user's total event value,
    covariate = their event count (the exposure adjustment — activity
    predicts totals at corr 0.77 in this fixture, so CUPED removes ~60%
    of the between-user variance; a non-predictive covariate would make
    the adjustment a no-op with var_reduction ~ 0, which the unit test
    pins separately). theta and mean(x) are 9dp-quantized before the
    adjustment so both engines adjust from identical state (the
    k-means-centroid rule); report columns round at 4 (values are
    O(10^3-10^5) user totals, double error orders below the grid)."""
    from mr_dice_spark.operators.evaluation import cuped_adjusted_means

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    units = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("x"),
        F.sum("value").alias("y"),
    ).select((F.col("user_id") % 2).alias("group"), "x", "y")
    return cuped_adjusted_means(units, "group", "y", "x", round_scale=4).orderBy(
        "group"
    )


SRM_ORACLE = """
WITH units AS MATERIALIZED (
  SELECT user_id, user_id % 2 AS arm
  FROM (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL)
  WHERE user_id % 10 <> 1
),
c AS (
  SELECT e.arm, e.expected_share, COALESCE(cnt.n, 0) AS n
  FROM (VALUES (0, 0.5), (1, 0.5)) AS e(arm, expected_share)
  LEFT JOIN (SELECT arm, COUNT(*) AS n FROM units GROUP BY arm) cnt
    ON cnt.arm = e.arm
),
t AS (SELECT SUM(n) AS tot FROM c),
chi AS (
  SELECT ROUND(1e-9 + SUM((c.n - c.expected_share * t.tot)
                          * (c.n - c.expected_share * t.tot)
                          / (c.expected_share * t.tot)), 6) AS chi2
  FROM c CROSS JOIN t
)
SELECT c.arm,
       CAST(c.n AS BIGINT) AS n,
       ROUND(1e-9 + c.n * 1.0 / t.tot, 6) AS share,
       ROUND(1e-9 + c.expected_share, 6) AS expected_share,
       ROUND(1e-9 + c.expected_share * t.tot, 6) AS expected_n,
       chi.chi2,
       chi.chi2 > 3.841 AS srm_flag
FROM c CROSS JOIN t CROSS JOIN chi
ORDER BY c.arm
"""


@golden(
    "srm_check_experiment_arms",
    SRM_ORACLE,
    tags=("evaluation", "experiment", "integrity"),
)
def srm_check_experiment_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch gate over a deliberately BROKEN assignment:
    users split 50/50 by id parity, then a simulated bot filter drops
    every ``user_id % 10 == 1`` unit — all casualties land in arm 1
    (odd ids), so the declared 50/50 no longer holds. The verdict shows
    the power-vs-scale behavior a real gate has: the same 10% arm-1
    loss reads chi2=1.67 at sf0.01 (135 units — under the 3.841
    critical value, not yet detectable) and chi2=16.7 at sf0.1 (1350
    units — flag fires), both boundary-safe for the hash. Unit tests
    pin the clean-split green path and a large planted mismatch firing.
    Statistic-vs-critical verdict, no p-value CDF on the hash
    surface."""
    from mr_dice_spark.operators.evaluation import srm_check

    ev = Catalog(spark, sf_dir).events.where(F.col("user_id").isNotNull())
    units = (
        ev.select("user_id")
        .distinct()
        .where(F.col("user_id") % 10 != 1)
        .select((F.col("user_id") % 2).alias("arm"))
    )
    return srm_check(units, "arm", {0: 0.5, 1: 0.5}).orderBy("arm")


KRIPPENDORFF_ORACLE = """
WITH cells AS MATERIALIZED (
  SELECT user_id AS u, CAST(FLOOR(value / 50) AS BIGINT) AS c, COUNT(*) AS m
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
units AS MATERIALIZED (
  SELECT u, SUM(m) AS nu, SUM(m * m) AS sq
  FROM cells GROUP BY u HAVING SUM(m) >= 2
),
do_ AS (
  SELECT COUNT(*) AS n_units, SUM(nu) AS n,
         SUM((nu * nu - sq) / (nu - 1.0)) AS do_mass
  FROM units
),
nc AS (
  SELECT SUM(CAST(nc AS DOUBLE) * nc) AS snc2
  FROM (
    SELECT cells.c, SUM(cells.m) AS nc
    FROM cells JOIN units ON units.u = cells.u
    GROUP BY cells.c
  )
)
SELECT CAST(n_units AS BIGINT) AS n_units,
       CAST(n AS BIGINT) AS n_ratings,
       ROUND(1e-9 + do_mass / n, 6) AS do_rate,
       ROUND(1e-9 + ((CAST(n AS DOUBLE) * n - snc2) / (n - 1)) / n, 6) AS de_rate,
       -- association order matches Spark's (1.0 - x) + 1e-9 (ADVICE r6)
       ROUND((1.0 - do_mass / ((CAST(n AS DOUBLE) * n - snc2) / (n - 1))) + 1e-9, 6)
         AS alpha
FROM do_ CROSS JOIN nc
"""


@golden(
    "krippendorff_alpha_user_bands",
    KRIPPENDORFF_ORACLE,
    tags=("evaluation", "agreement", "labeling"),
)
def krippendorff_alpha_user_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's nominal alpha treating each user's events as
    repeated ratings of that user with the 50-wide value band as the
    label — the multi-rater agreement readout a labeling pipeline runs
    per annotation batch (kappa's generalization to many raters and
    missing data; rater identity never enters the nominal coincidence
    form). Near-uniform within-user bands in this fixture put alpha
    near 0 (repeated measurements of a user do NOT agree beyond
    chance) — exactly what the metric should say about iid values, and
    the operator's hand-example unit test pins the high-agreement side.
    One (unit, label) cell aggregate feeds every term (CI-pinnable
    single corpus scan)."""
    from mr_dice_spark.operators.evaluation import krippendorff_alpha_nominal

    ev = Catalog(spark, sf_dir).events.select(
        "user_id", F.floor(F.col("value") / 50).cast("long").alias("band")
    )
    return krippendorff_alpha_nominal(ev, "user_id", "band")


# ---------------------------------------------------------------------------
# delete-one-bucket jackknife CI for a ratio metric (round 7)
# ---------------------------------------------------------------------------

JACKKNIFE_ORACLE = """
WITH b AS MATERIALIZED (
  SELECT event_type AS g,
         CAST(CAST(('0x' || substring(md5('jk' || CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 20 AS INT) AS bk,
         value AS v
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL
),
pb AS MATERIALIZED (
  SELECT g, bk,
         ROUND(SUM(v) + 1e-9, 4) AS bn,
         ROUND(SUM(1.0) + 1e-9, 4) AS bd,
         COUNT(*) AS nr
  FROM b GROUP BY 1, 2
),
loo AS (
  SELECT g, nr,
         SUM(bn) OVER (PARTITION BY g) AS sn,
         SUM(bd) OVER (PARTITION BY g) AS sd,
         COUNT(*) OVER (PARTITION BY g) AS gc,
         (SUM(bn) OVER (PARTITION BY g) - bn)
           / NULLIF(SUM(bd) OVER (PARTITION BY g) - bd, 0) AS ti
  FROM pb
),
a AS (
  SELECT g, SUM(nr) AS n_rows, MAX(gc) AS gc, MAX(sn) AS sn, MAX(sd) AS sd,
         AVG(ti) AS tm, SUM(ti * ti) AS tss
  FROM loo GROUP BY g
),
fin AS (
  SELECT g, n_rows, gc,
         sn / NULLIF(sd, 0) AS theta_u,
         sqrt(GREATEST(((gc - 1.0) / gc) * (tss - gc * tm * tm), 0.0)) AS se_u
  FROM a
)
SELECT g AS event_type,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(gc AS BIGINT) AS n_buckets_observed,
       ROUND(theta_u + 1e-9, 6) AS theta,
       ROUND(se_u + 1e-9, 6) AS se_jack,
       ROUND((theta_u - 1.96 * se_u) + 1e-9, 6) AS ci_lo,
       ROUND((theta_u + 1.96 * se_u) + 1e-9, 6) AS ci_hi
FROM fin ORDER BY event_type
"""


@golden(
    "jackknife_value_ci_by_type",
    JACKKNIFE_ORACLE,
    tags=("evaluation", "experiment", "jackknife", "ci"),
)
def jackknife_value_ci_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife CI for mean event value per type:
    users hash (engine-portable md5) into 20 buckets, theta_i drops one
    bucket at a time, var = (g-1)/g * sum((ti - mean)^2) — the
    cluster-robust standard error an A/B readout needs when rows within
    a unit are correlated. Per-bucket sums are nudge-rounded at 4 so
    every theta_i is bit-identical across engines (the operator's
    documented parity pinning); only final stats carry the output
    round."""
    from mr_dice_spark.operators.evaluation import jackknife_ratio_ci

    ev = Catalog(spark, sf_dir).events.where(F.col("user_id").isNotNull())
    return jackknife_ratio_ci(
        ev, "event_type", "user_id", "value", None, n_buckets=20, seed="jk"
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# McNemar paired-model comparison (round 7)
# ---------------------------------------------------------------------------

MCNEMAR_ORACLE = """
WITH base AS (
  SELECT ((value < 30.0) = (event_type = 'purchase')) AS ac,
         (((user_id % 5) = 0) = (event_type = 'purchase')) AS bc
  FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL AND user_id IS NOT NULL
),
a AS (
  SELECT COUNT(*) AS n,
         COUNT(CASE WHEN ac AND NOT bc THEN 1 END) AS n01,
         COUNT(CASE WHEN NOT ac AND bc THEN 1 END) AS n10
  FROM base
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       CAST(n01 AS BIGINT) AS a_only_correct,
       CAST(n10 AS BIGINT) AS b_only_correct,
       ROUND(COALESCE(CAST((ABS(n01 - n10) - 1) * (ABS(n01 - n10) - 1) AS DOUBLE)
             / NULLIF(CAST(n01 + n10 AS DOUBLE), 0), 0.0) + 1e-9, 6) AS chi2,
       (ROUND(COALESCE(CAST((ABS(n01 - n10) - 1) * (ABS(n01 - n10) - 1) AS DOUBLE)
             / NULLIF(CAST(n01 + n10 AS DOUBLE), 0), 0.0) + 1e-9, 6) > 3.841)
         AS significant
FROM a
"""


@golden(
    "mcnemar_model_compare",
    MCNEMAR_ORACLE,
    tags=("evaluation", "mcnemar", "paired"),
)
def mcnemar_model_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's continuity-corrected test comparing two deterministic
    'purchase classifiers' scored on the SAME events (model A: value
    < 30; model B: user_id divisible by 5) — the paired-binary
    comparison where only discordant pairs carry information. Integer
    counts until the single final division."""
    from mr_dice_spark.operators.evaluation import mcnemar_test

    ev = Catalog(spark, sf_dir).events.where(
        F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
    )
    is_p = F.col("event_type") == "purchase"
    scored = ev.select(
        ((F.col("value") < 30.0) == is_p).alias("ac"),
        (((F.col("user_id") % 5) == 0) == is_p).alias("bc"),
    )
    return mcnemar_test(scored, "ac", "bc")


# ---------------------------------------------------------------------------
# Mann-Whitney U per weekday (round 7)
# ---------------------------------------------------------------------------

MANN_WHITNEY_ORACLE = """
WITH base AS MATERIALIZED (
  SELECT (CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) % 7) AS g,
         (event_type = 'purchase') AS a,
         value AS v
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
),
ties AS (
  SELECT g, v, COUNT(*) AS t, COUNT(CASE WHEN a THEN 1 END) AS ta
  FROM base GROUP BY 1, 2
),
ranked AS (
  SELECT g, t, ta,
         COALESCE(SUM(t) OVER (PARTITION BY g ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS clt
  FROM ties
),
agg AS (
  SELECT g, SUM(t) AS nn, SUM(ta) AS na,
         SUM(ta * (2 * clt + t + 1)) AS r2a,
         SUM(t * t * t - t) AS tie3
  FROM ranked GROUP BY g
),
fin AS (
  SELECT g, na, nn - na AS nb,
         r2a - na * (na + 1) AS u2,
         na * (nn - na) AS mu2,
         CAST(na AS DOUBLE) * CAST(nn - na AS DOUBLE) / 12.0 *
           (CAST(nn + 1 AS DOUBLE)
            - CAST(tie3 AS DOUBLE) / CAST(nn * (nn - 1) AS DOUBLE)) AS s2
  FROM agg
)
SELECT CAST(g AS BIGINT) AS weekday,
       CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       CAST(u2 AS DOUBLE) / 2.0 AS u_a,
       CAST(mu2 AS DOUBLE) / 2.0 AS mu,
       ROUND(sqrt(s2) + 1e-9, 6) AS sigma,
       ROUND(CASE WHEN na = 0 OR nb = 0 OR s2 <= 0 THEN NULL ELSE
         ((CAST(u2 - mu2 AS DOUBLE) - SIGN(CAST(u2 - mu2 AS DOUBLE))) / 2.0)
           / sqrt(s2) END + 1e-9, 6) AS z
FROM fin ORDER BY weekday
"""


@golden(
    "mann_whitney_purchase_by_weekday",
    MANN_WHITNEY_ORACLE,
    tags=("evaluation", "rank-test", "nonparametric"),
)
def mann_whitney_purchase_by_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U per weekday (epoch-day mod 7 — engine-portable
    day arithmetic, the welch golden's convention): does purchase-event
    value stochastically dominate non-purchase value? Exact average-rank
    ties via doubled-rank integer arithmetic; tie-corrected sigma and
    continuity-corrected z are the only divisions."""
    from mr_dice_spark.operators.evaluation import mann_whitney_u_by_group

    ev = Catalog(spark, sf_dir).events.where(F.col("ts").isNotNull()).select(
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7).alias("weekday"),
        "event_type",
        "value",
    )
    return mann_whitney_u_by_group(
        ev, "weekday", "event_type", "value", "purchase"
    ).orderBy("weekday")


# ---------------------------------------------------------------------------
# NDCG@10 ranking-quality readout (round 7)
# ---------------------------------------------------------------------------

NDCG_ORACLE = """
WITH scores AS MATERIALIZED (
  SELECT event_type AS q, user_id AS id,
         ROUND(AVG(value) + 1e-9, 6) AS s
  FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
grades AS MATERIALIZED (
  SELECT user_id AS id,
         CAST(LEAST(3, FLOOR(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
              / 7.0)) AS INT) AS rel
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
base AS (
  SELECT q, scores.id AS id, s, COALESCE(rel, 0) AS rel
  FROM scores LEFT JOIN grades ON grades.id = scores.id
),
pos AS (
  SELECT q, rel,
         ROW_NUMBER() OVER (PARTITION BY q ORDER BY s DESC, id ASC) AS ps,
         ROW_NUMBER() OVER (PARTITION BY q ORDER BY rel DESC, id ASC) AS pi
  FROM base
),
t AS (
  SELECT q,
         CASE WHEN ps <= 10 THEN (pow(2.0, rel) - 1.0)
              / log2(CAST(ps AS DOUBLE) + 1.0) ELSE 0.0 END AS dg,
         CASE WHEN pi <= 10 THEN (pow(2.0, rel) - 1.0)
              / log2(CAST(pi AS DOUBLE) + 1.0) ELSE 0.0 END AS ig
  FROM pos
)
SELECT q AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(SUM(dg) + 1e-9, 6) AS dcg,
       ROUND(SUM(ig) + 1e-9, 6) AS idcg,
       ROUND(COALESCE(SUM(dg) / NULLIF(SUM(ig), 0), 0.0) + 1e-9, 6) AS ndcg
FROM t GROUP BY q ORDER BY event_type
"""


@golden(
    "ndcg_user_ranking_by_type",
    NDCG_ORACLE,
    tags=("evaluation", "ranking", "ndcg", "retrieval"),
)
def ndcg_user_ranking_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per event type for the ranking 'rank users by their mean
    event value' against graded relevance 'purchase-count bucket
    (0-3)': the retrieval/reranker quality readout. Scores are
    nudge-rounded BEFORE ranking so the system order itself — not just
    the sums — is cross-engine deterministic (float last-bit order
    flips are the classic ranking-metric flake); remaining score ties
    break by user id inside the operator."""
    from mr_dice_spark.operators.evaluation import ndcg_at_k

    ev = Catalog(spark, sf_dir).events
    scores = (
        ev.where(
            F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("value").isNotNull()
        )
        .groupBy(F.col("event_type").alias("q"), F.col("user_id").alias("id"))
        .agg(_r(F.avg("value"), 6).alias("s"))
    )
    grades = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy(F.col("user_id").alias("id"))
        .agg(
            F.least(
                F.lit(3),
                F.floor(
                    F.count_if(F.col("event_type") == "purchase") / 7.0
                ),
            )
            .cast("int")
            .alias("rel")
        )
    )
    base = scores.join(grades, "id", "left").select(
        "q", "id", "s", F.coalesce("rel", F.lit(0)).alias("rel")
    )
    out = ndcg_at_k(base, "q", "id", "s", "rel", k=10)
    return out.withColumnRenamed("q", "event_type").orderBy("event_type")


# ---------------------------------------------------------------------------
# Binary-relevance retrieval scorecard: MRR/hit/precision/recall@10 (round 7)
# ---------------------------------------------------------------------------

RETRIEVAL_EVAL_ORACLE = """
WITH base AS (
  SELECT user_id AS q, event_id AS id, value AS s,
         (event_type = 'purchase') AS r
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    AND value IS NOT NULL AND event_id IS NOT NULL
),
pos AS (
  SELECT q, r,
         ROW_NUMBER() OVER (PARTITION BY q ORDER BY s DESC, id ASC) AS p
  FROM base
),
per AS (
  SELECT q,
         COUNT(CASE WHEN r THEN 1 END) AS nrel,
         MIN(CASE WHEN r THEN p END) AS fr,
         COUNT(CASE WHEN r AND p <= 10 THEN 1 END) AS hits
  FROM pos GROUP BY q
)
SELECT CAST(10 AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COUNT(CASE WHEN nrel > 0 THEN 1 END) AS BIGINT) AS n_evaluable,
       ROUND(AVG(CASE WHEN nrel > 0 THEN
                   CASE WHEN fr <= 10 THEN 1.0 / CAST(fr AS DOUBLE)
                        ELSE 0.0 END END) + 1e-9, 6) AS mrr,
       ROUND(AVG(CASE WHEN nrel > 0 THEN
                   CASE WHEN fr <= 10 THEN 1.0 ELSE 0.0 END END) + 1e-9, 6)
         AS hit_rate,
       ROUND(AVG(CASE WHEN nrel > 0 THEN CAST(hits AS DOUBLE) / 10.0 END)
             + 1e-9, 6) AS precision_at_k,
       ROUND(AVG(CASE WHEN nrel > 0 THEN
                   CAST(hits AS DOUBLE) / CAST(nrel AS DOUBLE) END) + 1e-9, 6)
         AS recall_at_k
FROM per
"""


@golden(
    "retrieval_eval_purchase_topk",
    RETRIEVAL_EVAL_ORACLE,
    tags=("evaluation", "retrieval", "mrr", "recall"),
)
def retrieval_eval_purchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR/hit/precision/recall@10 treating each user's event stream as
    a ranked result list (score = raw value, relevant = purchase) — the
    flat-relevance scorecard beside the graded NDCG golden. Ranking
    uses raw parquet doubles (no arithmetic before the sort, so the
    order is bit-identical across engines) with event-id tiebreak;
    queries lacking any relevant item are excluded from the averages
    but reported in n_queries."""
    from mr_dice_spark.operators.evaluation import retrieval_eval_at_k

    ev = Catalog(spark, sf_dir).events.where(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("event_id").isNotNull()
    )
    base = ev.select(
        "user_id",
        "event_id",
        "value",
        (F.col("event_type") == "purchase").alias("rel"),
    )
    return retrieval_eval_at_k(
        base, "user_id", "event_id", "value", "rel", k=10
    )


# ---------------------------------------------------------------------------
# two-proportion z conversion readout (round 7)
# ---------------------------------------------------------------------------

TWO_PROP_Z_ORACLE = """
WITH base AS (
  SELECT (user_id % 2) AS arm, (event_type = 'purchase') AS suc
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
a AS (
  SELECT COUNT(CASE WHEN arm = 0 THEN 1 END) AS n_a,
         COUNT(CASE WHEN arm = 1 THEN 1 END) AS n_b,
         COUNT(CASE WHEN arm = 0 AND suc THEN 1 END) AS x_a,
         COUNT(CASE WHEN arm = 1 AND suc THEN 1 END) AS x_b
  FROM base
),
f AS (
  SELECT n_a, n_b, x_a, x_b,
         CAST(x_a AS DOUBLE) / n_a AS pa,
         CAST(x_b AS DOUBLE) / n_b AS pb,
         CAST(x_a + x_b AS DOUBLE) / (CAST(n_a AS DOUBLE) + n_b) AS pp
  FROM a
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(x_a AS BIGINT) AS x_a, CAST(x_b AS BIGINT) AS x_b,
       ROUND(pa + 1e-9, 6) AS rate_a,
       ROUND(pb + 1e-9, 6) AS rate_b,
       ROUND(CASE WHEN pp > 0 AND pp < 1 THEN
         (pa - pb) / sqrt(pp * (1.0 - pp)
            * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
       END + 1e-9, 6) AS z
FROM f
"""


@golden(
    "two_proportion_z_conversion",
    TWO_PROP_Z_ORACLE,
    tags=("evaluation", "experiment", "proportion"),
)
def two_proportion_z_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled two-proportion z on purchase conversion between the
    id-parity arms — the simplest A/B readout, integer-exact counts
    until the final divisions, statistic-vs-critical verdict left to
    the caller (srm convention, no CDF on the hash surface)."""
    from mr_dice_spark.operators.evaluation import two_proportion_z

    ev = Catalog(spark, sf_dir).events.where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        (F.col("user_id") % 2).alias("arm"),
        (F.col("event_type") == "purchase").alias("suc"),
    )
    return two_proportion_z(ev, "arm", "suc", 0, 1)


# ---------------------------------------------------------------------------
# post-stratified effect decomposition (round 7)
# ---------------------------------------------------------------------------

POST_STRAT_ORACLE = """
WITH base AS (
  SELECT (CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) % 7) AS s,
         (user_id % 2 = 0) AS a,
         value AS v
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
cells AS (
  SELECT s,
         COUNT(CASE WHEN a THEN 1 END) AS n_a,
         COUNT(CASE WHEN NOT a THEN 1 END) AS n_b,
         ROUND(AVG(CASE WHEN a THEN v END) + 1e-9, 6) AS mean_a,
         ROUND(AVG(CASE WHEN NOT a THEN v END) + 1e-9, 6) AS mean_b
  FROM base GROUP BY s
),
t AS (SELECT SUM(n_a + n_b) AS n FROM cells)
SELECT CAST(s AS BIGINT) AS weekday,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       mean_a, mean_b,
       ROUND(CASE WHEN n_a > 0 AND n_b > 0 THEN mean_a - mean_b END + 1e-9, 6)
         AS diff,
       ROUND((n_a + n_b) / CAST(n AS DOUBLE) + 1e-9, 6) AS weight,
       ROUND(ROUND((n_a + n_b) / CAST(n AS DOUBLE) + 1e-9, 6)
             * (CASE WHEN n_a > 0 AND n_b > 0 THEN mean_a - mean_b END)
             + 1e-9, 6) AS contribution
FROM cells CROSS JOIN t
ORDER BY weekday
"""


@golden(
    "post_stratified_effect_weekday",
    POST_STRAT_ORACLE,
    tags=("evaluation", "experiment", "stratification"),
)
def post_stratified_effect_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified A/B effect decomposition (strata = engine-portable
    weekday, arms = id parity): per-stratum arm means, diff, combined
    size weight and contribution — the other classic variance reducer
    beside CUPED, and the decomposition a readout dashboard shows.
    Means pin at 6 before the difference."""
    from mr_dice_spark.operators.evaluation import post_stratified_effect

    ev = Catalog(spark, sf_dir).events.where(F.col("ts").isNotNull()).select(
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7).alias("weekday"),
        (F.col("user_id") % 2 == 0).alias("arm"),
        "value",
        "user_id",
    ).where(F.col("user_id").isNotNull())
    return post_stratified_effect(
        ev, "arm", "weekday", "value", True, False
    ).orderBy("weekday")


# ---------------------------------------------------------------------------
# Wilson score intervals per event type (round 7)
# ---------------------------------------------------------------------------

WILSON_ORACLE = """
WITH a AS (
  SELECT event_type AS g,
         COUNT(*) AS n,
         COUNT(CASE WHEN value > 100.0 THEN 1 END) AS x
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL
  GROUP BY 1
),
f AS (
  SELECT g, n, x,
         CAST(x AS DOUBLE) / n AS p,
         CAST(n AS DOUBLE) AS nd
  FROM a
)
SELECT g AS event_type,
       CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
       ROUND(p + 1e-9, 6) AS rate,
       ROUND(((p + 3.8416 / (2.0 * nd)) / (1.0 + 3.8416 / nd)
              - 1.96 * sqrt(p * (1.0 - p) / nd + 3.8416 / (4.0 * nd * nd))
                / (1.0 + 3.8416 / nd)) + 1e-9, 6) AS ci_lo,
       ROUND(((p + 3.8416 / (2.0 * nd)) / (1.0 + 3.8416 / nd)
              + 1.96 * sqrt(p * (1.0 - p) / nd + 3.8416 / (4.0 * nd * nd))
                / (1.0 + 3.8416 / nd)) + 1e-9, 6) AS ci_hi
FROM f ORDER BY event_type
"""


@golden(
    "wilson_ci_high_value_rate",
    WILSON_ORACLE,
    tags=("evaluation", "proportion", "ci"),
)
def wilson_ci_high_value_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval around each event type's high-value rate
    (value > 100) — the [0,1]-respecting proportion CI a quality
    dashboard wants at small n; closed form, sqrt the only
    transcendental. z^2 = 1.96^2 = 3.8416 exactly (decimal-exact
    product, written literally in the oracle)."""
    from mr_dice_spark.operators.evaluation import wilson_ci

    ev = Catalog(spark, sf_dir).events.where(F.col("value").isNotNull()).select(
        "event_type", (F.col("value") > 100.0).alias("hv")
    )
    return wilson_ci(ev, "event_type", "hv", z=1.96).orderBy("event_type")


# ---------------------------------------------------------------------------
# Wald SPRT sequential rate monitor (round 7)
# ---------------------------------------------------------------------------

SPRT_ORACLE = """
WITH base AS (
  SELECT event_type AS g,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS h,
         (value > 100.0) AS s
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
per AS (
  SELECT g, h, COUNT(*) AS n, COUNT(CASE WHEN s THEN 1 END) AS x
  FROM base GROUP BY 1, 2
),
run AS (
  SELECT g, h, n, x,
         ROUND(SUM(x * LN(0.25 / 0.2) + (n - x) * LN((1.0 - 0.25) / (1.0 - 0.2)))
               OVER (PARTITION BY g ORDER BY h ROWS UNBOUNDED PRECEDING)
               + 1e-9, 6) AS llr
  FROM per
)
SELECT g AS event_type,
       CAST(h AS BIGINT) AS bucket_day,
       CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x, llr,
       CASE WHEN llr <= ROUND(LN(0.2 / (1.0 - 0.05)) + 1e-9, 6) THEN 'accept_h0'
            WHEN llr >= ROUND(LN((1.0 - 0.2) / 0.05) + 1e-9, 6) THEN 'reject_h0'
            ELSE 'continue' END AS verdict
FROM run ORDER BY event_type, bucket_day
"""


@golden(
    "sprt_high_value_rate_monitor",
    SPRT_ORACLE,
    tags=("evaluation", "sequential", "monitor"),
)
def sprt_high_value_rate_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT trace per event type on DAILY buckets: is the
    high-value rate (value > 100) at p0 = 0.2 or p1 = 0.25? Both
    engines compute the log constants at runtime from identical double
    literals (never pre-folded on one side only); the cumulative llr
    rounds at 6 for verdict and hash. The fixture's true rate sits
    near 0.17, so the monitor walks to accept_h0 — the verdict sequence
    itself is the check."""
    from mr_dice_spark.operators.evaluation import sprt_binary_monitor

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(F.col("value").isNotNull()).select(
        "event_type", "ts", (F.col("value") > 100.0).alias("hv")
    )
    out = sprt_binary_monitor(
        ev, "event_type", "ts", "hv", p0=0.2, p1=0.25,
        alpha=0.05, beta=0.2, step_seconds=86400,
    )
    return out.select(
        "event_type",
        (F.unix_timestamp("bucket") / 86400).cast("long").alias("bucket_day"),
        "n", "x", "llr", "verdict",
    ).orderBy("event_type", "bucket_day")


# ---------------------------------------------------------------------------
# empirical-Bayes shrunk return rates (round 7)
# ---------------------------------------------------------------------------

EB_SHRINK_ORACLE = """
WITH cells AS MATERIALIZED (
  SELECT p.p_brand AS i, COUNT(*) AS n,
         COUNT(CASE WHEN l.l_returnflag = 'R' THEN 1 END) AS x
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1
),
r AS (SELECT i, n, x, CAST(x AS DOUBLE) / n AS raw FROM cells),
mom AS (
  SELECT ROUND(AVG(raw) + 1e-9, 9) AS m,
         ROUND(var_pop(raw) + 1e-9, 9) AS v
  FROM r
),
f AS (
  SELECT r.*, mom.m, mom.v,
         (mom.v > 1e-9 AND mom.v < mom.m * (1.0 - mom.m)) AS ok,
         mom.m * (1.0 - mom.m) / mom.v - 1.0 AS common
  FROM r CROSS JOIN mom
)
SELECT i AS p_brand,
       CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS x,
       ROUND(raw + 1e-9, 6) AS raw_rate,
       ROUND(CASE WHEN ok THEN m * common END + 1e-9, 6) AS prior_alpha,
       ROUND(CASE WHEN ok THEN (1.0 - m) * common END + 1e-9, 6) AS prior_beta,
       ROUND(CASE WHEN ok THEN (x + m * common) / (n + common)
                  ELSE raw END + 1e-9, 6) AS shrunk_rate
FROM f ORDER BY p_brand
"""


@golden(
    "eb_shrunk_return_rates_brand",
    EB_SHRINK_ORACLE,
    tags=("evaluation", "empirical-bayes", "shrinkage"),
)
def eb_shrunk_return_rates_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-brand return
    rates (l_returnflag = 'R') — the leaderboard fix for small-sample
    rate noise. Prior moments pin at 9 before the algebra so every
    shrunk rate is bit-identical across engines; the part dim joins
    broadcast."""
    from mr_dice_spark.operators.evaluation import eb_shrunk_rates

    t = Catalog(spark, sf_dir)
    li = t.lineitem.select("l_partkey", "l_returnflag")
    scored = li.join(
        F.broadcast(t.part.select("p_partkey", "p_brand")),
        li.l_partkey == F.col("p_partkey"),
    ).select("p_brand", (F.col("l_returnflag") == "R").alias("ret"))
    return eb_shrunk_rates(scored, "p_brand", "ret").orderBy("p_brand")


# ---------------------------------------------------------------------------
# rank-biased overlap between two leaderboards (round 7)
# ---------------------------------------------------------------------------

RBO_ORACLE = """
WITH by_value AS (
  SELECT user_id,
         ROW_NUMBER() OVER (ORDER BY ROUND(AVG(value) + 1e-9, 6) DESC,
                            user_id) AS rnk
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
by_count AS (
  SELECT user_id,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id) AS rnk
  FROM events WHERE user_id IS NOT NULL
  GROUP BY user_id
),
both_ AS (
  SELECT GREATEST(a.rnk, b.rnk) AS md
  FROM by_value a JOIN by_count b ON a.user_id = b.user_id
  WHERE a.rnk <= 50 AND b.rnk <= 50
),
spine AS (SELECT CAST(unnest(range(1, 51)) AS INT) AS d),
xd AS (
  SELECT d, COALESCE(SUM(CASE WHEN md <= d THEN 1 END), 0) AS x
  FROM spine LEFT JOIN both_ ON md <= d
  GROUP BY d
),
s AS (
  SELECT MAX(CASE WHEN d = 50 THEN x END) AS xk,
         SUM(pow(0.9, d - 1.0) * x / d) AS ssum
  FROM xd
)
SELECT CAST(50 AS BIGINT) AS k,
       CAST(0.9 AS DOUBLE) AS p,
       CAST(xk AS BIGINT) AS n_common,
       ROUND(CAST(xk AS DOUBLE) / 50.0 + 1e-9, 6) AS agreement_at_k,
       ROUND((1.0 - 0.9) * ssum + 1e-9, 6) AS rbo
FROM s
"""


@golden(
    "rbo_value_vs_count_leaderboards",
    RBO_ORACLE,
    tags=("evaluation", "ranking", "rbo"),
)
def rbo_value_vs_count_leaderboards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (k=50, p=0.9, truncated prefix form) between
    the 'top users by mean event value' and 'top users by event count'
    leaderboards — how much do the two rankings agree, top-weighted?
    Scores pin (rounded mean) before ranking so the ORDER itself is
    portable; the user-level ranking windows are bounded by the
    150-user domain (the aggregate precedes the window, so no
    corpus-sized single-task sort — the skyline broadcast-branch
    rule)."""
    from mr_dice_spark.operators.evaluation import rank_biased_overlap

    ev = Catalog(spark, sf_dir).events
    from pyspark.sql import Window as W

    by_value = (
        ev.where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(_r(F.avg("value"), 6).alias("s"))
        .select(
            "user_id",
            F.row_number()
            .over(W.orderBy(F.col("s").desc(), F.col("user_id")))
            .alias("rnk"),
        )
    )
    by_count = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "user_id",
            F.row_number()
            .over(W.orderBy(F.col("c").desc(), F.col("user_id")))
            .alias("rnk"),
        )
    )
    return rank_biased_overlap(by_value, by_count, "user_id", "rnk", k=50, p=0.9)


# ---------------------------------------------------------------------------
# PR-AUC / Brier decomposition / decile lift (round 7)
# ---------------------------------------------------------------------------

AVERAGE_PRECISION_ORACLE = """
WITH base AS (
  SELECT event_type AS g, value AS s, (user_id % 3 = 0) AS y
  FROM events WHERE value IS NOT NULL
),
blocks AS (
  SELECT g, s,
         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) AS tp,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM base GROUP BY g, s
),
cum AS (
  SELECT g, tp, n,
         SUM(tp) OVER (PARTITION BY g ORDER BY s DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ctp,
         SUM(n) OVER (PARTITION BY g ORDER BY s DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
  FROM blocks
),
agg AS (
  SELECT g, SUM(tp) AS p, SUM(n - tp) AS f, SUM(tp * ctp / cn) AS num
  FROM cum GROUP BY g
)
SELECT g AS event_type, CAST(p AS BIGINT) AS n_pos, CAST(f AS BIGINT) AS n_neg,
       ROUND((CASE WHEN p > 0 THEN num / p END) + 1e-9, 6) AS ap
FROM agg ORDER BY event_type
"""


@golden(
    "average_precision_value_by_type",
    AVERAGE_PRECISION_ORACLE,
    tags=("evaluation", "pr-auc", "average-precision", "events"),
)
def average_precision_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type average precision (PR-AUC) — the imbalance-honest
    companion to auc_value_by_type on the identical fixture, so the two
    goldens pin the SAME ranking under both curve conventions. Distinct
    score blocks make the statistic tie-safe: the cumulative window runs
    over (type, score) aggregates, never raw rows. (The label is a
    synthetic hash-class — the golden checks the statistic, not the
    classifier.)"""
    from mr_dice_spark.operators.evaluation import average_precision_by_group

    ev = Catalog(spark, sf_dir).events.withColumn(
        "is_hit", F.col("user_id") % 3 == 0
    )
    return average_precision_by_group(
        ev, "event_type", "value", "is_hit"
    ).orderBy("event_type")


BRIER_ORACLE = """
WITH base AS (
  SELECT value - FLOOR(value) AS s,
         CASE WHEN user_id % 3 = 0 THEN 1.0 ELSE 0.0 END AS y
  -- user_id IS NOT NULL mirrors the operator's label exclusion: a NULL
  -- user_id gives a NULL Spark-side label (excluded), while this CASE's
  -- ELSE would silently coerce it to a negative
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
),
bins AS (
  SELECT LEAST(9, CAST(FLOOR(s * 10.0) AS INT)) AS k,
         CAST(COUNT(*) AS DOUBLE) AS nk,
         AVG(s) AS sbar, AVG(y) AS obar,
         SUM((s - y) * (s - y)) AS se
  FROM base GROUP BY 1
),
tot AS (
  SELECT SUM(nk) AS n, SUM(nk * obar) / SUM(nk) AS o, SUM(se) AS sse,
         SUM(nk * (sbar - obar) * (sbar - obar)) AS rel
  FROM bins
)
SELECT CAST(t.n AS BIGINT) AS n,
       ROUND(t.o + 1e-9, 6) AS base_rate,
       ROUND(t.sse / t.n + 1e-9, 6) AS brier,
       ROUND(t.rel / t.n + 1e-9, 6) AS reliability,
       ROUND(SUM(b.nk * (b.obar - t.o) * (b.obar - t.o)) / ANY_VALUE(t.n) + 1e-9, 6)
         AS resolution,
       ROUND(t.o * (1.0 - t.o) + 1e-9, 6) AS uncertainty
FROM bins b CROSS JOIN tot t
GROUP BY t.n, t.o, t.sse, t.rel
"""


@golden(
    "brier_decomposition_events",
    BRIER_ORACLE,
    tags=("evaluation", "brier", "calibration", "events"),
)
def brier_decomposition_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score: is the forecaster's
    error mis-calibration (reliability) or lack of discrimination
    (resolution vs the uncertainty floor)? The forecast is the
    fractional part of value — exact on both engines, uniform-ish in
    [0,1) — against the hash-class label, so reliability is large by
    construction and the decomposition arms are all exercised. One bin
    aggregate (10 rows) + a broadcast 1-row total; brier moments ride
    the same pass."""
    from mr_dice_spark.operators.evaluation import brier_decomposition

    ev = (
        Catalog(spark, sf_dir)
        .events.where(F.col("value").isNotNull())
        .select(
            (F.col("value") - F.floor(F.col("value"))).alias("score"),
            (F.col("user_id") % 3 == 0).alias("is_hit"),
        )
    )
    return brier_decomposition(ev, "score", "is_hit", n_bins=10)


DECILE_LIFT_ORACLE = """
WITH base AS (
  SELECT event_type AS g, value AS s,
         CASE WHEN user_id % 3 = 0 THEN 1.0 ELSE 0.0 END AS y,
         event_id AS t
  -- the label/group/tiebreak NOT-NULL filters mirror the operator's
  -- pre-NTILE exclusions (a NULL user_id label must not coerce to a
  -- negative; NULL group/tiebreak rows are dropped, not ranked)
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL
    AND event_type IS NOT NULL AND event_id IS NOT NULL
),
tiled AS (
  SELECT g, y,
         NTILE(10) OVER (PARTITION BY g ORDER BY s DESC, t ASC) AS tile
  FROM base
),
tiles AS (
  SELECT g, tile, CAST(COUNT(*) AS DOUBLE) AS n, SUM(y) AS pos
  FROM tiled GROUP BY g, tile
)
SELECT g AS event_type, CAST(tile AS INT) AS tile,
       CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS n_pos,
       ROUND(pos / n + 1e-9, 6) AS rate,
       ROUND((pos / n) / (SUM(pos) OVER (PARTITION BY g)
                          / SUM(n) OVER (PARTITION BY g)) + 1e-9, 6) AS lift,
       ROUND(SUM(pos) OVER (PARTITION BY g ORDER BY tile
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / SUM(pos) OVER (PARTITION BY g) + 1e-9, 6) AS cum_gain
FROM tiles ORDER BY event_type, tile
"""


@golden(
    "decile_lift_value_by_type",
    DECILE_LIFT_ORACLE,
    tags=("evaluation", "lift", "gains", "events"),
)
def decile_lift_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type decile lift/gains table — 'rank by score, dip d deciles
    deep, what share of positives is captured?' — the targeting readout
    AP/AUC compress away. event_id tiebreak makes the NTILE cut
    deterministic under tied scores on both engines; the per-group sort
    is bounded by the largest event_type (the auc_by_group contract)."""
    from mr_dice_spark.operators.evaluation import decile_lift_by_group

    ev = Catalog(spark, sf_dir).events.withColumn(
        "is_hit", F.col("user_id") % 3 == 0
    )
    return decile_lift_by_group(
        ev, "event_type", "value", "is_hit", "event_id", n_tiles=10
    ).orderBy("event_type", "tile")


# ---------------------------------------------------------------------------
# standardized effect sizes (Cohen's d / Hedges' g)
# ---------------------------------------------------------------------------

EFFECT_SIZE_ORACLE = """
WITH base AS (
  SELECT event_type AS g,
         (CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) % 7) IN (2, 3) AS s,
         value AS v
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
a AS (
  SELECT g,
         COUNT(CASE WHEN s THEN 1 END) AS n1,
         COUNT(CASE WHEN NOT s THEN 1 END) AS n2,
         AVG(CASE WHEN s THEN v END) AS m1,
         AVG(CASE WHEN NOT s THEN v END) AS m2,
         VAR_SAMP(CASE WHEN s THEN v END) AS v1,
         VAR_SAMP(CASE WHEN NOT s THEN v END) AS v2
  FROM base GROUP BY g
),
b AS (
  SELECT *, SQRT(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)) AS sp
  FROM a
)
SELECT g AS event_type, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       ROUND((m1 - m2) + 1e-9, 6) AS mean_diff,
       ROUND(sp + 1e-9, 6) AS pooled_sd,
       ROUND(CASE WHEN n1 > 1 AND n2 > 1 AND sp > 0
             THEN (m1 - m2) / sp END + 1e-9, 6) AS cohens_d,
       ROUND(CASE WHEN n1 > 1 AND n2 > 1 AND sp > 0
             THEN (m1 - m2) / sp END
             * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)) + 1e-9, 6) AS hedges_g
FROM b ORDER BY event_type
"""


@golden(
    "effect_size_weekend_by_type",
    EFFECT_SIZE_ORACLE,
    tags=("evaluation", "effect-size", "experiment", "events"),
)
def effect_size_weekend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d + Hedges' g for the weekend-vs-weekday value shift per
    event type — the 'how big, in comparable units' companion to
    welch_t_weekend_split's t statistic on the identical split (epoch-day
    mod 7 in {2,3}). One conditional-moment aggregate per group."""
    from mr_dice_spark.operators.evaluation import effect_sizes

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7)
        .isin(2, 3)
        .alias("s"),
        "value",
    )
    return effect_sizes(ev, "event_type", "s", "value").orderBy("event_type")


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over per-weekday conversion screens
# ---------------------------------------------------------------------------

BH_FDR_ORACLE = """
WITH ev AS (
  SELECT (CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) % 7) AS wd,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
),
per AS (
  SELECT wd, CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(x) AS DOUBLE) AS c
  FROM ev GROUP BY wd
),
tot AS (SELECT SUM(n) AS nn, SUM(c) AS cc FROM per),
z AS (
  SELECT wd,
         (c / n - (cc - c) / (nn - n)) * (c / n - (cc - c) / (nn - n))
         / ((cc / nn) * (1.0 - cc / nn) * (1.0 / n + 1.0 / (nn - n))) AS z2
  FROM per CROSS JOIN tot
),
tests AS (
  -- clamp AFTER the 9dp nudge-quantization: the nudge can push an
  -- exactly-1.0 bound to 1.000000001, which the operator's strict
  -- [0, 1] validity filter would (correctly) exclude
  SELECT wd,
         LEAST(1.0,
               ROUND(CASE WHEN z2 > 0 THEN LEAST(1.0, 1.0 / z2) ELSE 1.0 END
                     + 1e-9, 9)) AS p
  FROM z
),
ranked AS (
  SELECT t.wd, t.p,
         (SELECT COUNT(*) FROM tests j WHERE j.p <= t.p) AS r,
         (SELECT COUNT(*) FROM tests) AS m
  FROM tests t
),
adj AS (
  SELECT wd, p, r, m,
         LEAST(MIN(m * p / r) OVER (ORDER BY p DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               1.0) AS qadj
  FROM ranked
)
SELECT wd AS weekday,
       ROUND(p + 1e-12, 9) AS p_value,
       CAST(r AS BIGINT) AS rank,
       CAST(m AS BIGINT) AS m_tests,
       ROUND(qadj + 1e-9, 6) AS q_bh,
       qadj <= 0.1 AS reject
FROM adj ORDER BY weekday
"""


@golden(
    "bh_fdr_weekday_conversion",
    BH_FDR_ORACLE,
    tags=("evaluation", "experiment", "fdr", "multiple-comparisons"),
)
def bh_fdr_weekday_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg gate over seven per-weekday conversion
    screens: each weekday's purchase share vs the other six days gives
    a two-proportion z^2 from exact integer counts, mapped through the
    distribution-free Chebyshev bound ``p = min(1, 1/z^2)`` (BH keeps
    FDR control under conservative p-bounds — the portable route when
    no normal CDF exists on either engine), 9dp-quantized, then
    step-up adjusted at alpha = 0.1. The multiple-comparisons readout
    every sliced experiment needs before declaring a weekday effect."""
    from mr_dice_spark.operators.evaluation import benjamini_hochberg

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7).alias("wd"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    per = ev.groupBy("wd").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("c"),
    )
    tot = per.agg(F.sum("n").alias("nn"), F.sum("c").alias("cc"))
    j = per.crossJoin(F.broadcast(tot))
    p1 = F.col("c") / F.col("n")
    p2 = (F.col("cc") - F.col("c")) / (F.col("nn") - F.col("n"))
    pp = F.col("cc") / F.col("nn")
    z2 = (p1 - p2) * (p1 - p2) / (
        pp * (1.0 - pp) * (1.0 / F.col("n") + 1.0 / (F.col("nn") - F.col("n")))
    )
    # clamp AFTER the 9dp nudge-quantization: the nudge pushes an
    # exactly-1.0 bound to 1.000000001, which the operator's strict
    # [0, 1] validity filter would (correctly) exclude
    tests = j.select(
        "wd",
        F.least(
            F.lit(1.0),
            F.round(
                F.when(z2 > 0, F.least(F.lit(1.0), 1.0 / z2)).otherwise(1.0)
                + F.lit(1e-9),
                9,
            ),
        ).alias("p"),
    )
    out = benjamini_hochberg(tests, "wd", "p", alpha=0.1)
    return out.withColumnRenamed("wd", "weekday").orderBy("weekday")


# ---------------------------------------------------------------------------
# Cochran's Q: paired high-value propensity across event types
# ---------------------------------------------------------------------------

COCHRAN_Q_ORACLE = """
WITH cells AS (
  SELECT user_id AS u, event_type AS j,
         MAX(CASE WHEN COALESCE(value >= 100, FALSE) THEN 1 ELSE 0 END) AS x
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        AND event_type IN ('view', 'click', 'purchase')
  GROUP BY user_id, event_type
),
per_t AS (SELECT j, SUM(x) AS cj FROM cells GROUP BY j),
per_u AS (SELECT u, SUM(x) AS ri FROM cells GROUP BY u),
tt AS (SELECT COUNT(*) AS k, SUM(cj) AS t, SUM(cj * cj) AS c2 FROM per_t),
uu AS (SELECT COUNT(*) AS nu, SUM(ri * ri) AS r2 FROM per_u)
SELECT CAST(nu AS BIGINT) AS n_units,
       CAST(k AS BIGINT) AS k_treatments,
       CAST(t AS BIGINT) AS total_successes,
       ROUND(CASE WHEN CAST(k AS DOUBLE) * t - r2 > 0 THEN
         (CAST(k AS DOUBLE) - 1.0)
         * (CAST(k AS DOUBLE) * CAST(c2 AS DOUBLE)
            - CAST(t AS DOUBLE) * CAST(t AS DOUBLE))
         / (CAST(k AS DOUBLE) * CAST(t AS DOUBLE) - CAST(r2 AS DOUBLE))
       END + 1e-9, 6) AS q_stat,
       CAST(k - 1 AS BIGINT) AS df
FROM tt CROSS JOIN uu
"""


@golden(
    "cochran_q_high_value_types",
    COCHRAN_Q_ORACLE,
    tags=("evaluation", "cochran-q", "paired", "events"),
)
def cochran_q_high_value_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q on paired binary outcomes: per user (the block),
    does 'ever logged a value >= 100 event' have one rate across the
    view/click/purchase funnel stages? The k-way McNemar — exact
    integers until the closing division. NULL values count as failures
    (COALESCE false), so the outcome is defined wherever the user
    touched the stage."""
    from mr_dice_spark.operators.evaluation import cochran_q

    _utc(spark)
    flags = (
        Catalog(spark, sf_dir).events.where(
            F.col("user_id").isNotNull()
            & F.col("event_type").isin("view", "click", "purchase")
        )
        .groupBy("user_id", "event_type")
        .agg(
            F.max(
                F.coalesce(F.col("value") >= 100, F.lit(False)).cast("int")
            ).alias("y")
        )
    )
    return cochran_q(flags, "user_id", "event_type", "y")


# ---------------------------------------------------------------------------
# Fleiss' kappa: fixed 5-event panels banding each event type
# ---------------------------------------------------------------------------

FLEISS_ORACLE = """
WITH ranked AS (
  SELECT event_type AS u,
         CASE WHEN value < 20 THEN 'low'
              WHEN value < 100 THEN 'mid' ELSE 'high' END AS lab,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL
        AND ts IS NOT NULL AND event_id IS NOT NULL
),
panel AS (SELECT u, lab FROM ranked WHERE rn <= 5),
cells AS (SELECT u, lab, COUNT(*) AS m FROM panel GROUP BY u, lab),
shape AS (SELECT COUNT(DISTINCT u) AS nu, SUM(m * m) AS ssq FROM cells),
labels AS (SELECT lab, SUM(m) AS nc FROM cells GROUP BY lab),
pe AS (
  SELECT SUM((CAST(nc AS DOUBLE) / (nu * 5.0))
             * (CAST(nc AS DOUBLE) / (nu * 5.0))) AS pe
  FROM labels CROSS JOIN shape
)
SELECT CAST(nu AS BIGINT) AS n_units,
       CAST(5 AS BIGINT) AS n_raters,
       ROUND((CAST(ssq AS DOUBLE) - nu * 5.0) / ((nu * 5.0) * 4.0)
             + 1e-9, 6) AS p_o,
       ROUND(pe + 1e-9, 6) AS p_e,
       ROUND(CASE WHEN pe < 1.0 THEN
         ((CAST(ssq AS DOUBLE) - nu * 5.0) / ((nu * 5.0) * 4.0) - pe)
         / (1.0 - pe) END + 1e-9, 6) AS kappa
FROM shape CROSS JOIN pe
"""


@golden(
    "fleiss_kappa_value_bands",
    FLEISS_ORACLE,
    tags=("evaluation", "agreement", "fleiss", "events"),
)
def fleiss_kappa_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over a CONSTRUCTED equal-size panel: each event
    type's first five (ts, event_id)-ordered valued events act as five
    'raters' assigning the type a value band (low/mid/high at 20/100) —
    agreement says whether a type's early value profile is coherent.
    The deterministic first-5 window guarantees the fixed-panel design
    Fleiss requires (the operator fail-fasts on ragged counts; every
    type holds >= 188 valued events at the smallest test scale)."""
    from mr_dice_spark.operators.evaluation import fleiss_kappa
    from pyspark.sql import Window

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    panel = (
        ev.select(
            F.col("event_type").alias("u"),
            F.when(F.col("value") < 20, "low")
            .when(F.col("value") < 100, "mid")
            .otherwise("high")
            .alias("lab"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 5)
    )
    return fleiss_kappa(panel, "u", "lab")


# ---------------------------------------------------------------------------
# offline changepoint: where did each event type's daily level shift?
# ---------------------------------------------------------------------------

CHANGEPOINT_ORACLE = """
WITH b AS (
  SELECT event_type AS k,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d,
         ROUND(AVG(value) + 1e-9, 6) AS v
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
cum AS (
  SELECT k, d,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY d) AS i,
         SUM(v) OVER (PARTITION BY k ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
         COUNT(*) OVER (PARTITION BY k) AS n,
         SUM(v) OVER (PARTITION BY k) AS tot
  FROM b
),
gains AS (
  SELECT k, d, i, n, cs, tot,
         ROUND((cs * cs / i + (tot - cs) * (tot - cs) / (n - i))
               - tot * tot / n + 1e-9, 9) AS gain
  FROM cum WHERE i < n
),
best AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                               ORDER BY gain DESC, i ASC) AS rn
  FROM gains
),
sel AS (
  SELECT k AS event_type, CAST(n AS BIGINT) AS n,
         CAST(i AS BIGINT) AS split_pos,
         d AS split_order,
         gain,
         ROUND(cs / i + 1e-9, 6) AS mean_left,
         ROUND((tot - cs) / CAST(n - i AS DOUBLE) + 1e-9, 6) AS mean_right
  FROM best WHERE rn = 1
  UNION ALL
  -- the operator's singles leg: an n=1 key has no interior split and
  -- reports a NULL-split row rather than vanishing (keys must not
  -- silently disappear from a monitoring readout)
  SELECT k, CAST(1 AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
  FROM cum WHERE n = 1
)
SELECT * FROM sel ORDER BY event_type
"""


@golden(
    "changepoint_daily_value_by_type",
    CHANGEPOINT_ORACLE,
    tags=("timeseries", "changepoint", "events"),
)
def changepoint_daily_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single best changepoint in each event type's daily mean-value
    series (argmax between-segment SSE — binary segmentation's first
    step): the retrospective WHERE to cusum's sequential THAT. Fed the
    quantized daily-bucket frame per the operator's per-key series
    contract; gains are 9dp-pinned before the argmax so both engines
    pick the same split."""
    from mr_dice_spark.operators.timeseries import best_changepoint

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    b = ev.groupBy(
        F.col("event_type").alias("k"),
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("d"),
    ).agg(_r(F.avg("value"), 6).alias("v"))
    out = best_changepoint(b, "k", "d", "v")
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard: the additive companion to the KM golden
# ---------------------------------------------------------------------------

NELSON_AALEN_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         MIN(epoch_us(ts)) AS first_us,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           AS purch_us,
         MAX(epoch_us(ts)) AS last_us
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id
),
subj AS (
  SELECT 'c' || CAST(user_id % 4 AS VARCHAR) AS g,
         CAST(FLOOR((COALESCE(purch_us, last_us) - first_us)
                    / 3600000000.0) AS DOUBLE) AS t,
         purch_us IS NOT NULL AS e
  FROM per_user
),
times AS (
  SELECT g, t, count_if(e) AS d, count_if(NOT e) AS c
  FROM subj GROUP BY 1, 2
),
staged AS (
  SELECT g, t, d, c,
         SUM(d + c) OVER (PARTITION BY g)
         - COALESCE(SUM(d + c) OVER (PARTITION BY g ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
  FROM times
),
na AS (
  SELECT g, t, d, c, n,
         SUM(ROUND(CAST(d AS DOUBLE) / CAST(n AS DOUBLE) + 1e-12, 9))
           OVER w AS h,
         SUM(ROUND((CAST(n AS DOUBLE) - CAST(d AS DOUBLE)) * CAST(d AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                   + 1e-12, 9)) OVER w AS v
  FROM staged
  WINDOW w AS (PARTITION BY g ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT g AS cohort, t AS duration_h,
       CAST(n AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS n_events,
       CAST(c AS BIGINT) AS n_censored,
       ROUND(h + 1e-9, 6) AS cum_hazard,
       ROUND(v + 1e-9, 6) AS var_hazard,
       ROUND(EXP(-h) + 1e-9, 6) AS survival_fh
FROM na WHERE d > 0
ORDER BY cohort, duration_h
"""


@golden(
    "nelson_aalen_time_to_purchase",
    NELSON_AALEN_ORACLE,
    tags=("evaluation", "survival", "hazard", "events"),
)
def nelson_aalen_time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard (+ Aalen variance and the
    Fleming-Harrington survival reading) per user cohort on the SAME
    right-censored time-to-first-purchase construction as the KM/RMST
    goldens — hazard is the crude-rate scale an exposure comparison
    wants. Per-time increments are 9dp-pinned before the running sum
    (KM's chained-float contract), so both engines accumulate
    identical doubles in identical order."""
    from mr_dice_spark.operators.evaluation import nelson_aalen

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    us = F.unix_micros("ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(us).alias("first_us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("purch_us"),
        F.max(us).alias("last_us"),
    )
    subj = per_user.select(
        F.concat(F.lit("c"), (F.col("user_id") % 4).cast("string")).alias("cohort"),
        F.floor(
            (F.coalesce("purch_us", "last_us") - F.col("first_us")) / 3600000000.0
        ).cast("double").alias("duration_h"),
        F.col("purch_us").isNotNull().alias("converted"),
    )
    return nelson_aalen(subj, "cohort", "duration_h", "converted").orderBy(
        "cohort", "duration_h"
    )


# ---------------------------------------------------------------------------
# Difference-in-differences: month-half uplift, even/odd user arms
# ---------------------------------------------------------------------------

DID_ORACLE = """
WITH b AS (
  SELECT (user_id % 2 = 0) AS t,
         (EXTRACT(day FROM ts) > 15) AS p,
         CAST(value AS DOUBLE) AS v
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
a AS (
  SELECT
    count_if(t AND NOT p) AS n_t_pre,
    count_if(t AND p) AS n_t_post,
    count_if(NOT t AND NOT p) AS n_c_pre,
    count_if(NOT t AND p) AS n_c_post,
    ROUND(AVG(CASE WHEN t AND NOT p THEN v END) + 1e-9, 6) AS mean_t_pre,
    ROUND(AVG(CASE WHEN t AND p THEN v END) + 1e-9, 6) AS mean_t_post,
    ROUND(AVG(CASE WHEN NOT t AND NOT p THEN v END) + 1e-9, 6) AS mean_c_pre,
    ROUND(AVG(CASE WHEN NOT t AND p THEN v END) + 1e-9, 6) AS mean_c_post,
    ROUND(VAR_SAMP(CASE WHEN t AND NOT p THEN v END) + 1e-9, 6) AS s2_t_pre,
    ROUND(VAR_SAMP(CASE WHEN t AND p THEN v END) + 1e-9, 6) AS s2_t_post,
    ROUND(VAR_SAMP(CASE WHEN NOT t AND NOT p THEN v END) + 1e-9, 6) AS s2_c_pre,
    ROUND(VAR_SAMP(CASE WHEN NOT t AND p THEN v END) + 1e-9, 6) AS s2_c_post
  FROM b
),
d AS (
  SELECT *,
    CASE WHEN n_t_pre > 0 AND n_t_post > 0 AND n_c_pre > 0 AND n_c_post > 0
         THEN (mean_t_post - mean_t_pre) - (mean_c_post - mean_c_pre)
    END AS did_raw,
    CASE WHEN n_t_pre >= 2 AND n_t_post >= 2 AND n_c_pre >= 2 AND n_c_post >= 2
         THEN SQRT(s2_t_pre / CAST(n_t_pre AS DOUBLE)
                   + s2_t_post / CAST(n_t_post AS DOUBLE)
                   + s2_c_pre / CAST(n_c_pre AS DOUBLE)
                   + s2_c_post / CAST(n_c_post AS DOUBLE))
    END AS se_raw
  FROM a
)
SELECT CAST(n_t_pre AS BIGINT) AS n_t_pre,
       CAST(n_t_post AS BIGINT) AS n_t_post,
       CAST(n_c_pre AS BIGINT) AS n_c_pre,
       CAST(n_c_post AS BIGINT) AS n_c_post,
       mean_t_pre, mean_t_post, mean_c_pre, mean_c_post,
       ROUND(did_raw + 1e-9, 6) AS did,
       ROUND(se_raw + 1e-9, 6) AS se,
       ROUND(CASE WHEN se_raw > 0 THEN did_raw / se_raw END + 1e-9, 6) AS z
FROM d
"""


@golden(
    "did_monthhalf_value_by_arm",
    DID_ORACLE,
    tags=("evaluation", "experiment", "did", "events"),
)
def did_monthhalf_value_by_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on per-event value: even-user arm as
    'treated', first half of the month as the pre period — the
    quasi-experimental readout that nets out both the fixed arm gap and
    the common time trend. The arms are a null split over a common
    process, so DiD should be (and is) near zero — the golden validates
    the machinery: cell means and variances pin at 6dp before the
    differencing so DiD/SE/z are fixed chains on pinned operands."""
    from mr_dice_spark.operators.evaluation import difference_in_differences

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    rows = ev.select(
        (F.col("user_id") % 2 == 0).alias("arm"),
        (F.dayofmonth("ts") > 15).alias("period"),
        F.col("value").cast("double").alias("v"),
    )
    return difference_in_differences(
        rows, "arm", "period", "v",
        arm_treat=True, period_pre=False, period_post=True,
    )


# ---------------------------------------------------------------------------
# Mantel-Haenszel: exposure/outcome association stratified by event type
# ---------------------------------------------------------------------------

MANTEL_HAENSZEL_ORACLE = """
WITH b AS (
  SELECT event_type AS s,
         (user_id % 2 = 0) AS x,
         (value >= 100.0) AS y
  FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
),
cells AS (
  SELECT s,
         CAST(count_if(x AND y) AS DOUBLE) AS a,
         CAST(count_if(x AND NOT y) AS DOUBLE) AS b,
         CAST(count_if(NOT x AND y) AS DOUBLE) AS c,
         CAST(count_if(NOT x AND NOT y) AS DOUBLE) AS d
  FROM b GROUP BY s
),
terms AS (
  SELECT a, b, c, d, (a + b + c + d) AS n,
         a * d / (a + b + c + d) AS num,
         b * c / (a + b + c + d) AS den,
         (a + b) * (a + c) / (a + b + c + d) AS e,
         CASE WHEN (a + b + c + d) > 1.0
              THEN (a + b) * (c + d) * (a + c) * (b + d)
                   / ((a + b + c + d) * (a + b + c + d)
                      * ((a + b + c + d) - 1.0))
              ELSE 0.0 END AS v
  FROM cells
),
red AS (
  SELECT COUNT(*) AS n_strata, SUM(n) AS n_total,
         SUM(num) AS num, SUM(den) AS den,
         SUM(a) AS sum_a, SUM(e) AS e, SUM(v) AS v
  FROM terms
)
SELECT CAST(n_strata AS BIGINT) AS n_strata,
       CAST(n_total AS BIGINT) AS n_total,
       ROUND(CASE WHEN den > 0 THEN num / den END + 1e-9, 6) AS or_mh,
       CAST(sum_a AS BIGINT) AS sum_a,
       ROUND(e + 1e-9, 6) AS expected_a,
       ROUND(v + 1e-9, 6) AS variance,
       ROUND(CASE WHEN v > 0
             THEN (sum_a - e) * (sum_a - e) / v END + 1e-9, 4) AS chi2
FROM red
"""


@golden(
    "mantel_haenszel_highvalue_by_type",
    MANTEL_HAENSZEL_ORACLE,
    tags=("evaluation", "experiment", "stratified", "events"),
)
def mantel_haenszel_highvalue_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel common odds ratio + CMH chi-squared for the
    even/odd-arm vs high-value (value >= 100) association, stratified
    by event type — the confounder-adjusted 2x2 readout that a pooled
    table would expose to Simpson reversals (event types have very
    different value scales here, so stratification genuinely matters).
    The arms are a null split, so OR_MH should hug 1 — the golden
    validates the machinery; every term is IEEE-exact on per-stratum
    integer cells (the logrank argument)."""
    from mr_dice_spark.operators.evaluation import mantel_haenszel

    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    )
    rows = ev.select(
        F.col("event_type").alias("stratum"),
        (F.col("user_id") % 2 == 0).alias("exposed"),
        (F.col("value") >= 100.0).alias("high_value"),
    )
    return mantel_haenszel(rows, "stratum", "exposed", "high_value")


# ---------------------------------------------------------------------------
# Chow test: did each type's daily value trend break at mid-month?
# ---------------------------------------------------------------------------

def _chow_seg_sums(tag: str, cond: str) -> str:
    """Per-segment decimal conditional power sums (mirrors
    operators/timeseries.py chow_test compact-cast widths)."""
    return f"""
    COUNT(CASE WHEN {cond} THEN 1 END) AS n{tag},
    CAST(SUM(CASE WHEN {cond} THEN CAST(x AS DECIMAL(14,4)) END)
         AS DECIMAL(16,4)) AS sx{tag},
    CAST(SUM(CASE WHEN {cond} THEN CAST(y AS DECIMAL(16,6)) END)
         AS DECIMAL(18,6)) AS sy{tag},
    CAST(SUM(CASE WHEN {cond}
             THEN CAST(x AS DECIMAL(19,4)) * CAST(y AS DECIMAL(16,6)) END)
         AS DECIMAL(30,10)) AS sxy{tag},
    CAST(SUM(CASE WHEN {cond}
             THEN CAST(x AS DECIMAL(19,4)) * CAST(x AS DECIMAL(14,4)) END)
         AS DECIMAL(26,8)) AS sxx{tag},
    CAST(SUM(CASE WHEN {cond}
             THEN CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(16,6)) END)
         AS DECIMAL(31,12)) AS syy{tag}"""


def _chow_cancelled(tag: str) -> str:
    """Decimal cancellation of the three centered-moment numerators
    (>= 19-digit operands per DuckDB product so the exact int128 path
    is taken), cast to double only after the cancellation."""
    return f"""
    CAST(n{tag} AS DOUBLE) AS nd{tag},
    CAST(CAST(n{tag} AS DECIMAL(6,0)) * sxx{tag}
         - CAST(sx{tag} AS DECIMAL(19,4)) * CAST(sx{tag} AS DECIMAL(19,4))
         AS DOUBLE) AS sxxn{tag},
    CAST(CAST(CAST(n{tag} AS DECIMAL(6,0)) * sxy{tag} AS DECIMAL(36,10))
         - CAST(CAST(sx{tag} AS DECIMAL(19,4)) * CAST(sy{tag} AS DECIMAL(19,6))
                AS DECIMAL(36,10)) AS DOUBLE) AS sxyn{tag},
    CAST(CAST(CAST(n{tag} AS DECIMAL(6,0)) * syy{tag} AS DECIMAL(37,12))
         - CAST(CAST(sy{tag} AS DECIMAL(19,6)) * CAST(sy{tag} AS DECIMAL(19,6))
                AS DECIMAL(37,12)) AS DOUBLE) AS syyn{tag}"""


def _chow_sse(tag: str) -> str:
    return f"""
    ROUND(CASE WHEN n{tag} >= 2 AND (sxxn{tag} / nd{tag}) > 0
      THEN (syyn{tag} / nd{tag})
           - (sxyn{tag} / nd{tag}) * (sxyn{tag} / nd{tag})
             / (sxxn{tag} / nd{tag}) END + 1e-9, 6) AS sse{tag}"""


CHOW_ORACLE = f"""
WITH b AS (
  SELECT event_type AS k,
         CAST(FLOOR(epoch(ts) / 86400) AS DOUBLE) AS x,
         ROUND(AVG(value) + 1e-9, 6) AS y
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
s AS (
  SELECT k,
    {_chow_seg_sums("p", "TRUE")},
    {_chow_seg_sums("1", "x <= 19737.0")},
    {_chow_seg_sums("2", "x > 19737.0")}
  FROM b GROUP BY k
),
c AS (
  SELECT k, np, n1, n2,
    {_chow_cancelled("p")},
    {_chow_cancelled("1")},
    {_chow_cancelled("2")}
  FROM s
),
sse AS (
  SELECT k, np, n1, n2,
    {_chow_sse("p")},
    {_chow_sse("1")},
    {_chow_sse("2")}
  FROM c
)
SELECT k AS event_type, CAST(np AS BIGINT) AS n,
       CAST(n1 AS BIGINT) AS n_1, CAST(n2 AS BIGINT) AS n_2,
       ssep AS sse_pooled, sse1 AS sse_1, sse2 AS sse_2,
       ROUND(CASE WHEN np >= 5 AND (sse1 + sse2) > 0
             THEN ((ssep - sse1 - sse2) / 2.0)
                  / ((sse1 + sse2) / (CAST(np AS DOUBLE) - 4.0)) END
             + 1e-9, 4) AS f_stat
FROM sse ORDER BY event_type
"""


@golden(
    "chow_break_daily_value_by_type",
    CHOW_ORACLE,
    tags=("timeseries", "chow", "structural-break", "events"),
)
def chow_break_daily_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break F-test at the known mid-month breakpoint
    (epoch day 19737 = 2024-01-15) for each event type's daily
    mean-value trend — the confirmatory companion to the changepoint
    golden's exploratory argmax, on the same quantized daily-bucket
    frame. SSEs come from one conditional power-sum aggregate per key
    and pin at 6dp before F (the operator's two-point-segment guard),
    so F is a fixed chain on pinned operands."""
    from mr_dice_spark.operators.timeseries import chow_test

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    b = ev.groupBy(
        F.col("event_type").alias("k"),
        F.floor(F.unix_timestamp("ts") / 86400).cast("double").alias("x"),
    ).agg(_r(F.avg("value"), 6).alias("y"))
    out = chow_test(b, "k", "x", "y", breakpoint=19737.0)
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")


# ---------------------------------------------------------------------------
# 1-Wasserstein drift: how far did weekend move the value distribution?
# ---------------------------------------------------------------------------

W1_ORACLE = """
WITH base AS (
  SELECT event_type AS k,
         ((CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) % 7) IN (2, 3) AS a,
         CAST(value AS DOUBLE) AS v
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
    AND NOT isnan(CAST(value AS DOUBLE))
),
cells AS (
  SELECT k, v, count_if(a) AS ca, count_if(NOT a) AS cb
  FROM base GROUP BY k, v
),
staged AS (
  SELECT k, v,
         SUM(ca) OVER w AS cca, SUM(cb) OVER w AS ccb,
         SUM(ca) OVER (PARTITION BY k) AS na,
         SUM(cb) OVER (PARTITION BY k) AS nb,
         LEAD(v) OVER (PARTITION BY k ORDER BY v) - v AS gap
  FROM cells
  WINDOW w AS (PARTITION BY k ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
terms AS (
  SELECT k, na, nb,
         ROUND(ABS(CAST(cca AS DOUBLE) / na - CAST(ccb AS DOUBLE) / nb)
               * gap + 1e-12, 9) AS t
  FROM staged
)
SELECT k AS event_type,
       CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
       ROUND(CASE WHEN MAX(na) > 0 AND MAX(nb) > 0
             THEN COALESCE(CAST(SUM(CAST(t AS DECIMAL(19,9))) AS DOUBLE),
                           0.0) END + 1e-9, 6) AS w1
FROM terms GROUP BY k ORDER BY event_type
"""


@golden(
    "w1_value_weekend_by_type",
    W1_ORACLE,
    tags=("timeseries", "drift", "wasserstein", "events"),
)
def w1_value_weekend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earth-mover (1-Wasserstein) distance between each event type's
    weekend and weekday value distributions — the drift readout in
    VALUE UNITS (how many dollars did the distribution move), next to
    KS's unitless sup-gap and PSI/JSD's binned divergences, over the
    same weekend split as the effect-size golden. Exact on the
    empirical CDFs via tie-collapsed cells and key-partitioned
    cumulative windows; step terms 9dp-pinned before the sum."""
    from mr_dice_spark.operators.timeseries import wasserstein_1

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    rows = ev.select(
        F.col("event_type").alias("k"),
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7).isin(2, 3)
        .alias("weekend"),
        F.col("value").cast("double").alias("v"),
    )
    return wasserstein_1(rows, "k", "weekend", "v", True).withColumnRenamed(
        "k", "event_type"
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Cramér–von Mises + energy distance: the other two members of the
# two-sample drift family, on the identical weekend split as w1/KS.
# ---------------------------------------------------------------------------

_WEEKEND_BASE_SQL = """
base AS (
  SELECT event_type AS k,
         ((CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) % 7) IN (2, 3) AS a,
         CAST(value AS DOUBLE) AS v
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
    AND NOT isnan(CAST(value AS DOUBLE))
)
"""


def _weekend_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    return ev.select(
        F.col("event_type").alias("k"),
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7).isin(2, 3)
        .alias("weekend"),
        F.col("value").cast("double").alias("v"),
    )


CVM_ORACLE = f"""
WITH {_WEEKEND_BASE_SQL},
cells AS (
  SELECT k, v, count_if(a) AS ca, count_if(NOT a) AS cb
  FROM base GROUP BY k, v
),
staged AS (
  SELECT k, ca + cb AS wgt,
         SUM(ca) OVER w AS cca, SUM(cb) OVER w AS ccb,
         SUM(ca) OVER (PARTITION BY k) AS na,
         SUM(cb) OVER (PARTITION BY k) AS nb
  FROM cells
  WINDOW w AS (PARTITION BY k ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
terms AS (
  SELECT k, na, nb,
         ROUND((CAST(cca AS DOUBLE) / na - CAST(ccb AS DOUBLE) / nb)
               * (CAST(cca AS DOUBLE) / na - CAST(ccb AS DOUBLE) / nb)
               * CAST(wgt AS DOUBLE) + 1e-12, 9) AS t
  FROM staged
)
SELECT k AS event_type,
       CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
       ROUND(CASE WHEN MAX(na) > 0 AND MAX(nb) > 0
             THEN CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)
                  / (CAST(MAX(na) + MAX(nb) AS DOUBLE)
                     * CAST(MAX(na) + MAX(nb) AS DOUBLE))
                  * CAST(SUM(CAST(t AS DECIMAL(19,9))) AS DOUBLE)
             END + 1e-9, 6) AS cvm
FROM terms GROUP BY k ORDER BY event_type
"""


@golden(
    "cvm_value_weekend_by_type",
    CVM_ORACLE,
    tags=("timeseries", "drift", "cvm", "events"),
)
def cvm_value_weekend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér–von Mises distance between each event type's weekend and
    weekday value distributions — the MASS-WEIGHTED squared-CDF-gap
    drift readout next to KS's sup-gap and w1's value-unit area, on
    the identical weekend split. Exact cells, one cumulative window,
    9dp-pinned pooled terms summed as exact decimals."""
    from mr_dice_spark.operators.timeseries import cramer_von_mises_2s

    return (
        cramer_von_mises_2s(
            _weekend_rows(spark, sf_dir), "k", "weekend", "v", True
        )
        .withColumnRenamed("k", "event_type")
        .orderBy("event_type")
    )


ENERGY_ORACLE = f"""
WITH {_WEEKEND_BASE_SQL},
cells AS (
  SELECT k, v, count_if(a) AS ca, count_if(NOT a) AS cb
  FROM base GROUP BY k, v
),
staged AS (
  SELECT k, v, ca, cb,
         SUM(ca) OVER w AS cca, SUM(cb) OVER w AS ccb,
         CAST(SUM(ca * CAST(v AS DECIMAL(19,6))) OVER w AS DOUBLE) AS csa,
         CAST(SUM(cb * CAST(v AS DECIMAL(19,6))) OVER w AS DOUBLE) AS csb,
         SUM(ca) OVER wa AS na, SUM(cb) OVER wa AS nb,
         CAST(SUM(ca * CAST(v AS DECIMAL(19,6))) OVER wa AS DOUBLE) AS tsa,
         CAST(SUM(cb * CAST(v AS DECIMAL(19,6))) OVER wa AS DOUBLE) AS tsb
  FROM cells
  WINDOW w AS (PARTITION BY k ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wa AS (PARTITION BY k)
),
terms AS (
  SELECT k, na, nb,
         CAST(cb AS DOUBLE)
           * ((CAST(cca AS DOUBLE) * v - csa)
              + ((tsa - csa) - CAST(na - cca AS DOUBLE) * v)) AS x_t,
         CAST(ca AS DOUBLE)
           * ((CAST(cca AS DOUBLE) * v - csa)
              + ((tsa - csa) - CAST(na - cca AS DOUBLE) * v)) AS a_t,
         CAST(cb AS DOUBLE)
           * ((CAST(ccb AS DOUBLE) * v - csb)
              + ((tsb - csb) - CAST(nb - ccb AS DOUBLE) * v)) AS b_t
  FROM staged
),
agg AS (
  SELECT k, MAX(na) AS ta, MAX(nb) AS tb,
         CAST(SUM(CAST(x_t AS DECIMAL(19,6))) AS DOUBLE) AS xs,
         CAST(SUM(CAST(a_t AS DECIMAL(19,6))) AS DOUBLE) AS was,
         CAST(SUM(CAST(b_t AS DECIMAL(19,6))) AS DOUBLE) AS wbs
  FROM terms GROUP BY k
),
e AS (
  SELECT k, ta, tb,
         ROUND(xs / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)) + 1e-12, 9)
           AS exy,
         ROUND(was / (CAST(ta AS DOUBLE) * CAST(ta AS DOUBLE)) + 1e-12, 9)
           AS exx,
         ROUND(wbs / (CAST(tb AS DOUBLE) * CAST(tb AS DOUBLE)) + 1e-12, 9)
           AS eyy
  FROM agg
),
dd AS (
  SELECT k, ta, tb,
         CASE WHEN ta > 0 AND tb > 0
              THEN GREATEST(2.0 * exy - exx - eyy, 0.0) END AS d2
  FROM e
)
SELECT k AS event_type, CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
       ROUND(d2 + 1e-9, 6) AS energy_d2,
       ROUND(sqrt(d2) + 1e-9, 6) AS energy_d
FROM dd ORDER BY event_type
"""


@golden(
    "energy_dist_value_weekend_by_type",
    ENERGY_ORACLE,
    tags=("timeseries", "drift", "energy", "events"),
)
def energy_dist_value_weekend_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Székely–Rizzo energy distance between each event type's weekend
    and weekday value distributions — the proper-metric member of the
    drift family (D^2 = 2E|X-Y| - E|X-X'| - E|Y-Y'|), computed without
    any pairwise join from pooled sorted cells with exact decimal
    cumulative sums, on the identical weekend split as w1/cvm."""
    from mr_dice_spark.operators.timeseries import energy_distance_2s

    return (
        energy_distance_2s(
            _weekend_rows(spark, sf_dir), "k", "weekend", "v", True
        )
        .withColumnRenamed("k", "event_type")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Kendall's W: do the five event types rank user buckets concordantly?
# ---------------------------------------------------------------------------

KENDALLS_W_ORACLE = """
WITH ev AS (
  SELECT event_type, user_id, value FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
),
scores AS (
  SELECT event_type AS j, user_id % 20 AS i, ROUND(SUM(value) + 1e-9, 6) AS s
  FROM ev GROUP BY 1, 2
),
grid AS (
  SELECT t.j, g.i
  FROM (SELECT DISTINCT event_type AS j FROM ev) t
  CROSS JOIN (SELECT unnest(range(20)) AS i) g
),
panel AS (
  SELECT grid.j, grid.i, COALESCE(sc.s, 0.0) AS s
  FROM grid LEFT JOIN scores sc ON sc.j = grid.j AND sc.i = grid.i
),
shape AS (
  SELECT COUNT(DISTINCT j) AS m, COUNT(DISTINCT i) AS n FROM panel
),
tc AS (SELECT j, s, COUNT(*) AS t FROM panel GROUP BY j, s),
ranked AS (
  SELECT j, s,
         CAST(SUM(t) OVER (PARTITION BY j ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           - t + CAST(t + 1 AS DOUBLE) / 2.0 AS r,
         t * t * t - t AS tt
  FROM tc
),
ri AS (
  SELECT p.i, SUM(rk.r) AS ri
  FROM panel p JOIN ranked rk ON rk.j = p.j AND rk.s = p.s
  GROUP BY p.i
),
agg AS (
  SELECT (SELECT SUM((ri - CAST(m AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 2.0)
                     * (ri - CAST(m AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 2.0))
          FROM ri) AS S,
         CAST((SELECT COALESCE(SUM(tt), 0) FROM ranked) AS DOUBLE) AS T,
         m, n
  FROM shape
)
SELECT CAST(m AS BIGINT) AS m_raters,
       CAST(n AS BIGINT) AS n_items,
       ROUND(S + 1e-9, 6) AS s_stat,
       ROUND(T + 1e-9, 6) AS tie_correction,
       ROUND(CASE WHEN n >= 2
                   AND (CAST(m AS DOUBLE) * m
                        * (CAST(n AS DOUBLE) * n * n - n)
                        - CAST(m AS DOUBLE) * T) > 0
             THEN 12.0 * S
                  / (CAST(m AS DOUBLE) * m
                     * (CAST(n AS DOUBLE) * n * n - n)
                     - CAST(m AS DOUBLE) * T) END + 1e-9, 6) AS w
FROM agg
"""


@golden(
    "kendalls_w_bucket_rank_by_type",
    KENDALLS_W_ORACLE,
    tags=("evaluation", "agreement", "kendalls-w", "events"),
)
def kendalls_w_bucket_rank_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance: do the five event types
    rank the 20 user-id buckets by total value in the same order? The
    ordinal completion of the agreement family (Fleiss/Krippendorff =
    nominal, tau-b = two rankers, W = whole panel). The panel is made
    complete by construction — a types x 20-bucket grid with
    COALESCE(total, 0) — so the operator's ragged-panel fail-fast
    never fires and both engines rank identical quantized scores."""
    from mr_dice_spark.operators.evaluation import kendalls_w

    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    )
    scores = ev.groupBy(
        F.col("event_type"), (F.col("user_id") % 20).alias("item")
    ).agg(_r(F.sum("value"), 6).alias("s"))
    types = ev.select("event_type").distinct()
    items = spark.range(20).select(F.col("id").alias("item"))
    grid = types.crossJoin(F.broadcast(items))
    panel = grid.join(scores, ["event_type", "item"], "left").select(
        "event_type", "item", F.coalesce("s", F.lit(0.0)).alias("s")
    )
    return kendalls_w(panel, "event_type", "item", "s")


# ---------------------------------------------------------------------------
# Qini uplift curve: targeting depth readout on the null even/odd split
# ---------------------------------------------------------------------------

UPLIFT_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         'c' || CAST(user_id % 4 AS VARCHAR) AS g,
         ROUND(SUM(value) + 1e-9, 6) AS s,
         (user_id % 2 = 0) AS t,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY user_id
),
tiled AS (
  SELECT g, t, y,
         NTILE(5) OVER (PARTITION BY g ORDER BY s DESC, user_id ASC) AS tile
  FROM per_user
),
tiles AS (
  SELECT g, tile,
         count_if(t) AS n_treat, count_if(NOT t) AS n_ctrl,
         SUM(CASE WHEN t THEN y ELSE 0 END) AS y_treat,
         SUM(CASE WHEN NOT t THEN y ELSE 0 END) AS y_ctrl
  FROM tiled GROUP BY g, tile
),
cum AS (
  SELECT g, tile, n_treat, n_ctrl, y_treat, y_ctrl,
         CAST(SUM(n_treat) OVER wc AS DOUBLE) AS ntc,
         CAST(SUM(n_ctrl) OVER wc AS DOUBLE) AS ncc,
         CAST(SUM(y_treat) OVER wc AS DOUBLE) AS ytc,
         CAST(SUM(y_ctrl) OVER wc AS DOUBLE) AS ycc,
         CAST(SUM(n_treat) OVER wa AS DOUBLE) AS nta,
         CAST(SUM(n_ctrl) OVER wa AS DOUBLE) AS nca,
         CAST(SUM(y_treat) OVER wa AS DOUBLE) AS yta,
         CAST(SUM(y_ctrl) OVER wa AS DOUBLE) AS yca
  FROM tiles
  WINDOW wc AS (PARTITION BY g ORDER BY tile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wa AS (PARTITION BY g)
)
SELECT g AS cohort, CAST(tile AS INT) AS tile,
       CAST(n_treat AS BIGINT) AS n_treat, CAST(n_ctrl AS BIGINT) AS n_ctrl,
       CAST(y_treat AS BIGINT) AS y_treat, CAST(y_ctrl AS BIGINT) AS y_ctrl,
       ROUND(CASE WHEN ncc > 0 THEN ytc - ycc * (ntc / ncc) END + 1e-9, 6)
         AS cum_uplift,
       ROUND(CASE WHEN nca > 0 THEN yta - yca * (nta / nca) END
             * ((ntc + ncc) / (nta + nca)) + 1e-9, 6) AS cum_random
FROM cum ORDER BY cohort, tile
"""


@golden(
    "uplift_curve_purchase_by_cohort",
    UPLIFT_ORACLE,
    tags=("evaluation", "uplift", "qini", "experiment", "events"),
)
def uplift_curve_purchase_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cohort Qini uplift curve for the even/odd 'treatment' split
    with total value as the targeting score and purchase as the
    outcome — the incremental-response depth readout beside
    decile_lift's outcome-only gains. The arms are a null split over a
    common process, so the uplift curve should hug the random-targeting
    diagonal — the golden validates the machinery: every quantity is an
    exact integer until the two scaling divisions, and the NTILE cut is
    id-tiebroken on both engines."""
    from mr_dice_spark.operators.evaluation import uplift_curve_by_group

    ev = Catalog(spark, sf_dir).events.where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    units = ev.groupBy("user_id").agg(
        _r(F.sum("value"), 6).alias("s"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    ).select(
        F.concat(F.lit("c"), (F.col("user_id") % 4).cast("string")).alias("cohort"),
        "s",
        (F.col("user_id") % 2 == 0).alias("treated"),
        "converted",
        F.col("user_id"),
    )
    return uplift_curve_by_group(
        units, "cohort", "s", "treated", "converted", "user_id", n_tiles=5
    ).orderBy("cohort", "tile")


# ---------------------------------------------------------------------------
# Round-9 wave: regression diagnostics / whiteness / randomness / tails
# (shared frame: the chow_test daily-bucket contract — per-type daily mean
# value, x = epoch day as double, y nudge-rounded at 6)
# ---------------------------------------------------------------------------

_DAILY_FRAME_SQL = """
ev AS (
  SELECT event_type AS k, ts, value FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
d AS (
  SELECT k, CAST(CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS DOUBLE) AS x,
         ROUND(AVG(value) + 1e-9, 6) AS y
  FROM ev GROUP BY 1, 2
)
"""


def _daily_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    return ev.groupBy(
        F.col("event_type").alias("k"),
        F.floor(F.unix_timestamp("ts") / 86400).cast("double").alias("x"),
    ).agg(_r(F.avg("value"), 6).alias("y"))


DURBIN_WATSON_ORACLE = f"""
WITH {_DAILY_FRAME_SQL},
stats AS (
  -- decimal cancellation (mirrors operators/timeseries.py durbin_watson):
  -- DuckDB's DECIMAL->DOUBLE cast can be 1 ulp off correctly-rounded, and
  -- n*sxy - sx*sy amplifies that ulp ~1e8x (round-10 driver red row). So
  -- form the cancelling differences in exact decimal and cast only the
  -- compact post-cancellation results to double.
  SELECT k, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(COUNT(*) AS DECIMAL(6,0)) AS n_dec,
         CAST(SUM(CAST(x AS DECIMAL(14,4))) AS DECIMAL(16,4)) AS sx_dec,
         CAST(SUM(CAST(y AS DECIMAL(16,6))) AS DECIMAL(21,6)) AS sy_dec,
         CAST(SUM(CAST(x AS DECIMAL(19,4)) * CAST(x AS DECIMAL(14,4)))
              AS DECIMAL(26,8)) AS sxx_dec,
         CAST(SUM(CAST(x AS DECIMAL(19,4)) * CAST(y AS DECIMAL(16,6)))
              AS DECIMAL(31,10)) AS sxy_dec
  FROM d GROUP BY k
),
cancelled AS (
  SELECT k, n, CAST(sx_dec AS DOUBLE) AS sx, CAST(sy_dec AS DOUBLE) AS sy,
         -- sx_dec is widened to DECIMAL(19,4) for the square: DuckDB
         -- multiplies two DECIMAL(<=18)s in int64 and overflows; >= 19
         -- digits takes the exact int128 path. Values are unchanged.
         CAST(CAST(n_dec * sxy_dec AS DECIMAL(37,10))
              - CAST(sx_dec * sy_dec AS DECIMAL(37,10)) AS DOUBLE) AS num,
         CAST(n_dec * sxx_dec
              - CAST(sx_dec AS DECIMAL(19,4)) * CAST(sx_dec AS DECIMAL(19,4))
              AS DOUBLE) AS den
  FROM stats
),
coef AS (
  SELECT k, CAST(n AS BIGINT) AS cnt,
         ROUND(CASE WHEN den > 0 THEN num / den END + 1e-12, 9) AS b,
         ROUND(CASE WHEN den > 0
               THEN (sy - (num / den) * sx) / n
               END + 1e-12, 9) AS a
  FROM cancelled
),
resid AS (
  SELECT d.k, d.x, cnt, b, a,
         ROUND(y - (a + b * x) + 1e-12, 9) AS e
  FROM d JOIN coef ON coef.k = d.k
),
diffed AS (
  SELECT k, x, cnt, b, a, e,
         e - LAG(e) OVER (PARTITION BY k ORDER BY x) AS dd
  FROM resid
),
agg AS (
  SELECT k, MAX(cnt) AS n, MAX(b) AS slope, MAX(a) AS icpt,
         CAST(SUM(CAST(e AS DECIMAL(19,9)) * CAST(e AS DECIMAL(19,9)))
              AS DOUBLE) AS sse,
         CAST(SUM(CAST(dd AS DECIMAL(19,9)) * CAST(dd AS DECIMAL(19,9)))
              AS DOUBLE) AS ssd,
         COUNT(*) AS rows_, COUNT(DISTINCT x) AS dx
  FROM diffed GROUP BY k
)
SELECT k AS event_type, CAST(n AS BIGINT) AS n,
       ROUND(slope + 1e-9, 6) AS slope,
       ROUND(icpt + 1e-9, 6) AS intercept,
       ROUND(CASE WHEN n >= 3 AND rows_ = dx AND slope IS NOT NULL
                   AND sse > 0 THEN ssd / sse END + 1e-9, 6) AS dw
FROM agg ORDER BY event_type
"""


@golden(
    "durbin_watson_daily_value_by_type",
    DURBIN_WATSON_ORACLE,
    tags=("timeseries", "durbin-watson", "regression", "events"),
)
def durbin_watson_daily_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson serial-correlation screen on each event type's
    daily mean-value trend residuals — the 'did the line miss
    structure?' companion to chow (known break) and ljung_box
    (multi-lag whiteness) on the same chow_test daily-bucket frame.
    Coefficients pin at 9dp from one power-sum aggregate; residuals pin
    at 9dp before differencing, so DW is one division of identical
    pinned-term sums on both engines."""
    from mr_dice_spark.operators.timeseries import durbin_watson

    out = durbin_watson(_daily_frame(spark, sf_dir), "k", "x", "y")
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")


_LB_LAGS = 7

LJUNG_BOX_ORACLE = f"""
WITH {_DAILY_FRAME_SQL},
means AS (
  SELECT k, COUNT(*) AS n,
         ROUND(CAST(SUM(CAST(y AS DECIMAL(19,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) + 1e-12, 9) AS m,
         COUNT(DISTINCT x) AS dx
  FROM d GROUP BY k
),
dev AS (
  SELECT d.k, d.x, n, dx, ROUND(y - m + 1e-12, 9) AS dd
  FROM d JOIN means ON means.k = d.k
),
lagged AS (
  SELECT k, n, dx, dd,
         {", ".join(f"LAG(dd, {h}) OVER (PARTITION BY k ORDER BY x) AS d{h}" for h in range(1, _LB_LAGS + 1))}
  FROM dev
),
pk AS (
  SELECT k, MAX(n) AS cnt, MAX(dx) AS dxc, COUNT(*) AS rows_,
         CAST(SUM(CAST(dd AS DECIMAL(19,9)) * CAST(dd AS DECIMAL(19,9)))
              AS DOUBLE) AS ss,
         {", ".join(f"CAST(SUM(CAST(dd AS DECIMAL(19,9)) * CAST(d{h} AS DECIMAL(19,9))) AS DOUBLE) AS c{h}" for h in range(1, _LB_LAGS + 1))}
  FROM lagged GROUP BY k
)
SELECT k AS event_type, CAST(cnt AS BIGINT) AS n,
       CAST({_LB_LAGS} AS BIGINT) AS df_lags,
       ROUND(CASE WHEN cnt > {_LB_LAGS} AND rows_ = dxc AND ss > 0
             THEN CAST(cnt AS DOUBLE) * (CAST(cnt AS DOUBLE) + 2.0)
                  * ({" + ".join(f"(ROUND(c{h} / ss + 1e-12, 9) * ROUND(c{h} / ss + 1e-12, 9)) / CAST(cnt - {h} AS DOUBLE)" for h in range(1, _LB_LAGS + 1))})
             END + 1e-9, 6) AS q_stat
FROM pk ORDER BY event_type
"""


@golden(
    "ljung_box_daily_value_by_type",
    LJUNG_BOX_ORACLE,
    tags=("timeseries", "ljung-box", "whiteness", "events"),
)
def ljung_box_daily_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box Q at 7 lags (one weekly cycle) on each event type's
    daily mean-value series — 'is anything periodic left?' with the
    TEXTBOOK full-denominator acf whose null distribution Q's
    chi-square(7) reading assumes. One key window carries all 7 lag
    columns; each rho pins at 9dp before squaring, so Q is a fixed
    7-term chain on identical operands in both engines."""
    from mr_dice_spark.operators.timeseries import ljung_box

    out = ljung_box(_daily_frame(spark, sf_dir), "k", "x", "y", max_lag=_LB_LAGS)
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")


RUNS_TEST_ORACLE = f"""
WITH {_DAILY_FRAME_SQL},
med AS (
  SELECT k, ROUND(MEDIAN(y) + 1e-12, 9) AS md,
         COUNT(*) AS rows_, COUNT(DISTINCT x) AS dx
  FROM d GROUP BY k
),
signed AS (
  SELECT d.k, d.x, ROUND(y + 1e-12, 9) > md AS up
  FROM d JOIN med ON med.k = d.k
  WHERE ROUND(y + 1e-12, 9) != md
),
marked AS (
  SELECT k, up,
         CASE WHEN LAG(up) OVER w IS NULL OR LAG(up) OVER w != up
              THEN 1 ELSE 0 END AS nr
  FROM signed WINDOW w AS (PARTITION BY k ORDER BY x)
),
g AS (
  SELECT k, count_if(up) AS n1, count_if(NOT up) AS n2, SUM(nr) AS r
  FROM marked GROUP BY k
),
o AS (
  SELECT med.k, COALESCE(n1, 0) AS n1, COALESCE(n2, 0) AS n2,
         COALESCE(r, 0) AS r, rows_, dx
  FROM med LEFT JOIN g ON g.k = med.k
)
SELECT k AS event_type,
       CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
       CAST(r AS BIGINT) AS runs,
       ROUND(CASE WHEN n1 > 0 AND n2 > 0
                   AND CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) > 2
                   AND 2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                       * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                          - (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
                       / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                          * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                          * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) - 1.0)) > 0
                   AND rows_ = dx
             THEN (CAST(r AS DOUBLE)
                   - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                      / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0))
                  / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                         * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                            - (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
                         / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                            * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                            * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) - 1.0)))
             END + 1e-9, 6) AS z
FROM o ORDER BY event_type
"""


@golden(
    "runs_test_daily_value_by_type",
    RUNS_TEST_ORACLE,
    tags=("timeseries", "runs-test", "randomness", "events"),
)
def runs_test_daily_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test around each event type's own daily
    median — the distribution-free clustering/oscillation tripwire (a
    stuck pipeline writing one value for days shows up as too few runs
    long before a mean shifts). Median pins at 9dp; R, n1, n2 are exact
    integers; z is a fixed IEEE chain on integers."""
    from mr_dice_spark.operators.timeseries import runs_test

    out = runs_test(_daily_frame(spark, sf_dir), "k", "x", "y")
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")


GUMBEL_ORACLE = """
WITH ev AS (
  SELECT event_type AS k,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS b,
         CAST(value AS DOUBLE) AS v
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
mx AS (SELECT k, b, MAX(v) AS m FROM ev GROUP BY k, b),
agg AS (
  -- decimal cancellation (mirrors operators/timeseries.py
  -- gumbel_block_maxima): n*s2 - s1^2 in exact decimal; only the
  -- compact post-cancellation numerator casts to double.
  SELECT k, COUNT(*) AS n,
         CAST(SUM(CAST(m AS DECIMAL(16,6))) AS DECIMAL(18,6)) AS s1_dec,
         CAST(SUM(CAST(m AS DECIMAL(19,6)) * CAST(m AS DECIMAL(16,6)))
              AS DECIMAL(31,12)) AS s2_dec
  FROM mx GROUP BY k
),
fit AS (
  SELECT k, n,
         ROUND(sqrt(greatest(
           CAST(CAST(CAST(n AS DECIMAL(6,0)) * s2_dec AS DECIMAL(37,12))
                - CAST(CAST(s1_dec AS DECIMAL(19,6))
                       * CAST(s1_dec AS DECIMAL(19,6))
                       AS DECIMAL(37,12)) AS DOUBLE)
           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 0.0))
               + 1e-12, 9) AS sd,
         ROUND(CAST(s1_dec AS DOUBLE) / CAST(n AS DOUBLE) + 1e-12, 9) AS mean
  FROM agg
)
SELECT k AS event_type, CAST(n AS BIGINT) AS n_blocks,
       ROUND(CASE WHEN n >= 2
             THEN mean - 0.5772156649015329 * (sd * 0.779696801233676)
             END + 1e-9, 6) AS gumbel_loc,
       ROUND(CASE WHEN n >= 2 THEN sd * 0.779696801233676 END + 1e-9, 6)
         AS gumbel_scale,
       ROUND(CASE WHEN n >= 2
             THEN (mean - 0.5772156649015329 * (sd * 0.779696801233676))
                  - (sd * 0.779696801233676) * (-4.600149226776579)
             END + 1e-9, 6) AS ret_level
FROM fit ORDER BY event_type
"""


@golden(
    "gumbel_daily_max_value_by_type",
    GUMBEL_ORACLE,
    tags=("timeseries", "gumbel", "extremes", "events"),
)
def gumbel_daily_max_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel EV-I fit to each event type's DAILY MAXIMUM value with the
    100-day return level — the tail budget ('what single-event spike
    should one quarter's p99.9 planning assume?') that body percentiles
    cannot extrapolate. Method-of-moments on the day-blocked maxima;
    mean/sd pin at 9dp and the sqrt(6)/pi, Euler-gamma, and
    log(-log(0.99)) constants are embedded as shortest-round-trip
    literals so both engines chain identical doubles."""
    from mr_dice_spark.operators.timeseries import gumbel_block_maxima

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("k"),
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("b"),
        F.col("value").cast("double").alias("v"),
    )
    out = gumbel_block_maxima(ev, "k", "b", "v", return_period=100)
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")


HELLINGER_TVD_ORACLE = """
WITH base AS (
  SELECT event_type AS k,
         ((CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) % 7) IN (2, 3) AS a,
         CAST(FLOOR(CAST(value AS DOUBLE) / 100.0) AS BIGINT) AS b
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
cells AS (
  SELECT k, b, count_if(a) AS ca, count_if(NOT a) AS cb
  FROM base GROUP BY k, b
),
staged AS (
  SELECT k, ca, cb,
         SUM(ca) OVER (PARTITION BY k) AS na,
         SUM(cb) OVER (PARTITION BY k) AS nb
  FROM cells
),
terms AS (
  SELECT k, na, nb,
         ROUND(sqrt((CAST(ca AS DOUBLE) / na) * (CAST(cb AS DOUBLE) / nb))
               + 1e-12, 9) AS bc,
         ROUND(abs(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
               + 1e-12, 9) AS l1
  FROM staged
),
agg AS (
  SELECT k, MAX(na) AS ta, MAX(nb) AS tb,
         CAST(SUM(CAST(bc AS DECIMAL(19,9))) AS DOUBLE) AS bcs,
         CAST(SUM(CAST(l1 AS DECIMAL(19,9))) AS DOUBLE) AS l1s
  FROM terms GROUP BY k
)
SELECT k AS event_type,
       CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
       ROUND(CASE WHEN ta > 0 AND tb > 0
             THEN sqrt(greatest(0.0, 1.0 - bcs)) END + 1e-9, 6) AS hellinger,
       ROUND(CASE WHEN ta > 0 AND tb > 0 THEN 0.5 * l1s END + 1e-9, 6) AS tvd
FROM agg ORDER BY event_type
"""


@golden(
    "hellinger_tvd_weekend_value_bands",
    HELLINGER_TVD_ORACLE,
    tags=("timeseries", "drift", "hellinger", "tvd", "events"),
)
def hellinger_tvd_weekend_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger + total-variation distance between each event type's
    weekend and weekday value-BAND distributions (100-unit bands, the
    same weekend split as the W1/effect-size goldens) — the bounded
    drift metrics with no smoothing constant: TVD reads directly as
    'the best detector's advantage', Hellinger amplifies mass moving
    into near-empty bands. Counts are exact integers; per-band terms
    pin at 9dp before the closing sums."""
    from mr_dice_spark.operators.timeseries import hellinger_tvd_from_buckets

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("k"),
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7).isin(2, 3)
        .alias("weekend"),
        F.floor(F.col("value").cast("double") / 100.0).cast("long").alias("band"),
    )
    out = hellinger_tvd_from_buckets(ev, "k", "weekend", "band", True)
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")


FRIEDMAN_ORACLE = """
WITH ev AS (
  SELECT event_type, (CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) % 7 AS wd,
         value
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
scores AS (
  SELECT wd AS b, event_type AS t, ROUND(SUM(value) + 1e-9, 6) AS s
  FROM ev GROUP BY 1, 2
),
grid AS (
  SELECT w.b, ty.t
  FROM (SELECT unnest(range(7)) AS b) w
  CROSS JOIN (SELECT DISTINCT event_type AS t FROM ev) ty
),
panel AS (
  SELECT grid.b, grid.t, COALESCE(sc.s, 0.0) AS s
  FROM grid LEFT JOIN scores sc ON sc.b = grid.b AND sc.t = grid.t
),
shape AS (
  SELECT COUNT(DISTINCT b) AS n, COUNT(DISTINCT t) AS k FROM panel
),
tc AS (SELECT b, s, COUNT(*) AS tn FROM panel GROUP BY b, s),
ranked AS (
  SELECT b, s,
         CAST(SUM(tn) OVER (PARTITION BY b ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           - tn + CAST(tn + 1 AS DOUBLE) / 2.0 AS r,
         tn * tn * tn - tn AS tt
  FROM tc
),
rj AS (
  SELECT p.t, SUM(rk.r) AS rj
  FROM panel p JOIN ranked rk ON rk.b = p.b AND rk.s = p.s
  GROUP BY p.t
),
agg AS (
  SELECT (SELECT SUM((rj - CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0) / 2.0)
                     * (rj - CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0) / 2.0))
          FROM rj) AS S,
         CAST((SELECT COALESCE(SUM(tt), 0) FROM ranked) AS DOUBLE) AS T,
         n, k
  FROM shape
)
SELECT CAST(n AS BIGINT) AS n_blocks,
       CAST(k AS BIGINT) AS k_treatments,
       ROUND(S + 1e-9, 6) AS s_stat,
       ROUND(T + 1e-9, 6) AS tie_correction,
       ROUND(CASE WHEN k >= 2
                   AND 1.0 - T / (CAST(n AS DOUBLE) * k
                                  * (CAST(k AS DOUBLE) * k - 1.0)) > 0
             THEN (12.0 * S / (CAST(n AS DOUBLE) * k * (CAST(k AS DOUBLE) + 1.0)))
                  / (1.0 - T / (CAST(n AS DOUBLE) * k
                                * (CAST(k AS DOUBLE) * k - 1.0)))
             END + 1e-9, 6) AS chi2_r,
       CAST(k - 1 AS BIGINT) AS df
FROM agg
"""


@golden(
    "friedman_weekday_value_by_type",
    FRIEDMAN_ORACLE,
    tags=("evaluation", "friedman", "rank-test", "events"),
)
def friedman_weekday_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman repeated-measures rank test: across the 7 weekdays
    (blocks), do the event types (treatments) keep the same value-total
    ordering, or does some type spike on specific days? The
    hypothesis-test companion to Kendall's W on a weekday panel made
    complete by construction (7 x types grid, COALESCE 0) so the
    ragged-panel fail-fast never fires. Midranks from tie-collapsed
    cells; S and T exact; chi2_r one pinned chain."""
    from mr_dice_spark.operators.evaluation import friedman_test

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    scores = ev.groupBy(
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7).alias("b"),
        F.col("event_type").alias("t"),
    ).agg(_r(F.sum("value"), 6).alias("s"))
    days = spark.range(7).select(F.col("id").alias("b"))
    types = ev.select(F.col("event_type").alias("t")).distinct()
    grid = days.crossJoin(types)
    panel = grid.join(scores, ["b", "t"], "left").select(
        "b", "t", F.coalesce("s", F.lit(0.0)).alias("s")
    )
    return friedman_test(panel, "b", "t", "s")


ICC_ORACLE = """
WITH ev AS (
  SELECT event_type, user_id, value FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
),
scores AS (
  SELECT event_type AS j, user_id % 15 AS i, ROUND(SUM(value) + 1e-9, 6) AS s
  FROM ev GROUP BY 1, 2
),
grid AS (
  SELECT t.j, g.i
  FROM (SELECT DISTINCT event_type AS j FROM ev) t
  CROSS JOIN (SELECT unnest(range(15)) AS i) g
),
panel AS (
  SELECT grid.j, grid.i, COALESCE(sc.s, 0.0) AS s
  FROM grid LEFT JOIN scores sc ON sc.j = grid.j AND sc.i = grid.i
),
shape AS (
  SELECT COUNT(DISTINCT j) AS k, COUNT(DISTINCT i) AS n FROM panel
),
grand AS (
  SELECT ROUND(CAST(SUM(CAST(s AS DECIMAL(19,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) + 1e-12, 9) AS g
  FROM panel
),
im AS (
  SELECT i, ROUND(CAST(SUM(CAST(s AS DECIMAL(19,6))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) + 1e-12, 9) AS m
  FROM panel GROUP BY i
),
jm AS (
  SELECT j, ROUND(CAST(SUM(CAST(s AS DECIMAL(19,6))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) + 1e-12, 9) AS m
  FROM panel GROUP BY j
),
ssr AS (
  SELECT ROUND(CAST((SELECT k FROM shape) AS DOUBLE)
               * CAST(SUM(CAST(m - (SELECT g FROM grand) AS DECIMAL(19,9))
                          * CAST(m - (SELECT g FROM grand) AS DECIMAL(19,9)))
                      AS DOUBLE)
               + 1e-12, 9) AS v
  FROM im
),
ssc AS (
  SELECT ROUND(CAST((SELECT n FROM shape) AS DOUBLE)
               * CAST(SUM(CAST(m - (SELECT g FROM grand) AS DECIMAL(19,9))
                          * CAST(m - (SELECT g FROM grand) AS DECIMAL(19,9)))
                      AS DOUBLE)
               + 1e-12, 9) AS v
  FROM jm
),
sst AS (
  SELECT ROUND(CAST(SUM(CAST(s - (SELECT g FROM grand) AS DECIMAL(19,9))
                        * CAST(s - (SELECT g FROM grand) AS DECIMAL(19,9)))
                    AS DOUBLE)
               + 1e-12, 9) AS v
  FROM panel
),
ms AS (
  -- degenerate panels (n < 2 or k < 2) have no between/error df: NULL
  -- the mean squares exactly as icc_two_way's fail-closed guard does,
  -- so the pair stays semantically aligned if the panel shape changes
  SELECT shape.n, shape.k,
         CASE WHEN shape.n >= 2 AND shape.k >= 2
              THEN ssr.v / (CAST(shape.n AS DOUBLE) - 1.0) END AS msr,
         CASE WHEN shape.n >= 2 AND shape.k >= 2
              THEN ssc.v / (CAST(shape.k AS DOUBLE) - 1.0) END AS msc,
         CASE WHEN shape.n >= 2 AND shape.k >= 2
              THEN (sst.v - ssr.v - ssc.v)
                   / ((CAST(shape.n AS DOUBLE) - 1.0)
                      * (CAST(shape.k AS DOUBLE) - 1.0)) END AS mse
  FROM shape, ssr, ssc, sst
)
SELECT CAST(n AS BIGINT) AS n_items, CAST(k AS BIGINT) AS k_raters,
       ROUND(msr + 1e-9, 6) AS ms_rows,
       ROUND(msc + 1e-9, 6) AS ms_cols,
       ROUND(mse + 1e-9, 6) AS ms_err,
       ROUND(CASE WHEN msr + (CAST(k AS DOUBLE) - 1.0) * mse
                       + CAST(k AS DOUBLE) * (msc - mse) / CAST(n AS DOUBLE)
                       != 0
             THEN (msr - mse)
                  / (msr + (CAST(k AS DOUBLE) - 1.0) * mse
                     + CAST(k AS DOUBLE) * (msc - mse) / CAST(n AS DOUBLE))
             END + 1e-9, 6) AS icc2_1,
       ROUND(CASE WHEN msr + (CAST(k AS DOUBLE) - 1.0) * mse != 0
             THEN (msr - mse) / (msr + (CAST(k AS DOUBLE) - 1.0) * mse)
             END + 1e-9, 6) AS icc3_1
FROM ms
"""


@golden(
    "icc_user_bucket_value_by_type",
    ICC_ORACLE,
    tags=("evaluation", "icc", "agreement", "events"),
)
def icc_user_bucket_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICC(2,1) and ICC(3,1) treating the event types as raters scoring
    the 15 user-id buckets with total value — the continuous-score
    agreement readout next to Kendall's W's rank version, on the same
    grid-completed panel recipe; the ICC(2,1)-vs-(3,1) gap isolates
    pure between-type calibration offset. Means pin at 9dp; the three
    SS pin at 9dp; the ICC chains round at 6."""
    from mr_dice_spark.operators.evaluation import icc_two_way

    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    )
    scores = ev.groupBy(
        F.col("event_type").alias("j"), (F.col("user_id") % 15).alias("i")
    ).agg(_r(F.sum("value"), 6).alias("s"))
    types = ev.select(F.col("event_type").alias("j")).distinct()
    items = spark.range(15).select(F.col("id").alias("i"))
    grid = types.crossJoin(F.broadcast(items))
    panel = grid.join(scores, ["j", "i"], "left").select(
        "j", "i", F.coalesce("s", F.lit(0.0)).alias("s")
    )
    return icc_two_way(panel, "j", "i", "s")


LINS_CCC_ORACLE = """
WITH ev AS (
  SELECT event_type AS k, user_id,
         (CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) % 2 AS par,
         value
  FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    AND ts IS NOT NULL AND value IS NOT NULL
),
pairs AS (
  SELECT k, user_id,
         ROUND(SUM(CASE WHEN par = 0 THEN value ELSE 0.0 END) + 1e-9, 6) AS x,
         ROUND(SUM(CASE WHEN par = 1 THEN value ELSE 0.0 END) + 1e-9, 6) AS y
  FROM ev GROUP BY k, user_id
),
agg AS (
  -- decimal cancellation (mirrors operators/evaluation.py lins_ccc):
  -- n*sxy - sx*sy etc. in exact decimal; population moments are the
  -- exact numerators over n^2 after the single cast to double.
  SELECT k, COUNT(*) AS n,
         CAST(COUNT(*) AS DECIMAL(6,0)) AS n_dec,
         CAST(SUM(CAST(x AS DECIMAL(16,6))) AS DECIMAL(18,6)) AS sx_dec,
         CAST(SUM(CAST(y AS DECIMAL(16,6))) AS DECIMAL(18,6)) AS sy_dec,
         CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(16,6)))
              AS DECIMAL(31,12)) AS sxx_dec,
         CAST(SUM(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(16,6)))
              AS DECIMAL(31,12)) AS syy_dec,
         CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(16,6)))
              AS DECIMAL(31,12)) AS sxy_dec
  FROM pairs GROUP BY k
),
mo AS (
  SELECT k, n,
         ROUND(CAST(sx_dec AS DOUBLE) / CAST(n AS DOUBLE) + 1e-12, 9) AS mx,
         ROUND(CAST(sy_dec AS DOUBLE) / CAST(n AS DOUBLE) + 1e-12, 9) AS my,
         CAST(CAST(n_dec * sxy_dec AS DECIMAL(37,12))
              - CAST(CAST(sx_dec AS DECIMAL(19,6))
                     * CAST(sy_dec AS DECIMAL(19,6))
                     AS DECIMAL(37,12)) AS DOUBLE) AS covn,
         CAST(CAST(n_dec * sxx_dec AS DECIMAL(37,12))
              - CAST(CAST(sx_dec AS DECIMAL(19,6))
                     * CAST(sx_dec AS DECIMAL(19,6))
                     AS DECIMAL(37,12)) AS DOUBLE) AS vxn,
         CAST(CAST(n_dec * syy_dec AS DECIMAL(37,12))
              - CAST(CAST(sy_dec AS DECIMAL(19,6))
                     * CAST(sy_dec AS DECIMAL(19,6))
                     AS DECIMAL(37,12)) AS DOUBLE) AS vyn
  FROM agg
),
pin AS (
  SELECT k, n, mx, my,
         ROUND(covn / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) + 1e-12, 9)
           AS cov,
         ROUND(vxn / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) + 1e-12, 9)
           AS vx,
         ROUND(vyn / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) + 1e-12, 9)
           AS vy
  FROM mo
)
SELECT k AS event_type, CAST(n AS BIGINT) AS n,
       ROUND(CASE WHEN n >= 2 AND vx > 0 AND vy > 0
             THEN cov / sqrt(vx * vy) END + 1e-9, 6) AS pearson_r,
       ROUND(CASE WHEN n >= 2 AND vx + vy + (mx - my) * (mx - my) > 0
             THEN 2.0 * cov / (vx + vy + (mx - my) * (mx - my))
             END + 1e-9, 6) AS ccc
FROM pin ORDER BY event_type
"""


@golden(
    "lins_ccc_even_odd_days_by_type",
    LINS_CCC_ORACLE,
    tags=("evaluation", "ccc", "agreement", "events"),
)
def lins_ccc_even_odd_days_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance between each user's even-day and odd-day value
    totals, per event type — split-half reproducibility ON THE 45-degree
    LINE: Pearson would reward a type whose odd days are a scaled clone
    of its even days; CCC charges that calibration gap, which is the
    right reading for 'is one half of the data a faithful stand-in for
    the other'. Per-user pairs are complete by construction (CASE sums
    with 0 default); one moment-sketch aggregate per type."""
    from mr_dice_spark.operators.evaluation import lins_ccc

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("k"),
        F.col("user_id"),
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 2).alias("par"),
        F.col("value"),
    )
    pairs = ev.groupBy("k", "user_id").agg(
        _r(F.sum(F.when(F.col("par") == 0, F.col("value")).otherwise(0.0)), 6)
        .alias("x"),
        _r(F.sum(F.when(F.col("par") == 1, F.col("value")).otherwise(0.0)), 6)
        .alias("y"),
    )
    out = lins_ccc(pairs, "k", "x", "y")
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")


LORENZ_ORACLE = """
WITH base AS (
  SELECT event_type AS g, event_id AS i, CAST(value AS DOUBLE) AS x
  FROM events
  WHERE event_type IS NOT NULL AND value IS NOT NULL AND value >= 0
    AND event_id IS NOT NULL
),
tiled AS (
  SELECT g, x, NTILE(10) OVER (PARTITION BY g ORDER BY x, i) AS t
  FROM base
),
pt AS (SELECT g, t, COUNT(*) AS n,
              SUM(CAST(x AS DECIMAL(19,6))) AS s FROM tiled GROUP BY g, t),
staged AS (
  SELECT g, t, n,
         SUM(n) OVER wc AS cn, SUM(s) OVER wc AS cs,
         SUM(n) OVER wa AS tn, SUM(s) OVER wa AS ts
  FROM pt
  WINDOW wc AS (PARTITION BY g ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wa AS (PARTITION BY g)
)
SELECT g AS event_type, CAST(t AS BIGINT) AS tile, CAST(n AS BIGINT) AS n,
       ROUND(CAST(cn AS DOUBLE) / tn + 1e-9, 6) AS cum_pop_share,
       ROUND(CASE WHEN ts > 0
             THEN CAST(cs AS DOUBLE) / CAST(ts AS DOUBLE)
             END + 1e-9, 6) AS cum_value_share
FROM staged ORDER BY event_type, tile
"""


@golden(
    "lorenz_value_deciles_by_type",
    LORENZ_ORACLE,
    tags=("profile", "lorenz", "concentration", "events"),
)
def lorenz_value_deciles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at deciles of each event type's value mass — the
    curve behind gini_value_concentration's single number ('the bottom
    70% of events carry 22% of the value'), ranked by (value, event_id)
    so the NTILE permutation is pinned cross-engine. Counts and sums
    exact; shares single divisions rounded at 6."""
    from mr_dice_spark.operators.profile import lorenz_curve

    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & (F.col("value") >= 0)
        & F.col("event_id").isNotNull()
    )
    out = lorenz_curve(ev, "event_type", "value", "event_id", n_points=10)
    return out.orderBy("event_type", "tile")


OLS_INFLUENCE_ORACLE = f"""
WITH {_DAILY_FRAME_SQL},
stats AS (
  -- decimal cancellation (mirrors operators/timeseries.py ols_influence
  -- and the durbin_watson fix): form n*sxy - sx*sy and n*sxx - sx*sx in
  -- exact decimal, cast only the post-cancellation results to double.
  SELECT k, COUNT(*) AS n,
         CAST(COUNT(*) AS DECIMAL(6,0)) AS n_dec,
         CAST(SUM(CAST(x AS DECIMAL(14,4))) AS DECIMAL(16,4)) AS sx_dec,
         CAST(SUM(CAST(y AS DECIMAL(16,6))) AS DECIMAL(21,6)) AS sy_dec,
         CAST(SUM(CAST(x AS DECIMAL(19,4)) * CAST(x AS DECIMAL(14,4)))
              AS DECIMAL(26,8)) AS sxx_dec,
         CAST(SUM(CAST(x AS DECIMAL(19,4)) * CAST(y AS DECIMAL(16,6)))
              AS DECIMAL(31,10)) AS sxy_dec,
         COUNT(DISTINCT x) AS dx
  FROM d GROUP BY k
),
cancelled AS (
  SELECT k, n, dx,
         CAST(sx_dec AS DOUBLE) AS sx, CAST(sy_dec AS DOUBLE) AS sy,
         CAST(CAST(n_dec * sxy_dec AS DECIMAL(37,10))
              - CAST(sx_dec * sy_dec AS DECIMAL(37,10)) AS DOUBLE) AS num,
         CAST(n_dec * sxx_dec
              - CAST(sx_dec AS DECIMAL(19,4)) * CAST(sx_dec AS DECIMAL(19,4))
              AS DOUBLE) AS den
  FROM stats
),
coef AS (
  SELECT k, n AS cnt,
         ROUND(sx / CAST(n AS DOUBLE) + 1e-12, 9) AS xbar,
         ROUND(den / CAST(n AS DOUBLE) + 1e-12, 9) AS sxx,
         ROUND(num / den + 1e-12, 9) AS b,
         ROUND((sy - (num / den) * sx) / CAST(n AS DOUBLE) + 1e-12, 9) AS a
  FROM cancelled
  WHERE n >= 4 AND n = dx AND den > 0
),
resid AS (
  SELECT d.k, d.x, d.y, cnt, xbar, sxx,
         ROUND(y - (a + b * x) + 1e-12, 9) AS e
  FROM d JOIN coef ON coef.k = d.k
),
sse AS (
  SELECT k,
         ROUND(CAST(SUM(CAST(e AS DECIMAL(19,9)) * CAST(e AS DECIMAL(19,9)))
                    AS DOUBLE) + 1e-12, 9) AS sse
  FROM resid GROUP BY k
),
joined AS (
  SELECT r.*, sse.sse FROM resid r JOIN sse ON sse.k = r.k
  WHERE sse.sse > 0
),
hr AS (
  SELECT k, x, y,
         1.0 / CAST(cnt AS DOUBLE) + ((x - xbar) * (x - xbar)) / sxx AS h,
         ROUND(e / (ROUND(sqrt(sse / (CAST(cnt AS DOUBLE) - 2.0)) + 1e-12, 9)
                    * sqrt(1.0 - (1.0 / CAST(cnt AS DOUBLE)
                                  + ((x - xbar) * (x - xbar)) / sxx)))
               + 1e-12, 9) AS rp
  FROM joined
),
scored AS (
  SELECT k, x, y,
         ROUND(h + 1e-9, 6) AS leverage,
         ROUND(rp + 1e-9, 6) AS std_resid,
         ROUND(rp * rp * h / (2.0 * (1.0 - h)) + 1e-12, 9) AS dscore
  FROM hr
),
ranked AS (
  SELECT k, x, y, leverage, std_resid, dscore,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY dscore DESC, x) AS rn
  FROM scored
)
SELECT k AS event_type, x, y, leverage, std_resid,
       ROUND(dscore + 1e-9, 6) AS cooks_d
FROM ranked WHERE rn <= 3 ORDER BY event_type, cooks_d DESC, x
"""


@golden(
    "ols_influence_daily_value_by_type",
    OLS_INFLUENCE_ORACLE,
    tags=("timeseries", "cooks-d", "influence", "events"),
)
def ols_influence_daily_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3 most influential days (Cook's D) in each event type's
    daily mean-value trend — WHICH days bend the fitted line, the
    point-level complement to chow (break test) and durbin_watson
    (residual screen) on the same daily frame. Coefficients, residuals,
    s, and D all pin at 9dp before the rank so both engines agree on
    the top-3 cut."""
    from mr_dice_spark.operators.timeseries import ols_influence

    out = ols_influence(_daily_frame(spark, sf_dir), "k", "x", "y", top_k=3)
    return out.withColumnRenamed("k", "event_type").orderBy(
        "event_type", F.desc("cooks_d"), "x"
    )


# ---------------------------------------------------------------------------
# Grubbs: the single-outlier screen on the same daily frame (round 10).
# ---------------------------------------------------------------------------

GRUBBS_ORACLE = f"""
WITH {_DAILY_FRAME_SQL},
stats AS (
  -- decimal cancellation (mirrors operators/anova.py grubbs_max_deviate):
  -- n*s2 - s1^2 in exact decimal; only the compact result casts to double.
  SELECT k, COUNT(*) AS n,
         CAST(SUM(CAST(y AS DECIMAL(16,6))) AS DECIMAL(18,6)) AS s1_dec,
         CAST(SUM(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(16,6)))
              AS DECIMAL(31,12)) AS s2_dec
  FROM d GROUP BY k
),
m AS (
  SELECT k, n,
         ROUND(CAST(s1_dec AS DOUBLE) / CAST(n AS DOUBLE) + 1e-12, 9) AS mean,
         CASE WHEN n >= 2
              THEN ROUND(
                CAST(CAST(CAST(n AS DECIMAL(6,0)) * s2_dec AS DECIMAL(37,12))
                     - CAST(CAST(s1_dec AS DECIMAL(19,6))
                            * CAST(s1_dec AS DECIMAL(19,6))
                            AS DECIMAL(37,12)) AS DOUBLE)
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) + 1e-12, 9)
              END AS var
  FROM stats
),
scored AS (
  SELECT d.k, d.y, m.n, m.mean,
         ROUND(sqrt(m.var) + 1e-12, 9) AS sd,
         CASE WHEN m.n >= 3 AND m.var > 0
              THEN ROUND(ABS(d.y - m.mean)
                         / ROUND(sqrt(m.var) + 1e-12, 9) + 1e-12, 9)
              END AS z
  FROM d JOIN m ON m.k = d.k
),
ranked AS (
  SELECT k, n, mean, sd, y, z,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY z DESC, y ASC) AS rn
  FROM scored
)
SELECT k AS event_type, CAST(n AS BIGINT) AS n,
       ROUND(CASE WHEN z IS NOT NULL THEN mean END + 1e-9, 6) AS mean,
       ROUND(CASE WHEN z IS NOT NULL THEN sd END + 1e-9, 6) AS sd,
       CASE WHEN z IS NOT NULL THEN y END AS outlier_value,
       ROUND(z + 1e-9, 6) AS grubbs_g
FROM ranked WHERE rn = 1 ORDER BY event_type
"""


@golden(
    "grubbs_daily_value_by_type",
    GRUBBS_ORACLE,
    tags=("timeseries", "grubbs", "outlier", "events"),
)
def grubbs_daily_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs max-studentized-deviate screen on each event type's daily
    mean values — WHICH single day is least plausible under normality,
    the test-shaped complement to mad_outlier_flags (robust, flags
    all) and ols_influence (regression-relative) on the same daily
    frame. Decimal power sums; mean/sd/z pinned at 9dp before the
    deterministic (z DESC, value ASC) pick."""
    from mr_dice_spark.operators.anova import grubbs_max_deviate

    out = grubbs_max_deviate(_daily_frame(spark, sf_dir), "k", "y")
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")


# ---------------------------------------------------------------------------
# PACF through lag 3 on the daily frame; Hurst R/S on an hourly frame
# (round 10).
# ---------------------------------------------------------------------------

PACF_ORACLE = f"""
WITH {_DAILY_FRAME_SQL},
st AS (
  SELECT k, COUNT(*) AS n,
         ROUND(CAST(SUM(CAST(y AS DECIMAL(19,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) + 1e-12, 9) AS vbar
  FROM d GROUP BY k
),
dev AS (
  SELECT d.k, d.x, st.n, ROUND(d.y - st.vbar + 1e-12, 9) AS dv
  FROM d JOIN st ON st.k = d.k
),
lagged AS (
  SELECT k, n, dv,
         LAG(dv, 1) OVER w AS d1, LAG(dv, 2) OVER w AS d2,
         LAG(dv, 3) OVER w AS d3,
         CASE WHEN LAG(x) OVER w = x THEN 1 ELSE 0 END AS tie
  FROM dev WINDOW w AS (PARTITION BY k ORDER BY x)
),
pk AS (
  SELECT k, MAX(n) AS n, MAX(tie) AS ties,
         CAST(SUM(CAST(dv AS DECIMAL(18,9)) * CAST(dv AS DECIMAL(18,9)))
              AS DOUBLE) AS ss,
         CAST(SUM(CAST(dv AS DECIMAL(18,9)) * CAST(d1 AS DECIMAL(18,9)))
              AS DOUBLE) AS c1,
         CAST(SUM(CAST(dv AS DECIMAL(18,9)) * CAST(d2 AS DECIMAL(18,9)))
              AS DOUBLE) AS c2,
         CAST(SUM(CAST(dv AS DECIMAL(18,9)) * CAST(d3 AS DECIMAL(18,9)))
              AS DOUBLE) AS c3
  FROM lagged GROUP BY k
),
r AS (
  SELECT k, n,
         CASE WHEN n > 3 AND ties = 0 AND ss > 0
              THEN ROUND(c1 / ss + 1e-12, 9) END AS r1,
         CASE WHEN n > 3 AND ties = 0 AND ss > 0
              THEN ROUND(c2 / ss + 1e-12, 9) END AS r2,
         CASE WHEN n > 3 AND ties = 0 AND ss > 0
              THEN ROUND(c3 / ss + 1e-12, 9) END AS r3
  FROM pk
),
p2t AS (
  SELECT k, n, r1, r2, r3,
         CASE WHEN 1.0 - r1 * r1 != 0
              THEN ROUND((r2 - r1 * r1) / (1.0 - r1 * r1) + 1e-12, 9)
              END AS p2
  FROM r
),
p3t AS (
  SELECT k, n, r1, r2, r3, p2,
         ROUND(r1 - p2 * r1 + 1e-12, 9) AS f21
  FROM p2t
),
wide AS (
  SELECT k, n, r1, r2, r3, r1 AS p1, p2,
         CASE WHEN 1.0 - f21 * r1 - p2 * r2 != 0
              THEN ROUND((r3 - f21 * r2 - p2 * r1)
                         / (1.0 - f21 * r1 - p2 * r2) + 1e-12, 9)
              END AS p3
  FROM p3t
)
SELECT k AS event_type, CAST(n AS BIGINT) AS n, lag,
       ROUND(acf + 1e-9, 6) AS acf, ROUND(pacf + 1e-9, 6) AS pacf
FROM (
  SELECT k, n, CAST(1 AS BIGINT) AS lag, r1 AS acf, p1 AS pacf FROM wide
  UNION ALL
  SELECT k, n, CAST(2 AS BIGINT), r2, p2 FROM wide
  UNION ALL
  SELECT k, n, CAST(3 AS BIGINT), r3, p3 FROM wide
) ORDER BY event_type, lag
"""


@golden(
    "pacf_daily_value_by_type",
    PACF_ORACLE,
    tags=("timeseries", "pacf", "acf", "events"),
)
def pacf_daily_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (with the acf beside it) at lags 1-3 of
    each event type's daily mean values — the AR-order identification
    readout next to ljung_box's whiteness Q on the same daily frame,
    via the Durbin-Levinson recursion unrolled to engine-invariant
    closed forms on 9dp-pinned acf values."""
    from mr_dice_spark.operators.timeseries import pacf_by_lag

    out = pacf_by_lag(_daily_frame(spark, sf_dir), "k", "x", "y")
    return out.withColumnRenamed("k", "event_type").orderBy(
        "event_type", "lag"
    )


_HOURLY_FRAME_SQL = """
ev AS (
  SELECT event_type AS k, ts, value FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
h AS (
  SELECT k, CAST(CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS DOUBLE) AS x,
         ROUND(AVG(value) + 1e-9, 6) AS y
  FROM ev GROUP BY 1, 2
)
"""


def _hourly_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    return ev.groupBy(
        F.col("event_type").alias("k"),
        F.floor(F.unix_timestamp("ts") / 3600).cast("double").alias("x"),
    ).agg(_r(F.avg("value"), 6).alias("y"))


HURST_ORACLE = f"""
WITH {_HOURLY_FRAME_SQL},
idx0 AS (
  SELECT k, y,
         ROW_NUMBER() OVER w - 1 AS i,
         COUNT(*) OVER (PARTITION BY k) AS n,
         CASE WHEN LAG(x) OVER w = x THEN 1 ELSE 0 END AS tie0
  FROM h WINDOW w AS (PARTITION BY k ORDER BY x)
),
idx AS (
  SELECT k, y, i, n, MAX(tie0) OVER (PARTITION BY k) AS ties FROM idx0
),
sized AS (
  SELECT idx.*, sv.s, CAST(FLOOR(i / s) AS BIGINT) AS b
  FROM idx CROSS JOIN (SELECT UNNEST([8, 16, 32, 64]) AS s) sv
),
blk AS (
  SELECT k, n, ties, s, b, i,
         COUNT(*) OVER wb AS m,
         ROUND(CAST(SUM(CAST(y AS DECIMAL(16,6))) OVER wb AS DOUBLE)
               / CAST(COUNT(*) OVER wb AS DOUBLE) + 1e-12, 9) AS mean,
         CAST(SUM(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(16,6)))
              OVER wb AS DOUBLE) AS s2,
         ROW_NUMBER() OVER (PARTITION BY k, s, b ORDER BY i) AS ri,
         CAST(SUM(CAST(y AS DECIMAL(16,6))) OVER wr AS DOUBLE) AS cum
  FROM sized
  WINDOW wb AS (PARTITION BY k, s, b),
         wr AS (PARTITION BY k, s, b ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
devs AS (
  SELECT k, n, ties, s, b, m, ri,
         ROUND(s2 / CAST(m AS DOUBLE) - mean * mean + 1e-12, 9) AS var,
         MAX(ROUND(cum - CAST(ri AS DOUBLE) * mean + 1e-12, 9)) OVER wb
           - MIN(ROUND(cum - CAST(ri AS DOUBLE) * mean + 1e-12, 9)) OVER wb
           AS r
  FROM blk
  WINDOW wb AS (PARTITION BY k, s, b)
),
blocks AS (
  SELECT k, n, ties, s,
         CASE WHEN m = s AND var > 0
              THEN ROUND(r / ROUND(sqrt(var) + 1e-12, 9) + 1e-12, 9)
              END AS rs
  FROM devs WHERE ri = s
),
per_scale AS (
  SELECT k, s, MAX(n) AS n, MAX(ties) AS ties,
         count_if(rs IS NOT NULL) AS nb,
         CAST(SUM(CAST(rs AS DECIMAL(18,9))) AS DOUBLE) AS srs
  FROM blocks GROUP BY k, s
),
pts AS (
  SELECT k, n, ties,
         ROUND(log2(CAST(s AS DOUBLE)) + 1e-12, 9) AS lx,
         CASE WHEN nb > 0
                   AND ROUND(srs / CAST(nb AS DOUBLE) + 1e-12, 9) > 0
              THEN ROUND(log2(ROUND(srs / CAST(nb AS DOUBLE) + 1e-12, 9))
                         + 1e-12, 9) END AS ly
  FROM per_scale
),
fit AS (
  SELECT k, MAX(n) AS cnt, MAX(ties) AS t,
         count_if(ly IS NOT NULL) AS np,
         CAST(SUM(CASE WHEN ly IS NOT NULL
                       THEN CAST(lx AS DECIMAL(18,9)) END) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ly AS DECIMAL(18,9))) AS DOUBLE) AS sy,
         CAST(SUM(CASE WHEN ly IS NOT NULL
                       THEN CAST(lx AS DECIMAL(18,9))
                            * CAST(lx AS DECIMAL(18,9)) END)
              AS DOUBLE) AS sxx,
         CAST(SUM(CASE WHEN ly IS NOT NULL
                       THEN CAST(lx AS DECIMAL(18,9)) END
                  * CAST(ly AS DECIMAL(18,9))) AS DOUBLE) AS sxy
  FROM pts GROUP BY k
)
SELECT k AS event_type, CAST(cnt AS BIGINT) AS n,
       CAST(np AS BIGINT) AS n_scales,
       ROUND(CASE WHEN np >= 2 AND t = 0
                       AND CAST(np AS DOUBLE) * sxx - sx * sx != 0
             THEN (CAST(np AS DOUBLE) * sxy - sx * sy)
                  / (CAST(np AS DOUBLE) * sxx - sx * sx)
             END + 1e-9, 6) AS hurst
FROM fit ORDER BY event_type
"""


@golden(
    "hurst_hourly_value_by_type",
    HURST_ORACLE,
    tags=("timeseries", "hurst", "long-memory", "events"),
)
def hurst_hourly_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent (rescaled-range, block ladder 8/16/32/64) of each
    event type's hourly mean values — the long-memory readout beside
    the acf/pacf/ljung_box family: is the hourly value series
    persistent (H > 0.5), random (~0.5), or mean-reverting (< 0.5)?
    Hourly grid (~720 points per key) gives the block ladder real
    depth where the 30-day daily frame cannot."""
    from mr_dice_spark.operators.timeseries import hurst_rs

    out = hurst_rs(_hourly_frame(spark, sf_dir), "k", "x", "y")
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")


# ---------------------------------------------------------------------------
# Index of dispersion: are daily arrival counts Poisson? (round 10)
# ---------------------------------------------------------------------------

DISPERSION_ORACLE = """
WITH base AS (
  SELECT event_type AS k, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS b
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
),
counts AS (SELECT k, b, COUNT(*) AS c FROM base GROUP BY k, b),
pk AS (
  SELECT k, COUNT(*) AS n, SUM(c) AS s1, SUM(c * c) AS s2
  FROM counts GROUP BY k
),
m AS (
  SELECT k, n, s1,
         ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) + 1e-12, 9) AS mean,
         CASE WHEN n >= 2 THEN
           ROUND((CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1.0) + 1e-12, 9) END AS var
  FROM pk
),
v AS (
  SELECT k, n, s1, mean,
         CASE WHEN n >= 2 AND mean > 0
              THEN ROUND(var / mean + 1e-12, 9) END AS vmr
  FROM m
)
SELECT k AS event_type, CAST(n AS BIGINT) AS n_buckets,
       CAST(s1 AS BIGINT) AS total,
       ROUND(vmr + 1e-9, 6) AS vmr,
       ROUND((CAST(n AS DOUBLE) - 1.0) * vmr + 1e-9, 6) AS chi2,
       CASE WHEN vmr IS NOT NULL THEN CAST(n - 1 AS BIGINT) END AS dof
FROM v ORDER BY event_type
"""


@golden(
    "dispersion_daily_counts_by_type",
    DISPERSION_ORACLE,
    tags=("timeseries", "dispersion", "poisson", "events"),
)
def dispersion_daily_counts_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Variance-to-mean ratio of each event type's DAILY ARRIVAL COUNTS
    — is the traffic Poisson (VMR ~ 1), bursty (> 1), or throttled
    (< 1)? The count-series screen beside the value-series family;
    exact integers end to end until the closing ratio."""
    from mr_dice_spark.operators.timeseries import dispersion_index

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    rows = ev.select(
        F.col("event_type").alias("k"),
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("b"),
    )
    return dispersion_index(rows, "k", "b").withColumnRenamed(
        "k", "event_type"
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Mood scale test: did weekend change the SPREAD of value? (round 10)
# ---------------------------------------------------------------------------

MOOD_SCALE_ORACLE = f"""
WITH {_WEEKEND_BASE_SQL},
cells AS (
  SELECT k, v, COUNT(*) AS t, count_if(a) AS ta FROM base GROUP BY k, v
),
staged AS (
  SELECT k, t, ta,
         COALESCE(SUM(t) OVER (PARTITION BY k ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS clt,
         SUM(t) OVER (PARTITION BY k) AS nn,
         SUM(ta) OVER (PARTITION BY k) AS na
  FROM cells
),
dd AS (
  SELECT k, t, ta, nn, na, (2 * clt + t + 1 - nn - 1) AS d
  FROM staged
),
agg AS (
  SELECT k, MAX(na) AS na, MAX(nn) AS nn,
         SUM(ta * d * d) AS t4,
         SUM(t * d * d) AS s4,
         SUM(CAST(t * d * d AS DECIMAL(19,0))
             * CAST(d * d AS DECIMAL(19,0))) AS s8
  FROM dd GROUP BY k
),
calc AS (
  SELECT k, na, nn,
         CAST(t4 AS DOUBLE) / 4.0 AS t_stat,
         CAST(s4 AS DOUBLE) / 4.0 / CAST(nn AS DOUBLE) AS abar,
         CAST(s8 AS DOUBLE) / 16.0 AS sum_sq
  FROM agg
),
fin AS (
  -- e_t is RAW (mirrors the operator): at large-N score magnitudes
  -- ROUND(double) itself diverges cross-engine (DuckDB's x*10^d path
  -- is lossy past 2^53; Spark rounds exactly through BigDecimal) —
  -- identical raw IEEE chains on exact operands are bit-equal.
  SELECT k, na, nn, t_stat,
         CAST(na AS DOUBLE) * abar AS e_t,
         ROUND(CAST(na AS DOUBLE) * (CAST(nn AS DOUBLE) - CAST(na AS DOUBLE))
               / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0))
               * (sum_sq - CAST(nn AS DOUBLE) * abar * abar)
               + 1e-12, 9) AS var
  FROM calc
)
SELECT k AS event_type, CAST(na AS BIGINT) AS n_a,
       CAST(nn - na AS BIGINT) AS n_b,
       CASE WHEN na > 0 AND nn - na > 0 THEN t_stat END AS t_stat,
       CASE WHEN na > 0 AND nn - na > 0 THEN e_t END AS e_t,
       ROUND(CASE WHEN na > 0 AND nn - na > 0 AND var > 0
             THEN ROUND((t_stat - e_t) / ROUND(sqrt(var) + 1e-12, 9)
                        + 1e-12, 9)
             END + 1e-9, 6) AS z
FROM fin ORDER BY event_type
"""


@golden(
    "mood_scale_value_weekend_by_type",
    MOOD_SCALE_ORACLE,
    tags=("evaluation", "mood-scale", "dispersion", "events"),
)
def mood_scale_value_weekend_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mood two-sample scale test on the weekend split per event type —
    did weekend change the SPREAD of value (where mann_whitney asks
    about location and w1/cvm about the whole shape)? Squared rank
    deviations with exact permutation moments — tie-proof with no
    correction terms; same frame as the rest of the drift family."""
    from mr_dice_spark.operators.evaluation import mood_scale_test

    return (
        mood_scale_test(_weekend_rows(spark, sf_dir), "k", "weekend", "v", True)
        .withColumnRenamed("k", "event_type")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Page trend test: does value rise across the weeks, consistently across
# weekdays? (round 10)
# ---------------------------------------------------------------------------

PAGE_ORACLE = """
WITH ev AS (
  SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d, value
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
cells AS (
  SELECT d % 7 AS wd, CAST(FLOOR(d / 7) AS BIGINT) AS wk,
         ROUND(AVG(value) + 1e-9, 6) AS s
  FROM ev GROUP BY 1, 2
),
full_weeks AS (
  SELECT wk FROM cells GROUP BY wk HAVING COUNT(DISTINCT wd) = 7
),
panel AS (SELECT c.wd, c.wk, c.s FROM cells c JOIN full_weeks USING (wk)),
shape AS (SELECT COUNT(DISTINCT wd) AS n, COUNT(DISTINCT wk) AS k FROM panel),
tc AS (SELECT wd, s, COUNT(*) AS tn FROM panel GROUP BY wd, s),
ranked AS (
  SELECT wd, s,
         CAST(SUM(tn) OVER (PARTITION BY wd ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           - tn + CAST(tn + 1 AS DOUBLE) / 2.0 AS r
  FROM tc
),
ords AS (
  SELECT wk, ROW_NUMBER() OVER (ORDER BY wk) AS c
  FROM (SELECT DISTINCT wk FROM panel)
),
scored AS (
  SELECT o.c, rk.r
  FROM panel p
  JOIN ranked rk ON rk.wd = p.wd AND rk.s = p.s
  JOIN ords o ON o.wk = p.wk
),
agg AS (
  SELECT SUM(CAST(c AS DOUBLE) * r) AS l,
         SUM((r - (CAST((SELECT k FROM shape) AS DOUBLE) + 1.0) / 2.0)
             * (r - (CAST((SELECT k FROM shape) AS DOUBLE) + 1.0) / 2.0))
           AS s2r
  FROM scored
),
fin AS (
  SELECT n, k, l,
         CAST(n AS DOUBLE) * k * (CAST(k AS DOUBLE) + 1.0)
           * (CAST(k AS DOUBLE) + 1.0) / 4.0 AS e,
         ROUND(CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0) / 12.0 * s2r
               + 1e-12, 9) AS var
  FROM agg, shape
)
SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k_treatments,
       ROUND(l + 1e-9, 6) AS l_stat,
       ROUND(e + 1e-9, 6) AS e_l,
       ROUND(CASE WHEN k >= 2 THEN var END + 1e-9, 6) AS var_l,
       ROUND(CASE WHEN k >= 2 AND var > 0
             THEN ROUND((l - e) / ROUND(sqrt(var) + 1e-12, 9) + 1e-12, 9)
             END + 1e-9, 6) AS z
FROM fin
"""


@golden(
    "page_trend_weekly_by_weekday",
    PAGE_ORACLE,
    tags=("evaluation", "page", "trend", "rank-test", "events"),
)
def page_trend_weekly_by_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page trend test: across the complete weeks of the span
    (treatments, in time order), does daily mean value rise
    monotonically, CONSISTENTLY across the 7 weekdays (blocks)? The
    blocked-design ordered-trend companion to jonckheere (pooled) and
    friedman (unordered) — exact permutation moments, tie-proof. Panel
    completeness by construction: only weeks holding all 7 weekdays
    enter."""
    from mr_dice_spark.operators.evaluation import page_trend_test

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    ).select(
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("d"),
        "value",
    )
    cells = ev.groupBy(
        (F.col("d") % 7).alias("wd"),
        F.floor(F.col("d") / 7).cast("long").alias("wk"),
    ).agg(_r(F.avg("value"), 6).alias("s"))
    full_weeks = (
        cells.groupBy("wk")
        .agg(F.countDistinct("wd").alias("c"))
        .where(F.col("c") == 7)
        .select("wk")
    )
    panel = cells.join(full_weeks, "wk")
    return page_trend_test(panel, "wd", "wk", "s")


# ---------------------------------------------------------------------------
# KPSS: is level-stationarity tenable for the daily series? (round 10)
# ---------------------------------------------------------------------------

# Bartlett-weight literals baked via repr() so the SQL parses the
# BIT-IDENTICAL doubles Spark's 2.0 * (1 - h/(q+1)) literals hold
_KPSS_W = {h: repr(2.0 * (1.0 - h / 5.0)) for h in (1, 2, 3, 4)}

KPSS_ORACLE = f"""
WITH {_DAILY_FRAME_SQL},
st AS (
  SELECT k, COUNT(*) AS n,
         ROUND(CAST(SUM(CAST(y AS DECIMAL(19,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) + 1e-12, 9) AS vbar
  FROM d GROUP BY k
),
dev AS (
  SELECT d.k, d.x, st.n, ROUND(d.y - st.vbar + 1e-12, 9) AS dv
  FROM d JOIN st ON st.k = d.k
),
lagged AS (
  SELECT k, n, dv,
         LAG(dv, 1) OVER w AS d1, LAG(dv, 2) OVER w AS d2,
         LAG(dv, 3) OVER w AS d3, LAG(dv, 4) OVER w AS d4,
         CAST(SUM(CAST(dv AS DECIMAL(18,9))) OVER (PARTITION BY k ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS s,
         CASE WHEN LAG(x) OVER w = x THEN 1 ELSE 0 END AS tie
  FROM dev WINDOW w AS (PARTITION BY k ORDER BY x)
),
pk AS (
  SELECT k, MAX(n) AS n, MAX(tie) AS ties,
         CAST(SUM(CAST(dv AS DECIMAL(18,9)) * CAST(dv AS DECIMAL(18,9)))
              AS DOUBLE) AS g0,
         CAST(SUM(CAST(s AS DECIMAL(18,9)) * CAST(s AS DECIMAL(18,9)))
              AS DOUBLE) AS ss2,
         CAST(SUM(CAST(dv AS DECIMAL(18,9)) * CAST(d1 AS DECIMAL(18,9)))
              AS DOUBLE) AS c1,
         CAST(SUM(CAST(dv AS DECIMAL(18,9)) * CAST(d2 AS DECIMAL(18,9)))
              AS DOUBLE) AS c2,
         CAST(SUM(CAST(dv AS DECIMAL(18,9)) * CAST(d3 AS DECIMAL(18,9)))
              AS DOUBLE) AS c3,
         CAST(SUM(CAST(dv AS DECIMAL(18,9)) * CAST(d4 AS DECIMAL(18,9)))
              AS DOUBLE) AS c4
  FROM lagged GROUP BY k
),
calc AS (
  SELECT k, n, ties, ss2,
         ROUND(ROUND(g0 / CAST(n AS DOUBLE) + 1e-12, 9)
               + {_KPSS_W[1]} * ROUND(c1 / CAST(n AS DOUBLE) + 1e-12, 9)
               + {_KPSS_W[2]} * ROUND(c2 / CAST(n AS DOUBLE) + 1e-12, 9)
               + {_KPSS_W[3]} * ROUND(c3 / CAST(n AS DOUBLE) + 1e-12, 9)
               + {_KPSS_W[4]} * ROUND(c4 / CAST(n AS DOUBLE) + 1e-12, 9)
               + 1e-12, 9) AS lrv
  FROM pk
)
SELECT k AS event_type, CAST(n AS BIGINT) AS n,
       CAST(4 AS BIGINT) AS n_lags,
       ROUND(CASE WHEN n > 4 AND ties = 0 AND lrv > 0 THEN lrv END
             + 1e-9, 6) AS lrv,
       ROUND(CASE WHEN n > 4 AND ties = 0 AND lrv > 0
             THEN ss2 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * lrv)
             END + 1e-9, 6) AS kpss
FROM calc ORDER BY event_type
"""


@golden(
    "kpss_daily_value_by_type",
    KPSS_ORACLE,
    tags=("timeseries", "kpss", "stationarity", "events"),
)
def kpss_daily_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity statistic (Bartlett lags 4) on each
    event type's daily mean values — is modelling this series as
    level-stationary tenable at all (large statistic rejects; 5%
    asymptotic critical value 0.463)? The missing half of the
    unit-root conversation beside mann_kendall/theil_sen trend tests
    and durbin_watson/ljung_box residual screens, on the same daily
    frame."""
    from mr_dice_spark.operators.timeseries import kpss_level_stat

    out = kpss_level_stat(_daily_frame(spark, sf_dir), "k", "x", "y", 4)
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")


# ---------------------------------------------------------------------------
# Round 11: Kuiper + Anderson-Darling on the weekend split; Bartlett,
# Cox-Stuart, Theil's U2 on the bucketed frames; Ansari-Bradley scale;
# Quade weighted blocked ranks.
# ---------------------------------------------------------------------------

KUIPER_ORACLE = f"""
WITH {_WEEKEND_BASE_SQL},
cells AS (
  SELECT k, v, count_if(a) AS ca, count_if(NOT a) AS cb
  FROM base GROUP BY k, v
),
staged AS (
  SELECT k, SUM(ca) OVER w AS cca, SUM(cb) OVER w AS ccb,
         SUM(ca) OVER (PARTITION BY k) AS na,
         SUM(cb) OVER (PARTITION BY k) AS nb
  FROM cells
  WINDOW w AS (PARTITION BY k ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
gaps AS (
  SELECT k, na, nb,
         ROUND(CAST(cca AS DOUBLE) / na - CAST(ccb AS DOUBLE) / nb
               + 1e-12, 9) AS gap
  FROM staged
)
SELECT k AS event_type,
       CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
       ROUND(CASE WHEN MAX(na) > 0 AND MAX(nb) > 0 THEN MAX(gap) END
             + 1e-9, 6) AS d_plus,
       ROUND(CASE WHEN MAX(na) > 0 AND MAX(nb) > 0 THEN MAX(-gap) END
             + 1e-9, 6) AS d_minus,
       ROUND(CASE WHEN MAX(na) > 0 AND MAX(nb) > 0
             THEN MAX(gap) + MAX(-gap) END + 1e-9, 6) AS kuiper_v
FROM gaps GROUP BY k ORDER BY event_type
"""


@golden(
    "kuiper_value_weekend_by_type",
    KUIPER_ORACLE,
    tags=("timeseries", "drift", "kuiper", "events"),
)
def kuiper_value_weekend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper V between each event type's weekend and weekday value
    distributions — the two-sided sup-gap (D+ + D-) that charges drift
    at BOTH CDF tails equally, completing the weekend-split family
    beside w1 (area), CvM (mass-weighted square), and mood/ansari
    (spread). Exact cells; per-cell gaps pinned at 9dp before the max
    so both engines agree on the argmax cell."""
    from mr_dice_spark.operators.timeseries import kuiper_2s

    return (
        kuiper_2s(_weekend_rows(spark, sf_dir), "k", "weekend", "v", True)
        .withColumnRenamed("k", "event_type")
        .orderBy("event_type")
    )


AD_ORACLE = f"""
WITH {_WEEKEND_BASE_SQL},
cells AS (
  SELECT k, v, count_if(a) AS la, count_if(NOT a) AS lb
  FROM base GROUP BY k, v
),
staged AS (
  SELECT k, la, lb, la + lb AS l,
         2 * SUM(la) OVER w - la AS ma2,
         2 * SUM(lb) OVER w - lb AS mb2,
         2 * SUM(la + lb) OVER w - (la + lb) AS b2,
         SUM(la) OVER wa AS na, SUM(lb) OVER wa AS nb,
         SUM(la + lb) OVER wa AS nn
  FROM cells
  WINDOW w AS (PARTITION BY k ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wa AS (PARTITION BY k)
),
terms AS (
  SELECT k, na, nb, nn,
         ROUND(CASE WHEN CAST(b2 AS DOUBLE)
                         * (2.0 * CAST(nn AS DOUBLE) - CAST(b2 AS DOUBLE))
                         - CAST(nn AS DOUBLE) * CAST(l AS DOUBLE) <> 0
               THEN CAST(l AS DOUBLE)
                    * (CAST(nn AS DOUBLE) * CAST(ma2 AS DOUBLE)
                       - CAST(na AS DOUBLE) * CAST(b2 AS DOUBLE))
                    * (CAST(nn AS DOUBLE) * CAST(ma2 AS DOUBLE)
                       - CAST(na AS DOUBLE) * CAST(b2 AS DOUBLE))
                    / (CAST(b2 AS DOUBLE)
                       * (2.0 * CAST(nn AS DOUBLE) - CAST(b2 AS DOUBLE))
                       - CAST(nn AS DOUBLE) * CAST(l AS DOUBLE))
               END / CAST(nn AS DOUBLE) + 1e-12, 9) AS term_a,
         ROUND(CASE WHEN CAST(b2 AS DOUBLE)
                         * (2.0 * CAST(nn AS DOUBLE) - CAST(b2 AS DOUBLE))
                         - CAST(nn AS DOUBLE) * CAST(l AS DOUBLE) <> 0
               THEN CAST(l AS DOUBLE)
                    * (CAST(nn AS DOUBLE) * CAST(mb2 AS DOUBLE)
                       - CAST(nb AS DOUBLE) * CAST(b2 AS DOUBLE))
                    * (CAST(nn AS DOUBLE) * CAST(mb2 AS DOUBLE)
                       - CAST(nb AS DOUBLE) * CAST(b2 AS DOUBLE))
                    / (CAST(b2 AS DOUBLE)
                       * (2.0 * CAST(nn AS DOUBLE) - CAST(b2 AS DOUBLE))
                       - CAST(nn AS DOUBLE) * CAST(l AS DOUBLE))
               END / CAST(nn AS DOUBLE) + 1e-12, 9) AS term_b
  FROM staged
),
agg AS (
  SELECT k, MAX(na) AS ta, MAX(nb) AS tb, MAX(nn) AS tn,
         CAST(SUM(CAST(term_a AS DECIMAL(19,9))) AS DOUBLE) AS sa,
         CAST(SUM(CAST(term_b AS DECIMAL(19,9))) AS DOUBLE) AS sb
  FROM terms GROUP BY k
)
SELECT k AS event_type,
       CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
       ROUND(CASE WHEN ta > 0 AND tb > 0 AND sa IS NOT NULL
                   AND sb IS NOT NULL
             THEN (CAST(tn AS DOUBLE) - 1.0) / CAST(tn AS DOUBLE)
                  * (sa / CAST(ta AS DOUBLE) + sb / CAST(tb AS DOUBLE))
             END + 1e-9, 6) AS ad
FROM agg ORDER BY event_type
"""


@golden(
    "ad_value_weekend_by_type",
    AD_ORACLE,
    tags=("timeseries", "drift", "anderson-darling", "events"),
)
def ad_value_weekend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling (Scholz-Stephens midrank form)
    between each event type's weekend and weekday value distributions —
    the TAIL-WEIGHTED member of the weekend-split drift family: its
    H(1-H) weight blows up where the pooled CDF is near 0 or 1, so a
    tail-only drift that KS/CvM barely register dominates AD. Doubled
    mid-cumulatives as exact longs; per-cell terms pinned at 9dp and
    summed as exact decimals."""
    from mr_dice_spark.operators.timeseries import anderson_darling_2s

    return (
        anderson_darling_2s(
            _weekend_rows(spark, sf_dir), "k", "weekend", "v", True
        )
        .withColumnRenamed("k", "event_type")
        .orderBy("event_type")
    )


BARTLETT_ORACLE = f"""
WITH {_DAILY_FRAME_SQL},
cells AS (
  SELECT k, CAST(x AS BIGINT) % 7 AS g, COUNT(*) AS n,
         CAST(SUM(CAST(y AS DECIMAL(16,6))) AS DECIMAL(18,6)) AS s1_dec,
         CAST(SUM(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(16,6)))
              AS DECIMAL(31,12)) AS s2_dec
  FROM d GROUP BY 1, 2
),
pinned AS (
  SELECT k, n, n >= 2 AS u,
         ROUND(CAST(CAST(CAST(n AS DECIMAL(6,0)) * s2_dec AS DECIMAL(37,12))
                    - CAST(CAST(s1_dec AS DECIMAL(19,6))
                           * CAST(s1_dec AS DECIMAL(19,6))
                           AS DECIMAL(37,12)) AS DOUBLE)
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
               + 1e-12, 9) AS s2v
  FROM cells
),
scored AS (
  SELECT k, n, u,
         CASE WHEN u AND s2v > 0
              THEN ROUND(ln(s2v) + 1e-12, 9) END AS lnv,
         CASE WHEN u
              THEN ROUND(s2v * (CAST(n AS DOUBLE) - 1.0) + 1e-12, 9)
              END AS w,
         CASE WHEN u
              THEN ROUND(1.0 / (CAST(n AS DOUBLE) - 1.0) + 1e-12, 9)
              END AS inv
  FROM pinned
),
agg AS (
  SELECT k,
         SUM(CASE WHEN u THEN n END) AS nn,
         count_if(u) AS kk,
         count_if(u AND lnv IS NULL) AS bad,
         CAST(SUM(CAST(CASE WHEN u THEN w END AS DECIMAL(19,9)))
              AS DOUBLE) AS sw,
         CAST(SUM(CAST(
               ROUND(lnv * (CAST(n AS DOUBLE) - 1.0) + 1e-12, 9)
               AS DECIMAL(19,9))) AS DOUBLE) AS sln,
         CAST(SUM(CAST(CASE WHEN u THEN inv END AS DECIMAL(19,9)))
              AS DOUBLE) AS sinv
  FROM scored GROUP BY k
),
fin AS (
  SELECT k, nn, kk, bad, sln, sinv,
         ROUND(sw / NULLIF(CAST(nn AS DOUBLE) - CAST(kk AS DOUBLE), 0)
               + 1e-12, 9) AS sp2
  FROM agg
)
SELECT k AS event_type,
       CAST(COALESCE(nn, 0) AS BIGINT) AS n,
       CAST(kk AS BIGINT) AS k_groups,
       ROUND(CASE WHEN kk >= 2 AND bad = 0 AND nn > kk AND sp2 > 0
             THEN ((CAST(nn AS DOUBLE) - CAST(kk AS DOUBLE))
                   * ROUND(ln(sp2) + 1e-12, 9) - sln)
                  / (1.0 + (sinv - 1.0 / (CAST(nn AS DOUBLE)
                                          - CAST(kk AS DOUBLE)))
                           / (3.0 * (CAST(kk AS DOUBLE) - 1.0)))
             END + 1e-9, 6) AS chi2,
       CASE WHEN kk >= 2 THEN CAST(kk - 1 AS BIGINT) END AS dof
FROM fin ORDER BY event_type
"""


@golden(
    "bartlett_daily_value_by_weekday",
    BARTLETT_ORACLE,
    tags=("anova", "bartlett", "variance", "events"),
)
def bartlett_daily_value_by_weekday(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bartlett variance-homogeneity test across the 7 weekday groups
    of each event type's daily mean values — is the day-of-week
    variance structure uniform enough for pooled-variance methods
    (the normality-assuming pre-test beside the robust Brown-Forsythe)?
    Per-group variances from decimal-cancelled power sums, logs pinned
    at 9dp, per-key sums of pinned terms as exact decimals."""
    from mr_dice_spark.operators.anova import bartlett_by_key

    d = _daily_frame(spark, sf_dir).select(
        "k", (F.col("x").cast("long") % 7).alias("wd"), "y"
    )
    out = bartlett_by_key(d, "k", "wd", "y")
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")


COX_STUART_ORACLE = f"""
WITH {_DAILY_FRAME_SQL},
idx AS (
  SELECT k, y, ROW_NUMBER() OVER w AS rn,
         COUNT(*) OVER (PARTITION BY k) AS n,
         CASE WHEN LAG(x) OVER w = x THEN 1 ELSE 0 END AS tie
  FROM d WINDOW w AS (PARTITION BY k ORDER BY x)
),
idx2 AS (
  SELECT k, y, rn, n, MAX(tie) OVER (PARTITION BY k) AS ties FROM idx
),
paired AS (
  SELECT k, n, ties,
         CASE WHEN rn <= CAST(FLOOR(n / 2) AS BIGINT) THEN rn
              WHEN rn > n - CAST(FLOOR(n / 2) AS BIGINT)
              THEN rn - (n - CAST(FLOOR(n / 2) AS BIGINT)) END AS p,
         CASE WHEN rn <= CAST(FLOOR(n / 2) AS BIGINT) THEN y END AS f,
         CASE WHEN rn > n - CAST(FLOOR(n / 2) AS BIGINT) THEN y END AS s
  FROM idx2
),
pairs AS (
  SELECT k, MAX(n) AS n, MAX(ties) AS ties, MAX(f) AS f, MAX(s) AS s
  FROM paired WHERE p IS NOT NULL GROUP BY k, p
),
agg AS (
  SELECT k, MAX(n) AS n, MAX(ties) AS t, COUNT(*) AS pairs,
         count_if(s > f) AS pos, count_if(s < f) AS neg
  FROM pairs GROUP BY k
)
SELECT k AS event_type, CAST(n AS BIGINT) AS n,
       CAST(pairs AS BIGINT) AS n_pairs,
       CAST(pos AS BIGINT) AS n_pos, CAST(neg AS BIGINT) AS n_neg,
       ROUND(CASE WHEN t = 0 AND pos + neg > 0
             THEN CAST(pos - neg AS DOUBLE)
                  / sqrt(CAST(pos + neg AS DOUBLE)) END + 1e-9, 6) AS z
FROM agg ORDER BY event_type
"""


@golden(
    "cox_stuart_daily_value_by_type",
    COX_STUART_ORACLE,
    tags=("timeseries", "cox-stuart", "trend", "events"),
)
def cox_stuart_daily_value_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cox-Stuart sign test for monotone trend in each event type's
    daily mean values — the assumption-free screen beside mann_kendall
    (full pair information) and theil_sen (slope estimate) on the same
    daily frame: first-half days pair with second-half days, signs
    count, one z. Exact integer counts; the pairing permutation is
    pinned by the unique daily bucket order."""
    from mr_dice_spark.operators.timeseries import cox_stuart_trend

    out = cox_stuart_trend(_daily_frame(spark, sf_dir), "k", "x", "y")
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")


_HOURLY_FRAME_SQL = """
hb AS (
  SELECT event_type AS k,
         CAST(FLOOR(epoch(ts) / 3600) AS DOUBLE) AS x,
         ROUND(AVG(value) + 1e-9, 6) AS y
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
)
"""

THEILS_U2_ORACLE = f"""
WITH {_HOURLY_FRAME_SQL},
lagged AS (
  SELECT k, y, LAG(y, 1) OVER w AS p1, LAG(y, 24) OVER w AS ps,
         CASE WHEN LAG(x) OVER w = x THEN 1 ELSE 0 END AS tie
  FROM hb WINDOW w AS (PARTITION BY k ORDER BY x)
),
terms AS (
  SELECT k, tie,
         ps IS NOT NULL AND p1 IS NOT NULL AS sc,
         CASE WHEN ps IS NOT NULL AND p1 IS NOT NULL
              THEN ROUND((y - ps) * (y - ps) + 1e-12, 9) END AS tn,
         CASE WHEN ps IS NOT NULL AND p1 IS NOT NULL
              THEN ROUND((y - p1) * (y - p1) + 1e-12, 9) END AS td
  FROM lagged
),
agg AS (
  SELECT k, COUNT(*) AS n, MAX(tie) AS ties, count_if(sc) AS ns,
         CAST(SUM(CAST(tn AS DECIMAL(19,9))) AS DOUBLE) AS sn,
         CAST(SUM(CAST(td AS DECIMAL(19,9))) AS DOUBLE) AS sd
  FROM terms GROUP BY k
)
SELECT k AS event_type, CAST(n AS BIGINT) AS n,
       CAST(ns AS BIGINT) AS n_scored,
       ROUND(CASE WHEN ties = 0 AND ns > 0 AND sd > 0
             THEN sqrt(sn / sd) END + 1e-9, 6) AS u2
FROM agg ORDER BY event_type
"""


def _hourly_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    return ev.groupBy(
        F.col("event_type").alias("k"),
        F.floor(F.unix_timestamp("ts") / 3600).cast("double").alias("x"),
    ).agg(_r(F.avg("value"), 6).alias("y"))


@golden(
    "theils_u2_hourly_value_by_type",
    THEILS_U2_ORACLE,
    tags=("timeseries", "forecast", "theils-u2", "events"),
)
def theils_u2_hourly_value_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil's U2 of the 24-hour seasonal-naive forecast against lag-1
    persistence on each event type's hourly mean values — the
    one-number 'is there exploitable daily seasonality' score beside
    seasonal_naive_backtest's MAE/RMSE and pinball's quantile loss.
    9dp-pinned squared errors summed as exact decimals; one
    divide+sqrt."""
    from mr_dice_spark.operators.timeseries import theils_u2

    out = theils_u2(_hourly_frame(spark, sf_dir), "k", "x", "y", season=24)
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")


ANSARI_ORACLE = f"""
WITH {_WEEKEND_BASE_SQL},
cells AS (
  SELECT k, v, COUNT(*) AS t, count_if(a) AS ta FROM base GROUP BY k, v
),
staged AS (
  SELECT k, t, ta,
         COALESCE(SUM(t) OVER (PARTITION BY k ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS clt,
         SUM(t) OVER (PARTITION BY k) AS nn,
         SUM(ta) OVER (PARTITION BY k) AS na
  FROM cells
),
dd AS (
  SELECT k, t, ta, nn, na,
         LEAST(2 * clt + t + 1, 2 * nn + 2 - (2 * clt + t + 1)) AS a2
  FROM staged
),
agg AS (
  SELECT k, MAX(na) AS na, MAX(nn) AS nn,
         SUM(ta * a2) AS t2,
         SUM(t * a2) AS s2,
         SUM(CAST(t * a2 AS DECIMAL(19,0)) * CAST(a2 AS DECIMAL(19,0)))
           AS s4
  FROM dd GROUP BY k
),
calc AS (
  SELECT k, na, nn,
         CAST(t2 AS DOUBLE) / 2.0 AS t_stat,
         CAST(s2 AS DOUBLE) / 2.0 / CAST(nn AS DOUBLE) AS abar,
         CAST(s4 AS DOUBLE) / 4.0 AS sum_sq
  FROM agg
),
fin AS (
  -- e_t is RAW (mirrors the operator): at large-N score magnitudes
  -- ROUND(double) itself diverges cross-engine (DuckDB's x*10^d path
  -- is lossy past 2^53; Spark rounds exactly through BigDecimal) —
  -- identical raw IEEE chains on exact operands are bit-equal.
  SELECT k, na, nn, t_stat,
         CAST(na AS DOUBLE) * abar AS e_t,
         ROUND(CAST(na AS DOUBLE) * (CAST(nn AS DOUBLE) - CAST(na AS DOUBLE))
               / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0))
               * (sum_sq - CAST(nn AS DOUBLE) * abar * abar)
               + 1e-12, 9) AS var
  FROM calc
)
SELECT k AS event_type, CAST(na AS BIGINT) AS n_a,
       CAST(nn - na AS BIGINT) AS n_b,
       CASE WHEN na > 0 AND nn - na > 0 THEN t_stat END AS t_stat,
       CASE WHEN na > 0 AND nn - na > 0 THEN e_t END AS e_t,
       ROUND(CASE WHEN na > 0 AND nn - na > 0 AND var > 0
             THEN ROUND((t_stat - e_t) / ROUND(sqrt(var) + 1e-12, 9)
                        + 1e-12, 9)
             END + 1e-9, 6) AS z
FROM fin ORDER BY event_type
"""


@golden(
    "ansari_value_weekend_by_type",
    ANSARI_ORACLE,
    tags=("evaluation", "ansari-bradley", "dispersion", "events"),
)
def ansari_value_weekend_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ansari-Bradley scale test on the weekend split per event type —
    the linear-score sibling of mood_scale on the identical frame (AB
    weights extreme ranks linearly where Mood squares them; reviews
    quote both). Triangular scores stay half-integer exact via the
    doubled form; exact permutation moments; z from pinned operands."""
    from mr_dice_spark.operators.evaluation import ansari_bradley

    return (
        ansari_bradley(_weekend_rows(spark, sf_dir), "k", "weekend", "v", True)
        .withColumnRenamed("k", "event_type")
        .orderBy("event_type")
    )


QUADE_ORACLE = """
WITH ev AS (
  SELECT event_type, (CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) % 7 AS wd,
         value
  FROM events
  WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
),
scores AS (
  SELECT wd AS b, event_type AS t, ROUND(SUM(value) + 1e-9, 6) AS s
  FROM ev GROUP BY 1, 2
),
grid AS (
  SELECT w.b, ty.t
  FROM (SELECT unnest(range(7)) AS b) w
  CROSS JOIN (SELECT DISTINCT event_type AS t FROM ev) ty
),
panel AS (
  SELECT grid.b, grid.t, COALESCE(sc.s, 0.0) AS s
  FROM grid LEFT JOIN scores sc ON sc.b = grid.b AND sc.t = grid.t
),
shape AS (
  SELECT COUNT(DISTINCT b) AS n, COUNT(DISTINCT t) AS k FROM panel
),
tc AS (SELECT b, s, COUNT(*) AS tn FROM panel GROUP BY b, s),
ranked AS (
  SELECT b, s,
         2 * SUM(tn) OVER (PARTITION BY b ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - tn + 1 AS r2
  FROM tc
),
ranges AS (SELECT b, MAX(s) - MIN(s) AS rng FROM panel GROUP BY b),
rng_cells AS (SELECT rng, COUNT(*) AS tn FROM ranges GROUP BY rng),
rng_ranked AS (
  SELECT rng,
         2 * SUM(tn) OVER (ORDER BY rng
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - tn + 1 AS q2
  FROM rng_cells
),
block_q AS (
  SELECT ranges.b, rng_ranked.q2
  FROM ranges JOIN rng_ranked USING (rng)
),
scored AS (
  SELECT p.t,
         bq.q2 * (rk.r2 - (SELECT k FROM shape) - 1) AS s4
  FROM panel p
  JOIN ranked rk ON rk.b = p.b AND rk.s = p.s
  JOIN block_q bq ON bq.b = p.b
),
per_t AS (
  SELECT t, SUM(s4) AS s4j,
         SUM(CAST(s4 AS DECIMAL(19,0)) * CAST(s4 AS DECIMAL(19,0))) AS a16
  FROM scored GROUP BY t
),
tot AS (
  SELECT CAST(SUM(a16) AS DOUBLE) AS a16t,
         CAST(SUM(CAST(s4j AS DECIMAL(19,0)) * CAST(s4j AS DECIMAL(19,0)))
              AS DOUBLE) AS b16t,
         (SELECT n FROM shape) AS n, (SELECT k FROM shape) AS k
  FROM per_t
),
fin AS (
  SELECT n, k,
         ROUND(a16t / 16.0 + 1e-12, 9) AS a_stat,
         ROUND(b16t / (16.0 * CAST(n AS DOUBLE)) + 1e-12, 9) AS b_stat
  FROM tot
)
SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k_treatments,
       ROUND(a_stat + 1e-9, 6) AS a_stat,
       ROUND(b_stat + 1e-9, 6) AS b_stat,
       ROUND(CASE WHEN k >= 2 AND a_stat - b_stat > 0
             THEN (CAST(n AS DOUBLE) - 1.0) * b_stat / (a_stat - b_stat)
             END + 1e-9, 6) AS f_stat,
       CAST(k - 1 AS BIGINT) AS df1,
       CAST((n - 1) * (k - 1) AS BIGINT) AS df2
FROM fin
"""


@golden(
    "quade_weekday_value_by_type",
    QUADE_ORACLE,
    tags=("evaluation", "quade", "rank-test", "events"),
)
def quade_weekday_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade weighted blocked rank test on the friedman weekday panel
    (7 weekdays x event types, complete by construction): do the types
    keep their value ordering across weekdays, with high-spread days
    weighted up? The power-oriented companion to friedman (unweighted)
    and page (ordered alternative) on the identical panel. Doubled
    midranks and range ranks as exact longs; A/B from exact decimal
    squares; F one pinned chain."""
    from mr_dice_spark.operators.evaluation import quade_test

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    scores = ev.groupBy(
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7).alias("b"),
        F.col("event_type").alias("t"),
    ).agg(_r(F.sum("value"), 6).alias("s"))
    days = spark.range(7).select(F.col("id").alias("b"))
    types = ev.select(F.col("event_type").alias("t")).distinct()
    grid = days.crossJoin(types)
    panel = grid.join(scores, ["b", "t"], "left").select(
        "b", "t", F.coalesce("s", F.lit(0.0)).alias("s")
    )
    return quade_test(panel, "b", "t", "s")


@golden(
    "streaming_theils_u2_monitor",
    THEILS_U2_ORACLE,  # shared byte-for-byte with the batch golden
    tags=("streaming", "forecast", "theils-u2", "observability"),
)
def streaming_theils_u2_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U2 seasonality score ON THE STREAM ENGINE: hourly bucket
    means aggregate through readStream in complete mode — the live
    'did daily seasonality hold this week' monitor shape — and the U2
    finisher (24-lag vs 1-lag squared-error ratio) runs batch-side on
    the materialized sink, byte-identical to the batch theils_u2
    golden, so the SAME DuckDB oracle hash-checks the streaming path
    (the streaming_hampel_monitor contract). Finite replay makes the
    streaming aggregate exact."""
    import uuid

    from mr_dice_spark.operators.timeseries import theils_u2
    from mr_dice_spark.streaming.windows import (
        read_events_stream,
        run_stream_to_memory,
    )

    _utc(spark)
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = (
        stream.where(
            F.col("value").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.avg("value").alias("__raw"))
    )
    name = f"stream_u2_{uuid.uuid4().hex[:8]}"
    q = run_stream_to_memory(agg, name, output_mode="complete")
    try:
        b = spark.table(name).select(
            F.col("event_type").alias("k"),
            (F.unix_timestamp(F.col("w.start")) / 3600)
            .cast("double")
            .alias("x"),
            F.round(F.col("__raw") + F.lit(1e-9), 6).alias("y"),
        )
        out = (
            theils_u2(b, "k", "x", "y", season=24)
            .withColumnRenamed("k", "event_type")
            .orderBy("event_type")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        q.stop()


LEPAGE_ORACLE = f"""
WITH {_WEEKEND_BASE_SQL},
cells AS (
  SELECT k, v, COUNT(*) AS t, count_if(a) AS ta FROM base GROUP BY k, v
),
staged AS (
  SELECT k, t, ta,
         COALESCE(SUM(t) OVER (PARTITION BY k ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS clt,
         SUM(t) OVER (PARTITION BY k) AS nn,
         SUM(ta) OVER (PARTITION BY k) AS na
  FROM cells
),
dd AS (
  SELECT k, t, ta, nn, na,
         2 * clt + t + 1 AS r2,
         LEAST(2 * clt + t + 1, 2 * nn + 2 - (2 * clt + t + 1)) AS s2
  FROM staged
),
agg AS (
  SELECT k, MAX(na) AS na, MAX(nn) AS nn,
         SUM(ta * r2) AS tw2, SUM(t * r2) AS sw2,
         SUM(CAST(t * r2 AS DECIMAL(19,0)) * CAST(r2 AS DECIMAL(19,0)))
           AS sw4,
         SUM(ta * s2) AS tb2, SUM(t * s2) AS sb2,
         SUM(CAST(t * s2 AS DECIMAL(19,0)) * CAST(s2 AS DECIMAL(19,0)))
           AS sb4
  FROM dd GROUP BY k
),
zc AS (
  SELECT k, na, nn,
         CASE WHEN na > 0 AND nn - na > 0
               AND ROUND(CAST(na AS DOUBLE)
                         * (CAST(nn AS DOUBLE) - CAST(na AS DOUBLE))
                         / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0))
                         * (CAST(sw4 AS DOUBLE) / 4.0
                            - CAST(nn AS DOUBLE)
                              * (CAST(sw2 AS DOUBLE) / 2.0
                                 / CAST(nn AS DOUBLE))
                              * (CAST(sw2 AS DOUBLE) / 2.0
                                 / CAST(nn AS DOUBLE)))
                         + 1e-12, 9) > 0
         THEN ROUND((CAST(tw2 AS DOUBLE) / 2.0
                     - ROUND(CAST(na AS DOUBLE)
                             * (CAST(sw2 AS DOUBLE) / 2.0
                                / CAST(nn AS DOUBLE)) + 1e-12, 9))
                    / ROUND(sqrt(
                        ROUND(CAST(na AS DOUBLE)
                              * (CAST(nn AS DOUBLE) - CAST(na AS DOUBLE))
                              / (CAST(nn AS DOUBLE)
                                 * (CAST(nn AS DOUBLE) - 1.0))
                              * (CAST(sw4 AS DOUBLE) / 4.0
                                 - CAST(nn AS DOUBLE)
                                   * (CAST(sw2 AS DOUBLE) / 2.0
                                      / CAST(nn AS DOUBLE))
                                   * (CAST(sw2 AS DOUBLE) / 2.0
                                      / CAST(nn AS DOUBLE)))
                              + 1e-12, 9)) + 1e-12, 9)
                    + 1e-12, 9) END AS zw,
         CASE WHEN na > 0 AND nn - na > 0
               AND ROUND(CAST(na AS DOUBLE)
                         * (CAST(nn AS DOUBLE) - CAST(na AS DOUBLE))
                         / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0))
                         * (CAST(sb4 AS DOUBLE) / 4.0
                            - CAST(nn AS DOUBLE)
                              * (CAST(sb2 AS DOUBLE) / 2.0
                                 / CAST(nn AS DOUBLE))
                              * (CAST(sb2 AS DOUBLE) / 2.0
                                 / CAST(nn AS DOUBLE)))
                         + 1e-12, 9) > 0
         THEN ROUND((CAST(tb2 AS DOUBLE) / 2.0
                     - ROUND(CAST(na AS DOUBLE)
                             * (CAST(sb2 AS DOUBLE) / 2.0
                                / CAST(nn AS DOUBLE)) + 1e-12, 9))
                    / ROUND(sqrt(
                        ROUND(CAST(na AS DOUBLE)
                              * (CAST(nn AS DOUBLE) - CAST(na AS DOUBLE))
                              / (CAST(nn AS DOUBLE)
                                 * (CAST(nn AS DOUBLE) - 1.0))
                              * (CAST(sb4 AS DOUBLE) / 4.0
                                 - CAST(nn AS DOUBLE)
                                   * (CAST(sb2 AS DOUBLE) / 2.0
                                      / CAST(nn AS DOUBLE))
                                   * (CAST(sb2 AS DOUBLE) / 2.0
                                      / CAST(nn AS DOUBLE)))
                              + 1e-12, 9)) + 1e-12, 9)
                    + 1e-12, 9) END AS zab
  FROM agg
)
SELECT k AS event_type, CAST(na AS BIGINT) AS n_a,
       CAST(nn - na AS BIGINT) AS n_b,
       ROUND(zw + 1e-9, 6) AS z_w,
       ROUND(zab + 1e-9, 6) AS z_ab,
       ROUND(zw * zw + zab * zab + 1e-9, 6) AS lepage_l
FROM zc ORDER BY event_type
"""


@golden(
    "lepage_value_weekend_by_type",
    LEPAGE_ORACLE,
    tags=("evaluation", "lepage", "location-scale", "events"),
)
def lepage_value_weekend_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lepage omnibus location+scale test on the weekend split per
    event type — ONE chi-square(2) gate for 'did weekend move the
    value distribution's centre OR its spread', combining the Wilcoxon
    z (location) and the Ansari-Bradley z (scale) this family already
    reports separately. Both score chains ride one ``rank_cells``
    exchange; exact permutation moments; z's pinned at 9dp before the
    squares."""
    from mr_dice_spark.operators.evaluation import lepage_2s

    return (
        lepage_2s(_weekend_rows(spark, sf_dir), "k", "weekend", "v", True)
        .withColumnRenamed("k", "event_type")
        .orderBy("event_type")
    )


BRUNNER_ORACLE = f"""
WITH {_WEEKEND_BASE_SQL},
cells AS (
  SELECT k, v, COUNT(*) AS t, count_if(a) AS ta FROM base GROUP BY k, v
),
staged AS (
  SELECT k, t, ta, t - ta AS tb,
         COALESCE(SUM(t) OVER w1, 0) AS clt,
         COALESCE(SUM(ta) OVER w1, 0) AS clta,
         COALESCE(SUM(t - ta) OVER w1, 0) AS cltb,
         SUM(t) OVER (PARTITION BY k) AS nn,
         SUM(ta) OVER (PARTITION BY k) AS na
  FROM cells
  WINDOW w1 AS (PARTITION BY k ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
dd AS (
  SELECT k, t, ta, tb, nn, na,
         2 * clt + t + 1 AS r2,
         (2 * clt + t + 1) - (2 * clta + ta + 1) AS da2,
         (2 * clt + t + 1) - (2 * cltb + tb + 1) AS db2
  FROM staged
),
agg AS (
  SELECT k, MAX(na) AS na, MAX(nn) AS nn,
         SUM(ta * r2) AS ra_sum2, SUM(tb * r2) AS rb_sum2,
         SUM(ta * da2) AS da1,
         SUM(CAST(ta * da2 AS DECIMAL(19,0)) * CAST(da2 AS DECIMAL(19,0)))
           AS da2s,
         SUM(tb * db2) AS db1,
         SUM(CAST(tb * db2 AS DECIMAL(19,0)) * CAST(db2 AS DECIMAL(19,0)))
           AS db2s
  FROM dd GROUP BY k
),
calc AS (
  SELECT k, na, nn, nn - na AS nb,
         ROUND(CAST(ra_sum2 AS DOUBLE) / 2.0 / CAST(na AS DOUBLE)
               + 1e-12, 9) AS rbar_a,
         ROUND(CAST(rb_sum2 AS DOUBLE) / 2.0
               / (CAST(nn AS DOUBLE) - CAST(na AS DOUBLE))
               + 1e-12, 9) AS rbar_b,
         ROUND(CAST(CAST(CAST(na AS DECIMAL(7,0))
                         * CAST(da2s AS DECIMAL(31,0)) AS DECIMAL(38,0))
                    - CAST(CAST(da1 AS DECIMAL(19,0))
                           * CAST(da1 AS DECIMAL(19,0)) AS DECIMAL(38,0))
                    AS DOUBLE)
               / (4.0 * CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) - 1.0))
               + 1e-12, 9) AS s2a,
         ROUND(CAST(CAST(CAST(nn - na AS DECIMAL(7,0))
                         * CAST(db2s AS DECIMAL(31,0)) AS DECIMAL(38,0))
                    - CAST(CAST(db1 AS DECIMAL(19,0))
                           * CAST(db1 AS DECIMAL(19,0)) AS DECIMAL(38,0))
                    AS DOUBLE)
               / (4.0 * (CAST(nn AS DOUBLE) - CAST(na AS DOUBLE))
                  * ((CAST(nn AS DOUBLE) - CAST(na AS DOUBLE)) - 1.0))
               + 1e-12, 9) AS s2b
  FROM agg
),
fin AS (
  SELECT k, na, nn, nb, rbar_a, rbar_b,
         CASE WHEN na > 0 AND nb > 0
              THEN ROUND((rbar_b - (CAST(nb AS DOUBLE) + 1.0) / 2.0)
                         / CAST(na AS DOUBLE) + 1e-12, 9) END AS p_hat,
         ROUND(CAST(na AS DOUBLE) * s2a
               + (CAST(nn AS DOUBLE) - CAST(na AS DOUBLE)) * s2b
               + 1e-12, 9) AS pooled_var
  FROM calc
)
SELECT k AS event_type, CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       ROUND(p_hat + 1e-9, 6) AS p_hat,
       ROUND(CASE WHEN na > 0 AND nb > 0 AND pooled_var > 0
             THEN ROUND(CAST(na AS DOUBLE)
                        * (CAST(nn AS DOUBLE) - CAST(na AS DOUBLE))
                        * (rbar_b - rbar_a)
                        / (CAST(nn AS DOUBLE)
                           * ROUND(sqrt(pooled_var) + 1e-12, 9))
                        + 1e-12, 9) END + 1e-9, 6) AS w
FROM fin ORDER BY event_type
"""


@golden(
    "brunner_munzel_value_weekend_by_type",
    BRUNNER_ORACLE,
    tags=("evaluation", "brunner-munzel", "location", "events"),
)
def brunner_munzel_value_weekend_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brunner-Munzel relative-effect test on the weekend split per
    event type — 'did weekend shift value' WITHOUT mann_whitney's
    exchangeability assumption (the rank analogue of Welch vs pooled
    t), plus the common-language effect size P(weekday < weekend).
    Pooled and within-sample midranks ride the same cells exchange as
    doubled exact longs; placement variances via decimal
    cancellation."""
    from mr_dice_spark.operators.evaluation import brunner_munzel

    return (
        brunner_munzel(_weekend_rows(spark, sf_dir), "k", "weekend", "v", True)
        .withColumnRenamed("k", "event_type")
        .orderBy("event_type")
    )


WILCOXON_SR_ORACLE = """
WITH ev AS (
  SELECT event_type AS k, user_id,
         (CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) % 2 AS par,
         value
  FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    AND ts IS NOT NULL AND value IS NOT NULL
),
pairs AS (
  SELECT k, user_id,
         ROUND(SUM(CASE WHEN par = 0 THEN value ELSE 0.0 END) + 1e-9, 6) AS x,
         ROUND(SUM(CASE WHEN par = 1 THEN value ELSE 0.0 END) + 1e-9, 6) AS y
  FROM ev GROUP BY k, user_id
),
d AS (SELECT k, y - x AS d FROM pairs),
counted AS (
  SELECT k, COUNT(*) AS np, count_if(d <> 0) AS ne FROM d GROUP BY k
),
cells AS (
  SELECT k, ABS(d) AS a, COUNT(*) AS t, count_if(d > 0) AS tp
  FROM d WHERE d <> 0 GROUP BY k, ABS(d)
),
staged AS (
  SELECT k, t, tp,
         COALESCE(SUM(t) OVER (PARTITION BY k ORDER BY a
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS clt
  FROM cells
),
agg AS (
  SELECT k,
         SUM(tp * (2 * clt + t + 1)) AS wp2,
         SUM(t * (2 * clt + t + 1)) AS sr2,
         SUM(CAST(t * (2 * clt + t + 1) AS DECIMAL(19,0))
             * CAST(2 * clt + t + 1 AS DECIMAL(19,0))) AS sr4
  FROM staged GROUP BY k
),
fin AS (
  SELECT c.k, c.np, c.ne,
         CAST(wp2 AS DOUBLE) / 2.0 AS w_plus,
         CAST(sr2 AS DOUBLE) / 4.0 AS e_w,
         ROUND(CAST(sr4 AS DOUBLE) / 16.0 + 1e-12, 9) AS var_w
  FROM counted c LEFT JOIN agg ON agg.k = c.k
)
SELECT k AS event_type, CAST(np AS BIGINT) AS n_pairs,
       CAST(ne AS BIGINT) AS n_eff,
       CASE WHEN ne > 0 THEN w_plus END AS w_plus,
       CASE WHEN ne > 0 THEN e_w END AS e_w,
       ROUND(CASE WHEN ne > 0 AND var_w > 0
             THEN ROUND((w_plus - e_w) / ROUND(sqrt(var_w) + 1e-12, 9)
                        + 1e-12, 9) END + 1e-9, 6) AS z
FROM fin ORDER BY event_type
"""


@golden(
    "wilcoxon_signed_even_odd_by_type",
    WILCOXON_SR_ORACLE,
    tags=("evaluation", "wilcoxon", "paired", "events"),
)
def wilcoxon_signed_even_odd_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wilcoxon signed-rank test on each user's even-day vs odd-day
    value totals per event type — the PAIRED 'did the split shift
    value' companion to lins_ccc's agreement score on the identical
    pairs frame (mann_whitney would wrongly treat the two halves as
    independent samples). Zero differences drop (the standard policy);
    exact sign-flip moments, tie-proof."""
    from mr_dice_spark.operators.evaluation import wilcoxon_signed_rank

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("k"),
        F.col("user_id"),
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 2).alias("par"),
        F.col("value"),
    )
    pairs = ev.groupBy("k", "user_id").agg(
        _r(F.sum(F.when(F.col("par") == 0, F.col("value")).otherwise(0.0)), 6)
        .alias("x"),
        _r(F.sum(F.when(F.col("par") == 1, F.col("value")).otherwise(0.0)), 6)
        .alias("y"),
    )
    out = wilcoxon_signed_rank(pairs, "k", "x", "y")
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")


BOWKER_ORACLE = """
WITH ev AS (
  SELECT event_type AS k, user_id,
         ((CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) % 7) IN (2, 3) AS we,
         CAST(value AS DOUBLE) AS v
  FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    AND ts IS NOT NULL AND value IS NOT NULL
),
units AS (
  SELECT k, user_id,
         ROUND(AVG(CASE WHEN NOT we THEN v END) + 1e-9, 6) AS wd_mean,
         ROUND(AVG(CASE WHEN we THEN v END) + 1e-9, 6) AS we_mean
  FROM ev GROUP BY k, user_id
),
labeled AS (
  SELECT k,
         CAST(FLOOR(wd_mean / 100.0) AS BIGINT) AS a,
         CAST(FLOOR(we_mean / 100.0) AS BIGINT) AS b
  FROM units WHERE wd_mean IS NOT NULL AND we_mean IS NOT NULL
),
totals AS (
  SELECT k, COUNT(*) AS tot,
         COUNT(DISTINCT a) AS ka, COUNT(DISTINCT b) AS kb
  FROM labeled GROUP BY k
),
cells AS (
  SELECT k, a, b, COUNT(*) AS n FROM labeled GROUP BY k, a, b
),
pairs AS (
  SELECT k, LEAST(a, b) AS lo, GREATEST(a, b) AS hi,
         SUM(CASE WHEN a < b THEN n ELSE 0 END) AS nij,
         SUM(CASE WHEN a > b THEN n ELSE 0 END) AS nji
  FROM cells WHERE a <> b GROUP BY k, LEAST(a, b), GREATEST(a, b)
),
agg AS (
  SELECT k,
         CAST(SUM(CAST(
           ROUND(CAST(nij - nji AS DOUBLE) * CAST(nij - nji AS DOUBLE)
                 / CAST(nij + nji AS DOUBLE) + 1e-12, 9)
           AS DECIMAL(19,9))) AS DOUBLE) AS chi2,
         COUNT(*) AS dof
  FROM pairs GROUP BY k
)
SELECT t.k AS event_type, CAST(tot AS BIGINT) AS n,
       CAST(GREATEST(ka, kb) AS BIGINT) AS k_categories,
       ROUND(chi2 + 1e-9, 6) AS chi2,
       CAST(COALESCE(dof, 0) AS BIGINT) AS dof
FROM totals t LEFT JOIN agg ON agg.k = t.k
ORDER BY event_type
"""


@golden(
    "bowker_user_band_weekend_by_type",
    BOWKER_ORACLE,
    tags=("evaluation", "bowker", "label-drift", "events"),
)
def bowker_user_band_weekend_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bowker symmetry test on each user's weekday-vs-weekend value
    band per event type — does user mass FLOW asymmetrically between
    bands on weekends (the k-category McNemar; a symmetric-looking
    confusion table can still hide net drift, and this is the test
    that charges it)? Users need both a weekday and a weekend mean;
    bands are the hellinger floor(mean/100) convention on 6dp-pinned
    means."""
    from mr_dice_spark.operators.evaluation import bowker_symmetry

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("k"),
        F.col("user_id"),
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7).isin(2, 3)
        .alias("we"),
        F.col("value").cast("double").alias("v"),
    )
    units = ev.groupBy("k", "user_id").agg(
        _r(F.avg(F.when(~F.col("we"), F.col("v"))), 6).alias("wd_mean"),
        _r(F.avg(F.when(F.col("we"), F.col("v"))), 6).alias("we_mean"),
    )
    labeled = units.where(
        F.col("wd_mean").isNotNull() & F.col("we_mean").isNotNull()
    ).select(
        "k",
        F.floor(F.col("wd_mean") / 100.0).cast("long").alias("a"),
        F.floor(F.col("we_mean") / 100.0).cast("long").alias("b"),
    )
    out = bowker_symmetry(labeled, "k", "a", "b")
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")


PARTIAL_CORR_ORACLE = """
WITH ev AS (
  SELECT event_type AS k, user_id,
         ((CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) % 7) IN (2, 3) AS we,
         CAST(value AS DOUBLE) AS v
  FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    AND ts IS NOT NULL AND value IS NOT NULL
),
triples AS (
  SELECT k, user_id,
         ROUND(SUM(CASE WHEN NOT we THEN v ELSE 0.0 END) + 1e-9, 6) AS x,
         ROUND(SUM(CASE WHEN we THEN v ELSE 0.0 END) + 1e-9, 6) AS y,
         CAST(COUNT(*) AS DOUBLE) AS z
  FROM ev GROUP BY k, user_id
),
agg AS (
  SELECT k, COUNT(*) AS n,
         CAST(COUNT(*) AS DECIMAL(6,0)) AS n_dec,
         CAST(SUM(CAST(x AS DECIMAL(16,6))) AS DECIMAL(18,6)) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(16,6))) AS DECIMAL(18,6)) AS sy,
         CAST(SUM(CAST(z AS DECIMAL(16,6))) AS DECIMAL(18,6)) AS sz,
         CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(16,6)))
              AS DECIMAL(31,12)) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(16,6)))
              AS DECIMAL(31,12)) AS syy,
         CAST(SUM(CAST(z AS DECIMAL(19,6)) * CAST(z AS DECIMAL(16,6)))
              AS DECIMAL(31,12)) AS szz,
         CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(16,6)))
              AS DECIMAL(31,12)) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(19,6)) * CAST(z AS DECIMAL(16,6)))
              AS DECIMAL(31,12)) AS sxz,
         CAST(SUM(CAST(y AS DECIMAL(19,6)) * CAST(z AS DECIMAL(16,6)))
              AS DECIMAL(31,12)) AS syz
  FROM triples GROUP BY k
),
canc AS (
  SELECT k, n,
         CAST(CAST(n_dec * sxx AS DECIMAL(37,12))
              - CAST(CAST(sx AS DECIMAL(19,6)) * CAST(sx AS DECIMAL(19,6))
                     AS DECIMAL(37,12)) AS DOUBLE) AS vx,
         CAST(CAST(n_dec * syy AS DECIMAL(37,12))
              - CAST(CAST(sy AS DECIMAL(19,6)) * CAST(sy AS DECIMAL(19,6))
                     AS DECIMAL(37,12)) AS DOUBLE) AS vy,
         CAST(CAST(n_dec * szz AS DECIMAL(37,12))
              - CAST(CAST(sz AS DECIMAL(19,6)) * CAST(sz AS DECIMAL(19,6))
                     AS DECIMAL(37,12)) AS DOUBLE) AS vz,
         CAST(CAST(n_dec * sxy AS DECIMAL(37,12))
              - CAST(CAST(sx AS DECIMAL(19,6)) * CAST(sy AS DECIMAL(19,6))
                     AS DECIMAL(37,12)) AS DOUBLE) AS cxy,
         CAST(CAST(n_dec * sxz AS DECIMAL(37,12))
              - CAST(CAST(sx AS DECIMAL(19,6)) * CAST(sz AS DECIMAL(19,6))
                     AS DECIMAL(37,12)) AS DOUBLE) AS cxz,
         CAST(CAST(n_dec * syz AS DECIMAL(37,12))
              - CAST(CAST(sy AS DECIMAL(19,6)) * CAST(sz AS DECIMAL(19,6))
                     AS DECIMAL(37,12)) AS DOUBLE) AS cyz
  FROM agg
),
rs AS (
  SELECT k, n,
         CASE WHEN n >= 2 AND vx > 0 AND vy > 0
              THEN ROUND(cxy / sqrt(vx * vy) + 1e-12, 9) END AS r_xy,
         CASE WHEN n >= 2 AND vx > 0 AND vz > 0
              THEN ROUND(cxz / sqrt(vx * vz) + 1e-12, 9) END AS r_xz,
         CASE WHEN n >= 2 AND vy > 0 AND vz > 0
              THEN ROUND(cyz / sqrt(vy * vz) + 1e-12, 9) END AS r_yz
  FROM canc
)
SELECT k AS event_type, CAST(n AS BIGINT) AS n,
       ROUND(r_xy + 1e-9, 6) AS r_xy,
       ROUND(r_xz + 1e-9, 6) AS r_xz,
       ROUND(r_yz + 1e-9, 6) AS r_yz,
       ROUND(CASE WHEN n >= 3
                   AND (1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz) > 0
             THEN (r_xy - r_xz * r_yz)
                  / sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))
             END + 1e-9, 6) AS r_xy_given_z
FROM rs ORDER BY event_type
"""


@golden(
    "partial_corr_weekend_given_volume",
    PARTIAL_CORR_ORACLE,
    tags=("evaluation", "partial-correlation", "confounding", "events"),
)
def partial_corr_weekend_given_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-order partial correlation between each user's weekday and
    weekend value totals, CONTROLLING for the user's event volume, per
    event type — does the weekday-weekend association survive removing
    the 'active users are active everywhere' confound, or was it
    volume wearing a costume? The missing third of the correlation
    story beside correlation_matrix (raw r) and lins_ccc (agreement).
    Decimal-cancelled moments; r's pinned at 9dp; one closed chain."""
    from mr_dice_spark.operators.evaluation import partial_correlation

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("k"),
        F.col("user_id"),
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7).isin(2, 3)
        .alias("we"),
        F.col("value").cast("double").alias("v"),
    )
    triples = ev.groupBy("k", "user_id").agg(
        _r(F.sum(F.when(~F.col("we"), F.col("v")).otherwise(0.0)), 6)
        .alias("x"),
        _r(F.sum(F.when(F.col("we"), F.col("v")).otherwise(0.0)), 6)
        .alias("y"),
        F.count(F.lit(1)).cast("double").alias("z"),
    )
    out = partial_correlation(triples, "k", "x", "y", "z")
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")


# ---------------------------------------------------------------------------
# Stuart-Maxwell: did the weekend shift the band DISTRIBUTION? (round 11)
# ---------------------------------------------------------------------------

STUART_MAXWELL_ORACLE = """
WITH ev AS (
  SELECT event_type AS k, user_id,
         ((CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)) % 7) IN (2, 3) AS we,
         CAST(value AS DOUBLE) AS v
  FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    AND ts IS NOT NULL AND value IS NOT NULL
),
units AS (
  SELECT k, user_id,
         ROUND(AVG(CASE WHEN NOT we THEN v END) + 1e-9, 6) AS wd_mean,
         ROUND(AVG(CASE WHEN we THEN v END) + 1e-9, 6) AS we_mean
  FROM ev GROUP BY k, user_id
),
labeled AS (
  SELECT k,
         CASE WHEN wd_mean < 45 THEN 0
              WHEN wd_mean < 55 THEN 1 ELSE 2 END AS a,
         CASE WHEN we_mean < 45 THEN 0
              WHEN we_mean < 55 THEN 1 ELSE 2 END AS b
  FROM units WHERE wd_mean IS NOT NULL AND we_mean IS NOT NULL
),
cells AS MATERIALIZED (
  SELECT k, a, b, COUNT(*) AS n FROM labeled GROUP BY k, a, b
),
margins AS (
  SELECT k, cat, SUM(r) - SUM(c) AS d
  FROM (
    SELECT k, a AS cat, n AS r, 0 AS c FROM cells
    UNION ALL
    SELECT k, b AS cat, 0 AS r, n AS c FROM cells
  ) GROUP BY k, cat
),
kc AS (SELECT k, COUNT(*) AS kc FROM margins GROUP BY k),
tot AS (SELECT k, SUM(n) AS tot FROM cells GROUP BY k),
pairs AS (
  SELECT k, LEAST(a, b) AS lo, GREATEST(a, b) AS hi, SUM(n) AS m
  FROM cells WHERE a <> b GROUP BY k, LEAST(a, b), GREATEST(a, b)
),
den AS (
  SELECT k, SUM(m) AS sm, SUM(m * m) AS sm2 FROM pairs GROUP BY k
),
num AS (
  SELECT p.k, SUM(p.m * g.d * g.d) AS num
  FROM pairs p JOIN margins g
    ON g.k = p.k AND g.cat <> p.lo AND g.cat <> p.hi
  GROUP BY p.k
)
SELECT t.k AS event_type, CAST(t.tot AS BIGINT) AS n,
       CAST(kc.kc AS BIGINT) AS k_categories,
       ROUND(CASE WHEN kc.kc = 3 AND den.sm IS NOT NULL
                   AND CAST(den.sm * den.sm - den.sm2 AS DOUBLE) / 2.0 > 0
             THEN CAST(num.num AS DOUBLE)
                  / (CAST(den.sm * den.sm - den.sm2 AS DOUBLE) / 2.0)
             END + 1e-9, 6) AS chi2,
       CASE WHEN kc.kc = 3 AND den.sm IS NOT NULL
                 AND CAST(den.sm * den.sm - den.sm2 AS DOUBLE) / 2.0 > 0
            THEN CAST(2 AS BIGINT) END AS dof
FROM tot t JOIN kc ON kc.k = t.k
LEFT JOIN den ON den.k = t.k
LEFT JOIN num ON num.k = t.k
ORDER BY event_type
"""


@golden(
    "stuart_maxwell_band_shift_by_type",
    STUART_MAXWELL_ORACLE,
    tags=("stats", "stuart-maxwell", "marginal-homogeneity", "events"),
)
def stuart_maxwell_band_shift_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stuart-Maxwell marginal homogeneity on each user's weekday-vs-
    weekend value tertile per event type — the NET-drift companion to
    bowker_user_band_weekend_by_type's pairwise-flow asymmetry:
    symmetric cancelling flows pass Bowker yet can still shift the
    band DISTRIBUTION, and this is the test that charges it. Fixed
    <45 / [45,55) / >=55 tertiles keep all three categories populated
    at every scale factor; the 3-category closed form is one division
    of exact integers."""
    from mr_dice_spark.operators.evaluation import stuart_maxwell_3

    _utc(spark)
    ev = Catalog(spark, sf_dir).events.where(
        F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        F.col("event_type").alias("k"),
        F.col("user_id"),
        (F.floor(F.unix_timestamp("ts") / 86400).cast("long") % 7).isin(2, 3)
        .alias("we"),
        F.col("value").cast("double").alias("v"),
    )
    units = ev.groupBy("k", "user_id").agg(
        _r(F.avg(F.when(~F.col("we"), F.col("v"))), 6).alias("wd_mean"),
        _r(F.avg(F.when(F.col("we"), F.col("v"))), 6).alias("we_mean"),
    )
    band = lambda c: (
        F.when(F.col(c) < 45, 0).when(F.col(c) < 55, 1).otherwise(2)
    )
    labeled = units.where(
        F.col("wd_mean").isNotNull() & F.col("we_mean").isNotNull()
    ).select("k", band("wd_mean").alias("a"), band("we_mean").alias("b"))
    out = stuart_maxwell_3(labeled, "k", "a", "b")
    return out.withColumnRenamed("k", "event_type").orderBy("event_type")

"""Incremental MinHash dedup against a persisted signature index.

The batch operators in ``operators.dedup`` dedup a corpus against itself.
A production training-data pipeline almost never does that: it ingests a
daily/hourly batch that must be deduped against **everything already
accepted** — at 100 TB, recomputing corpus signatures per batch is the
difference between a viable pipeline and an O(corpus × batches) one. This
module persists the per-document MinHash signature (docs × num_hashes
longs — orders of magnitude smaller than the text) and dedups each new
batch by joining against that index only.

Index layout: ONE parquet dataset (``signatures/``: __id, __sig
array<long>) plus a params manifest. LSH band keys are NOT stored — they
are a pure function of the signature (``dedup.band_keys``, the single
definition of the banding scheme) and are derived at read time. One
dataset means one append per batch: there is no multi-dataset commit to
tear in half, and the index is ~4x smaller; the price is recomputing
docs × bands hashes per batch read, which is noise next to the candidate
join's shuffle. All filesystem access goes through the Hadoop FileSystem
API, so ``index_path`` may be local, HDFS, or object storage.

Semantics: first-wins generalized across time — the index (earlier batches)
always beats the new batch; within the new batch, min id wins (the same
deterministic rule as ``dedup.minhash_lsh_dedup``, reference D1:
optimade_database/Optimade_Server/utils.py:398,426-431). An index hit with
the SAME id as the new row is treated as the same document re-submitted
(crash-retry): the row survives and is not re-appended, so re-running a
batch after a partial failure is idempotent.

Verification note: batch dedup verifies candidates with EXACT jaccard on
shingle sets; the incremental path verifies with the SIGNATURE-ESTIMATED
jaccard (fraction of agreeing MinHash components — an unbiased estimator
with sd ~= sqrt(j(1-j)/k), ±0.035 at k=128) because the index deliberately
does not retain corpus text or shingles. The estimator runs as a
higher-order zip_with over candidate pairs only — interpreted, but
post-pruning (candidate counts, not corpus counts), so it stays off the
hot path documented in PERFORMANCE.md §1.

Scale notes:
* candidate generation shuffles (id, band, key) pairs; signature
  verification shuffles candidate ids × one signature array each;
* at real scale, write the index range-clustered by a band prefix or
  bucket it so the per-batch candidate join shuffles only the (small)
  batch side.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mr_dice_spark.operators.dedup import band_keys, minhash_signatures, shingle_sets

_META = "index_meta.json"


# --- Hadoop FileSystem helpers (work on file://, hdfs://, s3a://, ...) -----

def _hpath(spark: SparkSession, path: str):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.Path(path)


def _hfs(spark: SparkSession, path: str):
    return _hpath(spark, path).getFileSystem(spark._jsc.hadoopConfiguration())


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    p = _hpath(spark, path)
    out = _hfs(spark, path).create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(spark: SparkSession, path: str) -> str:
    jvm = spark._jvm
    p = _hpath(spark, path)
    fs = _hfs(spark, path)
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, jvm.java.nio.charset.StandardCharsets.UTF_8
        )
    finally:
        stream.close()


def _fs_exists(spark: SparkSession, path: str) -> bool:
    return _hfs(spark, path).exists(_hpath(spark, path))


# ---------------------------------------------------------------------------


def _sig_dir(index_path: str) -> str:
    return index_path.rstrip("/") + "/signatures"


def _batch_signatures(
    df: DataFrame, id_col: str, text_col: str, params: dict
) -> DataFrame:
    """(__id, __sig array<long>) MinHash state for one batch."""
    num_hashes = params["num_hashes"]
    sets_ = shingle_sets(df, id_col, text_col, params["shingle_n"])
    exploded = sets_.select(
        "__id", F.explode_outer("__sh").alias("__s")
    ).where(F.col("__s").isNotNull())  # avoid InferFiltersFromGenerate re-evaluation
    wide = minhash_signatures(exploded, num_hashes)
    return wide.select(
        "__id", F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("__sig")
    )


def _band_key_rows(sig: DataFrame, params: dict) -> DataFrame:
    """(__id, __band, __key) derived from stored/computed signature arrays
    via the SAME ``dedup.band_keys`` expression the batch operators use."""
    num_hashes, bands = params["num_hashes"], params["bands"]
    return sig.select(
        "__id",
        F.posexplode(
            band_keys([F.col("__sig")[i] for i in range(num_hashes)], bands)
        ).alias("__band", "__key"),
    )


def estimated_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """MinHash estimate: fraction of agreeing signature components."""
    matches = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return matches / F.size(sig_a)


def minhash_index_create(
    spark: SparkSession,
    index_path: str,
    shingle_n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    exist_ok: bool = False,
) -> dict:
    """Initialize an empty index directory with a params manifest.

    Refuses to touch an existing index: overwriting the manifest with
    different params silently desynchronizes it from the stored signature
    arrays (band derivation reads past/short of the arrays and
    near-duplicates are admitted with no error). ``exist_ok=True`` makes
    the call idempotent when the params MATCH — the daily-job-safe form.

    Concurrency caveat: the exists-then-write is check-then-act, so two
    creators racing the SAME fresh path can both pass the check and the
    later manifest silently wins. Index creation is a one-time
    administrative step — serialize it (or create-with-overwrite=false on
    a filesystem that supports it); the per-batch append path has no such
    race (appends are additive, params are read-only).
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    params = {"shingle_n": shingle_n, "num_hashes": num_hashes, "bands": bands}
    manifest = index_path.rstrip("/") + "/" + _META
    if _fs_exists(spark, manifest):
        existing = _read_params(spark, index_path)
        if exist_ok and existing == params:
            return params
        raise ValueError(
            f"index already exists at {index_path} with params {existing}; "
            "pass exist_ok=True with matching params, or use a new path"
        )
    _fs_write_text(spark, manifest, json.dumps(params))
    return params


def _read_params(spark: SparkSession, index_path: str) -> dict:
    return json.loads(_fs_read_text(spark, index_path.rstrip("/") + "/" + _META))


def minhash_index_append(
    df: DataFrame, id_col: str, text_col: str, index_path: str
) -> None:
    """Compute and append MinHash state for ``df``'s rows to the index.

    Caller guarantees ``df`` is already deduped (normally: the survivors
    returned by :func:`dedup_incremental`)."""
    spark = df.sparkSession
    params = _read_params(spark, index_path)
    sig = _batch_signatures(df, id_col, text_col, params)
    sig.write.mode("append").parquet(_sig_dir(index_path))


def dedup_incremental(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    threshold: float = 0.8,
    append_survivors: bool = True,
) -> DataFrame:
    """Dedup ``new_df`` against the persisted index AND within itself;
    optionally append the survivors' state to the index.

    Returns the surviving rows of ``new_df`` (full original columns).

    Documents too short to produce a shingle have no signature: they always
    survive and leave no index state (exact copies of them are not
    suppressed later) — same contract as the batch MinHash operators; pair
    with ``dedup_exact`` if short-doc dedup matters.

    Verification note: BOTH probe directions (vs-index and within-batch)
    compare signature-estimated jaccard, not exact shingle jaccard — the
    index retains signatures only, and the within-batch side matches so
    one batch gives one consistent decision rule (sd ~1/sqrt(num_hashes)
    around the threshold; raise num_hashes to tighten). The batch
    ``minhash_lsh_dedup`` verifies exactly and may differ near the
    threshold.
    """
    spark = new_df.sparkSession
    params = _read_params(spark, index_path)
    # duplicate ids WITHIN the batch would min-merge into one chimera
    # signature matching neither document (groupBy in the signature
    # aggregate), silently corrupting the index — the intra-batch form of
    # the cross-batch id-reuse bug rejected below. COST: one eager job.
    dup_ids = [
        r[0]
        for r in new_df.groupBy(id_col)
        .count()
        .where(F.col("count") > 1)
        .limit(5)
        .collect()
    ]
    if dup_ids:
        raise ValueError(
            f"duplicate id(s) within batch: {dup_ids}; "
            "ids must be unique within a batch"
        )
    sig = _batch_signatures(new_df, id_col, text_col, params)
    sig = sig.localCheckpoint(eager=True)  # reused: vs-index, within-batch, append
    keys = _band_key_rows(sig, params)

    # --- new-vs-index candidates: index always wins ---------------------
    have_index = _fs_exists(spark, _sig_dir(index_path))
    already_indexed = None
    if have_index:
        idx_sig = spark.read.parquet(_sig_dir(index_path))
        # same-id hits are exempted from dedup as crash-retry re-submission
        # — which is only sound if the content actually matches. An id that
        # is already indexed with a DIFFERENT signature is id reuse (a
        # pipeline bug): failing loudly beats silently admitting the row
        # while never indexing its content. COST: one extra eager
        # index-scan+join job per batch.
        collisions = [
            r[0]
            for r in sig.alias("n")
            .join(idx_sig.alias("i"), F.col("n.__id") == F.col("i.__id"))
            .where(F.col("n.__sig") != F.col("i.__sig"))
            .select(F.col("n.__id"))
            .limit(5)
            .collect()
        ]
        if collisions:
            raise ValueError(
                "id(s) already indexed with different content (id reuse): "
                f"{collisions}; ids must be globally unique across batches"
            )
        idx_keys = _band_key_rows(idx_sig, params)
        cand_idx = (
            keys.alias("n")
            .join(
                idx_keys.alias("i"),
                (F.col("n.__band") == F.col("i.__band"))
                & (F.col("n.__key") == F.col("i.__key"))
                # same id in index = this very document re-submitted
                # (crash-retry); survives, handled via already_indexed
                & (F.col("n.__id") != F.col("i.__id")),
            )
            .select(F.col("n.__id").alias("__nid"), F.col("i.__id").alias("__iid"))
            .distinct()
        )
        idx_losers = (
            cand_idx.join(sig.withColumnsRenamed({"__id": "__nid", "__sig": "__sa"}), "__nid")
            .join(idx_sig.withColumnsRenamed({"__id": "__iid", "__sig": "__sb"}), "__iid")
            .where(estimated_jaccard(F.col("__sa"), F.col("__sb")) >= threshold)
            .select("__nid")
            .distinct()
        )
        already_indexed = idx_sig.select("__id")
    else:
        idx_losers = None

    # --- within-batch candidates: min id wins ---------------------------
    cand_new = (
        keys.alias("x")
        .join(
            keys.alias("y"),
            (F.col("x.__band") == F.col("y.__band"))
            & (F.col("x.__key") == F.col("y.__key"))
            & (F.col("x.__id") < F.col("y.__id")),
        )
        .select(F.col("x.__id").alias("__ida"), F.col("y.__id").alias("__idb"))
        .distinct()
    )
    new_losers = (
        cand_new.join(sig.withColumnsRenamed({"__id": "__ida", "__sig": "__sa"}), "__ida")
        .join(sig.withColumnsRenamed({"__id": "__idb", "__sig": "__sb"}), "__idb")
        .where(estimated_jaccard(F.col("__sa"), F.col("__sb")) >= threshold)
        .select(F.col("__idb").alias("__nid"))
        .distinct()
    )
    losers = new_losers if idx_losers is None else new_losers.unionByName(idx_losers).distinct()

    survivors = new_df.join(
        losers.withColumnRenamed("__nid", id_col), id_col, "left_anti"
    )
    if append_survivors:
        # materialize the survivor set once; append its precomputed state,
        # skipping ids already present (idempotent crash-retry re-run)
        survivors = survivors.localCheckpoint(eager=True)
        surv_ids = survivors.select(F.col(id_col).alias("__id"))
        to_append = sig.join(surv_ids, "__id", "left_semi")
        if already_indexed is not None:
            to_append = to_append.join(already_indexed, "__id", "left_anti")
        to_append.write.mode("append").parquet(_sig_dir(index_path))
    return survivors

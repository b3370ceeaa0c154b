"""Multimodal operators: Arrow-batched decode/feature/resize/frame-sample.

Scale rules baked in:

* **Payload isolation** — every op first projects down to (ids, payload),
  so Parquet column pruning keeps unrelated columns out of the Arrow
  transfer; results re-join to the original frame only when asked.
* **Python only where unavoidable** — codec calls run in ``mapInPandas``
  (iterator of Arrow batches, bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch``); everything derivable
  from decoded *metadata* (frame indices, resize geometry) is built-in
  expressions (``sequence``/``posexplode``/arithmetic) that stay in
  whole-stage codegen.
* **No shuffle** — all ops here are narrow (mapPartitions-shaped); the
  relational stages around them decide partitioning.

The codec layer (`codecs.py`) is a deterministic stub in this container;
see its docstring.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mr_dice_spark.multimodal import codecs

_IMG_META_FIELDS = "width int, height int, channels int, format string"
_VID_META_FIELDS = "width int, height int, fps double, n_frames int, format string"
_AUD_META_FIELDS = "sample_rate int, n_samples bigint, n_channels int, format string"


def read_media_dir(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """Binary-file source: one row per file with ``path / modificationTime /
    length / content``. Spark's built-in ``binaryFile`` reader — distributed,
    no Python involved; ``pathGlobFilter`` prunes by extension at listing
    time."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select(
            # media_id doubles the uri so the probe_*/resize defaults
            # (id_cols=['media_id']) compose with this source directly
            F.col("path").alias("media_id"),
            F.col("path").alias("uri"),
            F.col("modificationTime").alias("modified_at"),
            F.col("length").alias("n_bytes"),
            F.col("content").alias("payload"),
        )
    )


def _probe(df: DataFrame, payload_col: str, id_cols: list[str], decode_fn, meta_fields: str) -> DataFrame:
    pruned = df.select(*id_cols, payload_col)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in pruned.schema.fields
        if f.name != payload_col
    ) + ", " + meta_fields
    meta_names = [part.strip().split()[0] for part in meta_fields.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = pdf[payload_col].map(
                lambda p: decode_fn(bytes(p)) if p is not None else None
            )
            # reindex pins the column set even when a whole batch decodes
            # to None (all-null payloads) — missing keys become NaN/NULL
            meta_df = pd.DataFrame(
                [m if m is not None else {} for m in metas], index=pdf.index
            ).reindex(columns=meta_names)
            yield pd.concat([pdf.drop(columns=[payload_col]), meta_df], axis=1)

    return pruned.mapInPandas(run, schema=out_schema)


def probe_images(df: DataFrame, payload_col: str = "payload", id_cols: Optional[list[str]] = None) -> DataFrame:
    """Decode image headers -> typed metadata columns (drops the payload).

    PNG/BMP/JPEG headers are parsed for REAL (stdlib struct — see
    codecs.real_probe_image); other payloads fall back to the
    deterministic stub so the pipeline stays total."""
    return _probe(df, payload_col, id_cols or ["media_id"], codecs.decode_image, _IMG_META_FIELDS)


def probe_videos(df: DataFrame, payload_col: str = "payload", id_cols: Optional[list[str]] = None) -> DataFrame:
    """Decode video container headers -> typed metadata (drops payload).

    MP4/MOV (ISO-BMFF box walk) and AVI (RIFF avih) headers are parsed
    for REAL (stdlib struct — codecs.real_probe_video); other payloads
    fall back to the deterministic stub so the pipeline stays total.
    Frame PIXEL decode still requires a codec library (extract_frames
    documents the stub boundary)."""
    return _probe(df, payload_col, id_cols or ["media_id"], codecs.decode_video, _VID_META_FIELDS)


def probe_audio(df: DataFrame, payload_col: str = "payload", id_cols: Optional[list[str]] = None) -> DataFrame:
    """RIFF/WAVE payloads probe for real (codecs.real_probe_wav); anything
    else falls back to the deterministic stub."""
    return _probe(df, payload_col, id_cols or ["media_id"], codecs.decode_audio, _AUD_META_FIELDS)


def image_features(df: DataFrame, payload_col: str = "payload", dim: int = 8) -> DataFrame:
    """Append an ``embedding array<float>`` column (CNN/CLIP stand-in).

    Decodable payloads (BMP/PNG/baseline-JPEG — codecs.decode_pixels)
    get REAL pixel statistics (a dim-length grid of spatial cell means over the gray
    image, values in [0,1]); anything else keeps the deterministic
    byte-sum stub. Kept as a scalar Pandas UDF (not mapInPandas) so it
    composes with any projection; Arrow moves the binary column once per
    batch."""

    @F.pandas_udf(f"array<float>")
    def feat(s: pd.Series) -> pd.Series:
        def one(p):
            if p is None:
                return None
            b = bytes(p)
            try:
                img = codecs.decode_pixels(b)
            except Exception:
                img = None
            if img is not None:
                return codecs.real_image_features(img, dim)
            return codecs.fake_image_features(b, dim)

        return s.map(one)

    return df.withColumn("embedding", feat(F.col(payload_col)))


def audio_features(df: DataFrame, payload_col: str = "payload", id_cols: Optional[list[str]] = None) -> DataFrame:
    """(ids, duration_s, rms, peak) — REAL signal statistics for PCM WAV
    payloads (stdlib header walk + numpy over the sample frames);
    non-WAV payloads yield NULL stats rather than fabricated ones (a
    fake RMS would poison downstream quality filters)."""
    id_cols = id_cols or ["media_id"]
    pruned = df.select(*id_cols, payload_col)
    id_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in pruned.schema.fields
        if f.name != payload_col
    )
    out_schema = f"{id_schema}, duration_s double, rms double, peak double"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def safe(p):
            if p is None:
                return None
            try:
                return codecs.wav_signal_stats(bytes(p))
            except Exception:
                return None  # malformed container must not fail the task

        for pdf in batches:
            out = pdf.drop(columns=[payload_col])
            stats = [safe(p) for p in pdf[payload_col]]
            out["duration_s"] = [s and s["duration_s"] for s in stats]
            out["rms"] = [s and s["rms"] for s in stats]
            out["peak"] = [s and s["peak"] for s in stats]
            yield out

    return pruned.mapInPandas(run, schema=out_schema)


def audio_tone_powers(
    df: DataFrame,
    bins: list[int],
    n_fft: int = 256,
    payload_col: str = "payload",
    id_cols: Optional[list[str]] = None,
) -> DataFrame:
    """DFT power at the given bin indices over each clip's first
    ``n_fft`` samples — the tone-detection primitive (DTMF / pilot-tone /
    alarm detection over an audio corpus).

    Decodes PCM WAV samples for real (codecs.wav_samples, first channel,
    raw integers) and computes ``P_k = (Σ x·cos(2πkn/N))² +
    (Σ x·sin(2πkn/N))²`` per requested bin k. Emits (ids, bin_powers
    array<double>, n_used int); NULL powers for non-WAV payloads or
    clips shorter than ``n_fft``. One narrow Arrow-batched pass, no
    shuffle; the argmax/ratio finishing is left to codegen'd array
    expressions downstream. At 100 TB this pipelines batch-by-batch like
    every codec op here — cost is O(clips · n_fft · |bins|) with nothing
    materialized but the power vectors."""
    import numpy as np

    id_cols = id_cols or ["media_id"]
    pruned = df.select(*id_cols, payload_col)
    id_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in pruned.schema.fields
        if f.name != payload_col
    )
    out_schema = f"{id_schema}, bin_powers array<double>, n_used int"
    ks = np.asarray(list(bins), dtype=np.float64)
    n = np.arange(n_fft, dtype=np.float64)
    # (|bins|, n_fft) correlation kernels, built once per executor task
    ang = 2.0 * np.pi * ks[:, None] * n[None, :] / float(n_fft)
    cos_k, sin_k = np.cos(ang), np.sin(ang)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(p):
            if p is None:
                return None
            try:
                x = codecs.wav_samples(bytes(p))
            except Exception:
                return None  # malformed container must not fail the task
            if x is None or x.size < n_fft:
                return None
            xf = x[:n_fft].astype(np.float64)
            return ((cos_k @ xf) ** 2 + (sin_k @ xf) ** 2).tolist()

        for pdf in batches:
            out = pdf.drop(columns=[payload_col])
            powers = [one(p) for p in pdf[payload_col]]
            out["bin_powers"] = powers
            out["n_used"] = pd.array(
                [n_fft if p is not None else None for p in powers], dtype="Int32"
            )
            yield out

    return pruned.mapInPandas(run, schema=out_schema)


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    payload_col: str = "payload",
    id_cols: Optional[list[str]] = None,
) -> DataFrame:
    """Resize: payload -> payload' with new geometry.

    Decodable payloads (24-bit BMP, 8-bit non-interlaced PNG, baseline
    JPEG — see codecs.decode_pixels) are REALLY resized (nearest-neighbor numpy) and
    re-encoded as BMP in the same Arrow batch loop. Everything else keeps
    the stub semantics: payload passes through unchanged, geometry is
    replaced and ``resized`` flagged. Output schema (ids, payload, width,
    height) is what a training-data writer sinks back to Parquet."""
    id_cols = id_cols or ["media_id"]
    pruned = df.select(*id_cols, payload_col)
    id_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in pruned.schema.fields
        if f.name != payload_col
    )
    out_schema = f"{id_schema}, {payload_col} binary, width int, height int, resized boolean"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            payloads = []
            for v in out[payload_col]:
                if v is None:
                    payloads.append(None)
                    continue
                try:
                    img = codecs.decode_pixels(bytes(v))
                    resized = (
                        codecs.encode_bmp(codecs.resize_pixels(img, target_w, target_h))
                        if img is not None
                        else None
                    )
                except Exception:
                    resized = None  # malformed container: stub passthrough
                payloads.append(resized if resized is not None else v)
            ok = out[payload_col].notna()
            out[payload_col] = payloads
            # no fabricated geometry for missing media: a NULL payload gets
            # NULL width/height, not the target dimensions it never reached
            out["width"] = pd.array([target_w if v else None for v in ok], dtype="Int32")
            out["height"] = pd.array([target_h if v else None for v in ok], dtype="Int32")
            out["resized"] = ok
            yield out

    return pruned.mapInPandas(run, schema=out_schema)


def sample_frames(
    probed: DataFrame,
    n_frames_col: str = "n_frames",
    target: int = 8,
    id_cols: Optional[list[str]] = None,
) -> DataFrame:
    """Uniform frame sampling from probed videos — pure JVM expressions.

    Given per-video ``n_frames``, emit ≤ ``target`` evenly-strided frame
    indices per video as (ids, frame_idx, frame_rank). Only the *probe*
    touched Python; index generation is ``sequence`` + ``posexplode`` so it
    codegens and scales linearly. The downstream frame *extraction* (bytes
    per index) would join these indices back to payloads inside one more
    mapInPandas pass."""
    id_cols = id_cols or ["media_id"]
    n = F.col(n_frames_col)
    stride = F.greatest(F.lit(1), F.ceil(n / F.lit(target)).cast("int"))
    idx = F.slice(F.sequence(F.lit(0), n - 1, stride), 1, target)
    return (
        probed.where(n.isNotNull() & (n > 0))
        .select(*id_cols, F.posexplode(idx).alias("frame_rank", "frame_idx"))
    )


def payload_from_text(text_col: Column) -> Column:
    """Test/fixture helper: deterministic binary payload from a string
    column (UTF-8 encode) — stands in for real blobs in a container with no
    media files. JVM-side (``encode``), so fixtures scale too."""
    return F.encode(text_col, "UTF-8")


def extract_frames(
    probed_with_payload: DataFrame,
    sampled: DataFrame,
    id_cols: Optional[list[str]] = None,
    payload_col: str = "payload",
) -> DataFrame:
    """Second pass of the video pipeline: join sampled frame indices back to
    payloads and emit one (ids, frame_idx, frame_bytes) row per frame.

    Plan shape: the (ids, frame_idx) table is tiny RELATIVE to payloads but
    grows with the corpus — one row per video. It is broadcast, which is
    right for up to tens of millions of videos. The payload table is
    scanned ONCE, and each partition's mapInPandas call slices all of its
    videos' requested frames in one Arrow batch.

    frame_bytes semantics: for MP4 payloads with a sample table
    (stsz/stsc/stco) and AVI payloads with a movi section (00dc/00db
    chunks) the slice is the REAL encoded sample — the container walk
    runs once per payload (codecs.video_sample_slices) and each requested
    index slices its true (offset, size) range. Other payloads (and
    containers without a table) keep the deterministic stub window.
    Decoding the extracted sample to PIXELS still needs a codec library
    (PyAV) — that swap happens in this loop with nothing upstream
    changing.
    """
    id_cols = id_cols or ["media_id"]
    frames = sampled.groupBy(*id_cols).agg(
        F.sort_array(F.collect_list("frame_idx")).alias("__idxs")
    )
    pruned = probed_with_payload.select(*id_cols, payload_col)
    joined = pruned.join(F.broadcast(frames), id_cols)
    id_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in pruned.schema.fields
        if f.name != payload_col
    )
    out_schema = f"{id_schema}, frame_idx int, frame_bytes binary"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {c: [] for c in list(pdf.columns.drop([payload_col, "__idxs"])) +
                    ["frame_idx", "frame_bytes"]}
            for _, r in pdf.iterrows():
                payload = bytes(r[payload_col]) if r[payload_col] is not None else b""
                idxs = r["__idxs"] if r["__idxs"] is not None else []
                try:  # sample table walked ONCE per payload, not per frame
                    slices = codecs.video_sample_slices(payload)
                except Exception:
                    slices = None
                for idx in idxs:
                    for c in rows:
                        if c == "frame_idx":
                            rows[c].append(int(idx))
                        elif c == "frame_bytes":
                            if slices is not None and 0 <= int(idx) < len(slices):
                                off, size = slices[int(idx)]
                                rows[c].append(payload[off : off + size])
                            else:
                                # STUB frame decode: a 16-byte window at a
                                # deterministic offset derived from the index
                                off = (int(idx) * 16) % max(1, len(payload))
                                rows[c].append(payload[off : off + 16])
                        else:
                            rows[c].append(r[c])
            yield pd.DataFrame(rows)

    return joined.mapInPandas(run, schema=out_schema)


def ahash_images(
    df: DataFrame,
    id_cols: Optional[list[str]] = None,
    payload_col: str = "payload",
    hash_size: int = 8,
) -> DataFrame:
    """Perceptual average-hash per image: ids + ``ahash_bits`` (a
    ``hash_size²``-char '0'/'1' string from REAL decoded pixels —
    codecs.average_hash_bits; NULL when the payload doesn't pixel-decode,
    i.e. undecodable images are never "deduplicated" against each other
    on a fake hash). The classic pixel-level near-dup key for image
    corpora: byte-identical copies AND re-encodes/minor-noise variants
    collapse to one hash. Arrow-batched scalar UDF, map-only pass."""
    id_cols = id_cols or ["media_id"]

    @F.pandas_udf("string")
    def ah(payload: pd.Series) -> pd.Series:
        out = []
        for p in payload:
            img = None
            if p is not None:
                try:
                    img = codecs.decode_pixels(bytes(p))
                except Exception:
                    img = None
            out.append(
                codecs.average_hash_bits(img, hash_size) if img is not None else None
            )
        return pd.Series(out)

    return df.select(*id_cols, ah(F.col(payload_col)).alias("ahash_bits"))


def image_dedup_ahash(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    hash_size: int = 8,
) -> DataFrame:
    """First-wins image dedup on the average hash: every decodable image
    gains (ahash_bits, is_canonical) — canonical = lowest id per hash —
    and undecodable images pass through with a NULL hash, canonical by
    convention (never collapsed). One hash shuffle on the 64-char key,
    the same shape as exact text dedup.

    NULL-hash rows are split out BEFORE the window: a crawled corpus can
    hold millions of undecodable images, and partitioning them all into
    the window's single NULL group would sort them in one straggler task
    only to discard the rank — their verdict is a constant."""
    from pyspark.sql import Window

    # the split consumes the hashed frame twice; materialize so the
    # pixel decode + hash (the expensive Python stage) runs ONCE
    # (same trade as decontaminate.contamination_stats's shingle sets)
    hashed = ahash_images(df, id_cols=[id_col], payload_col=payload_col,
                          hash_size=hash_size).localCheckpoint(eager=True)
    decodable = hashed.where(F.col("ahash_bits").isNotNull())
    w = Window.partitionBy("ahash_bits").orderBy(F.col(id_col).asc())
    ranked = decodable.withColumn(
        "is_canonical", F.row_number().over(w) == 1
    )
    passthrough = hashed.where(F.col("ahash_bits").isNull()).withColumn(
        "is_canonical", F.lit(True)
    )
    return ranked.unionByName(passthrough)

"""Lineage, metrics and checkpointed resume (SURVEY.md §4.3.3; north_rule).

Production shape: Iceberg snapshot per completed partition-batch — atomic
commits, resume = anti-join pending doc_ids against the committed output.
The Iceberg jars are not in this image, so this module implements the same
protocol on parquet + a manifest directory:

  out_dir/
    data/batch=<id>/      extracted rows for one doc-batch  (parquet)
    metrics/batch=<id>/   per-media-span metric/error rows  (parquet)
    _manifest/<id>.json   written ATOMICALLY (tmp+rename) after both
                          writes succeed — the commit record

A re-run lists committed batch ids, anti-joins them away, and processes
only the remainder; killed-mid-run work is invisible (no manifest) and is
redone exactly once.  Batches are ``pmod(xxhash64(doc_id), n_batches)`` —
deterministic, uniform, and computable on both sides of the resume.

All manifest I/O goes through the JVM Hadoop FileSystem API, so the
commit/resume protocol works wherever Spark can write (hdfs://, s3a://,
file:), not only on the driver's POSIX disk.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import assemble_spans, extract_cue_rows, extract_with_side, split_side_channel

__all__ = [
    "committed_batches",
    "partition_lineage",
    "pending_documents",
    "run_with_checkpoints",
]


def partition_lineage(side: DataFrame) -> DataFrame:
    """Aggregate the kernels' ``_metric`` side-channel into per-physical-
    partition lineage rows (north_rule: per-partition lineage + metrics):

        part, n_payloads, n_comps, n_cues, n_dropped, n_bytes, wall_ms, n_errors

``n_cues + n_dropped == n_comps``: a composition whose rasterize/OCR
fails is counted, never silently lost.

    One narrow JSON projection + one tiny groupBy — the metric rows are a
    few hundred bytes each regardless of payload size, so this aggregates
    cheaply even when the extraction itself processed terabytes.
    """
    metric_schema = "bytes long, comps long, cues long, dropped long, part int, wall_ms double"
    parsed = side.select(
        "kind", F.from_json("text", metric_schema).alias("m")
    )
    metrics = parsed.filter(F.col("kind") == "_metric").select(
        F.col("m.part").alias("part"),
        F.col("m.bytes").alias("bytes"),
        F.col("m.comps").alias("comps"),
        F.col("m.cues").alias("cues"),
        F.col("m.dropped").alias("dropped"),
        F.col("m.wall_ms").alias("wall_ms"),
    )
    errors = (
        parsed.filter(F.col("kind") == "_error")
        .groupBy()
        .agg(F.count("*").alias("n"))
    )
    agg = metrics.groupBy("part").agg(
        F.count("*").alias("n_payloads"),
        F.sum("comps").alias("n_comps"),
        F.sum("cues").alias("n_cues"),
        F.sum("dropped").alias("n_dropped"),
        F.sum("bytes").alias("n_bytes"),
        F.round(F.sum("wall_ms"), 3).alias("wall_ms"),
    )
    # error rows carry no partition id (failure may precede the metric);
    # attach the global count to every row for visibility
    return agg.crossJoin(
        F.broadcast(errors.select(F.coalesce(F.first("n"), F.lit(0)).alias("n_errors")))
    )


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop FS API — the
    manifest protocol must work on cluster storage (hdfs://, s3a://, ...),
    not just the driver's POSIX disk.  HDFS rename is atomic; S3A rename
    is copy+delete (the classic pre-Iceberg manifest-commit caveat — a
    real deployment swaps this module for Iceberg snapshot commits, which
    the jars in this image don't include)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _spark_for_fs(spark: SparkSession | None) -> SparkSession | None:
    return spark if spark is not None else SparkSession.getActiveSession()


def committed_batches(out_dir: str, spark: SparkSession | None = None) -> list[int]:
    spark = _spark_for_fs(spark)
    if spark is None:  # no JVM available: driver-local POSIX fallback
        mdir = os.path.join(out_dir, "_manifest")
        if not os.path.isdir(mdir):
            return []
        names = os.listdir(mdir)
    else:
        fs, mdir_p = _hadoop_fs(spark, out_dir + "/_manifest")
        if not fs.exists(mdir_p):
            return []
        names = [st.getPath().getName() for st in fs.listStatus(mdir_p)]
    return sorted(
        int(f[:-5]) for f in names if f.endswith(".json") and not f.startswith(".")
    )


def _with_batch(documents: DataFrame, n_batches: int) -> DataFrame:
    return documents.withColumn(
        "_batch", F.pmod(F.xxhash64("doc_id"), F.lit(n_batches)).cast("int")
    )


def pending_documents(documents: DataFrame, out_dir: str, n_batches: int) -> DataFrame:
    """Documents not yet covered by a committed batch (the resume scan)."""
    done = set(committed_batches(out_dir, documents.sparkSession))
    df = _with_batch(documents, n_batches)
    if done:
        df = df.filter(~F.col("_batch").isin(sorted(done)))
    return df


def _commit(spark: SparkSession, out_dir: str, batch_id: int, payload: dict) -> None:
    """Atomic(-ish) manifest commit: write tmp, rename into place — through
    the Hadoop FS layer so the protocol holds on hdfs:// (atomic rename)
    and degrades documented-ly on s3a:// (copy+delete)."""
    fs, mdir_p = _hadoop_fs(spark, out_dir + "/_manifest")
    fs.mkdirs(mdir_p)
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(out_dir + f"/_manifest/.{batch_id}.json.tmp")
    final = jvm.org.apache.hadoop.fs.Path(out_dir + f"/_manifest/{batch_id}.json")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(payload, sort_keys=True).encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, final):
        raise IOError(f"manifest rename failed: {tmp} -> {final}")


def _batch_outputs(
    batch_docs: DataFrame, mode: str, **extract_kw
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """-> (cached kernel output, extracted documents, side-channel rows),
    the last two read from the first: the kernel runs once per batch."""
    if mode == "fused":
        out = extract_with_side(batch_docs, **extract_kw).cache()
        side = out.select("doc_id", F.explode("side").alias("s")).select(
            "doc_id", "s.offset", "s.seq", "s.kind", "s.text", "s.media_ref"
        )
        return out, out.drop("side"), side
    flat = extract_cue_rows(batch_docs, mode=mode, **extract_kw).cache()
    return flat, assemble_spans(batch_docs, flat), split_side_channel(flat)[1]


def run_with_checkpoints(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    n_batches: int = 8,
    mode: str = "fused",
    max_batches: int | None = None,
    **extract_kw,
) -> list[int]:
    """Extract with per-batch snapshot commits; idempotent on re-run.

    ``max_batches`` limits work this invocation (used by tests to simulate
    a mid-run kill).  Returns the batch ids committed by THIS run.  In the
    default mode each batch reads ``documents`` once: the one-scan plan's
    output is cached and both ``data/`` and ``metrics/`` (CUE_SCHEMA rows,
    one ``_metric``/``_error`` row per media payload) are written from it.
    """
    done_before = set(committed_batches(out_dir, spark))
    df = _with_batch(documents, n_batches)
    committed_now: list[int] = []
    for batch_id in range(n_batches):
        if batch_id in done_before:
            continue
        if max_batches is not None and len(committed_now) >= max_batches:
            break
        batch_docs = df.filter(F.col("_batch") == batch_id).drop("_batch")
        t0 = time.perf_counter()
        cached, extracted, side = _batch_outputs(batch_docs, mode, **extract_kw)
        try:
            data_path = os.path.join(out_dir, "data", f"batch={batch_id}")
            metrics_path = os.path.join(out_dir, "metrics", f"batch={batch_id}")
            extracted.write.mode("overwrite").parquet(data_path)
            side.write.mode("overwrite").parquet(metrics_path)
            # manifest counts from the CACHED kernel output — re-reading the
            # parquet just written costs a full extra read per batch at
            # scale; the cache guarantees the kernel doesn't re-run either
            n_docs = extracted.count()
            n_side = side.count()
        finally:
            cached.unpersist()
        _commit(
            spark,
            out_dir,
            batch_id,
            {
                "batch": batch_id,
                "n_docs": n_docs,
                "n_metric_rows": n_side,
                "wall_s": round(time.perf_counter() - t0, 3),
                "mode": mode,
            },
        )
        committed_now.append(batch_id)
    return committed_now

"""The traced run: per-layer numbers for one workload.

Spans are recorded from the benchmark's side, around calls into each of
the program's modules (no span is recorded inside the program):

  sources   read_documents -> noop sink                     sources.scan_s
  pipeline  explode + media filter + unbase64 -> noop       pipeline.explode_s
            assemble_spans over materialized cue rows       pipeline.assemble_s
  kernels   extract_cue_rows -> parquet                     kernels.cue_rows_s
  pgs       decode_to_display_sets / rasterize / recognize, one process,
            no Spark; and decode_media_payload on a process pool (ceiling)
  metrics   run_with_checkpoints, one batch per call, then the resume

Counts come from the extraction's physical plan (scans, exchanges) and
from Spark's event log of the traced extraction runs (stages, tasks, GC,
shuffle, task durations); input bytes from the scans' read schemas and the
table's parquet metadata.  Spans stay in memory and are written as
JSON at the end, with the tracing overhead: the traced extraction's median
wall time minus the untraced median of the same run.
"""

from __future__ import annotations

import gc
import glob
import json
import multiprocessing
import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from multiprocessing import resource_tracker

import corpora
import procstat
from pgstosrt_spark.pgs.compose import rasterize
from pgstosrt_spark.pgs.decode import decode_to_display_sets
from pgstosrt_spark.pgs.model import DecodeError
from pgstosrt_spark.pgs.ocr import GlyphAtlasOcr

TRACED_RUNS = 2

# name -> (unit, end-to-end metric it should move, on which workload)
PER_LAYER = {
    "sources.scans": ("count", "wall_s, cpu_s", "text_heavy, checkpointed"),
    "sources.input_mb": ("MB", "wall_s, cpu_s", "text_heavy, checkpointed"),
    "sources.scan_s": ("s", "wall_s, cpu_s", "text_heavy, checkpointed"),
    "pipeline.exchanges": ("count", "wall_s", "text_heavy"),
    "pipeline.shuffle_write_mb": ("MB", "wall_s", "text_heavy"),
    "pipeline.shuffle_records": ("count", "wall_s", "text_heavy"),
    "pipeline.explode_s": ("s", "wall_s", "text_heavy"),
    "pipeline.assemble_s": ("s", "wall_s", "text_heavy"),
    "kernels.cue_rows_s": ("s", "cpu_s, docs_per_s", "uniform"),
    "kernels.worker_cpu_s": ("s", "cpu_s, docs_per_s", "uniform"),
    "kernels.framework_share": ("fraction", "cpu_s, docs_per_s", "uniform"),
    "kernels.task_max_s": ("s", "wall_s", "skewed"),
    "kernels.task_p50_s": ("s", "wall_s", "skewed"),
    "kernels.task_skew": ("ratio", "wall_s", "skewed"),
    "pgs.parse_s": ("s", "cpu_s, docs_per_s", "uniform"),
    "pgs.raster_s": ("s", "cpu_s, docs_per_s", "uniform"),
    "pgs.ocr_s": ("s", "cpu_s, docs_per_s", "uniform"),
    "pgs.payloads": ("count", "cpu_s, docs_per_s", "uniform"),
    "pgs.comps": ("count", "cpu_s, docs_per_s", "uniform"),
    "pgs.comps_dropped": ("fraction", "cpu_s, docs_per_s", "uniform"),
    "pgs.mpixels": ("Mpx", "cpu_s, docs_per_s", "uniform"),
    "pgs.ceiling_docs_per_s": ("docs/s", "cpu_s, docs_per_s", "uniform"),
    "metrics.batch_s_p50": ("s", "wall_s", "checkpointed"),
    "metrics.batch_s_max": ("s", "wall_s", "checkpointed"),
    "metrics.write_mb": ("MB", "wall_s", "checkpointed"),
    "metrics.resume_s": ("s", "wall_s", "checkpointed"),
    "spark.stages": ("count", "cpu_s, peak_rss_mb", "uniform"),
    "spark.tasks": ("count", "cpu_s, peak_rss_mb", "uniform"),
    "spark.gc_s": ("s", "cpu_s, peak_rss_mb", "uniform"),
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans: name, start, end, parent and run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.run_id, attrs)
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]


def plan_counts(plan: str) -> tuple[int, int]:
    """(documents FileScan nodes, Exchange nodes) in a physical plan."""
    nodes = [re.sub(r"^[\s:+|-]*", "", line) for line in plan.splitlines()]
    scans = sum(1 for n in nodes if n.startswith("FileScan"))
    exchanges = sum(1 for n in nodes if re.match(r"(Broadcast|Shuffle)?Exchange\b", n))
    return scans, exchanges


def _leaves(dtype, prefix: str = "") -> list[str]:
    """Dotted leaf paths of a Spark type, list levels left out."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.ArrayType):
        return _leaves(dtype.elementType, prefix)
    if isinstance(dtype, T.StructType):
        return [leaf for f in dtype.fields for leaf in _leaves(f.dataType, f"{prefix}{f.name}.")]
    return [prefix.rstrip(".")]


def scanned_mb(plan: str, table_dir: str) -> float:
    """On-disk bytes the plan's scans read: for each FileScan node, the
    compressed size of the parquet column chunks its ReadSchema selects."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import _parse_datatype_string

    chunk_bytes: dict[str, int] = {}
    for name in os.listdir(table_dir):
        if name.endswith(".parquet"):
            meta = pq.ParquetFile(os.path.join(table_dir, name)).metadata
            for rg in range(meta.num_row_groups):
                for c in range(meta.num_columns):
                    col = meta.row_group(rg).column(c)
                    parts = col.path_in_schema.split(".")
                    path = ".".join(x for x in parts if x not in ("list", "element", "item", "array"))
                    chunk_bytes[path] = chunk_bytes.get(path, 0) + col.total_compressed_size
    total = 0
    for schema in re.findall(r"FileScan .*?ReadSchema: (struct<.*?>)(?:\s|$)", plan, re.M):
        total += sum(chunk_bytes.get(leaf, 0) for leaf in _leaves(_parse_datatype_string(schema)))
    return total / 1e6


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def du_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


def _decode_count(payload: bytes) -> int:
    return len(corpora.oracle_cues(payload) or ())


def ceiling_docs_per_s(payloads: list[bytes], n_docs: int, nproc: int) -> float:
    """The workload's decode under plain multiprocessing at nproc, no
    Spark: docs per second with every payload decoded once, largest first."""
    rate = _pool_rate(sorted(payloads, key=len, reverse=True), n_docs, nproc)
    # the spawn context's resource tracker process would outlive the pool;
    # stop it once the pool's semaphores are freed (and unregistered)
    gc.collect()
    resource_tracker._resource_tracker._stop()
    return rate


def _pool_rate(ordered: list[bytes], n_docs: int, nproc: int) -> float:
    with multiprocessing.get_context("spawn").Pool(nproc) as pool:
        pool.map(_decode_count, ordered[:nproc], chunksize=1)  # imports, atlas
        t0 = time.perf_counter()
        for _ in pool.imap_unordered(_decode_count, ordered, chunksize=4):
            pass
        rate = n_docs / (time.perf_counter() - t0)
    pool.join()
    return rate


@dataclass
class PgsTimes:
    parse_s: float = 0.0
    raster_s: float = 0.0
    ocr_s: float = 0.0
    comps: int = 0
    dropped: int = 0
    pixels: int = 0


def time_pgs(payloads: list[bytes], tracer: Tracer) -> PgsTimes:
    """Each payload through the oracle's three steps, timed apart, in this
    process: the kernels' CPU split with zero framework."""
    t = PgsTimes()
    ocr = GlyphAtlasOcr()
    clock = time.perf_counter
    for payload in payloads:
        with tracer.span("pgs.payload", bytes=len(payload)):
            t0 = clock()
            try:
                sets = decode_to_display_sets(payload)
            except Exception:  # the kernel's _error row; nothing to time further
                continue
            t.parse_s += clock() - t0
            for pcs in sets:
                t.comps += 1
                t1 = clock()
                try:
                    img = rasterize(pcs)
                except DecodeError:  # dropped like display_sets_to_cues does
                    t.dropped += 1
                    continue
                t2 = clock()
                ocr.recognize(img)
                t.raster_s += t2 - t1
                t.ocr_s += clock() - t2
                t.pixels += img.shape[0] * img.shape[1]
    return t


def parse_event_log(event_dir: str) -> dict[str, dict]:
    """Per job group: stages, tasks, GC, shuffle write, task
    failures and the kernel stage's task durations."""
    (path,) = glob.glob(os.path.join(event_dir, "*"))
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(ev["Stage ID"], []).append(ev)
    out: dict[str, dict] = {}
    for sid, evs in tasks.items():
        g = out.setdefault(
            stage_group.get(sid),
            {"stages": 0, "tasks": 0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "shuffle_records": 0, "failed": 0,
             "kernel_task_s": [], "_kernel_total": 0.0},
        )
        g["stages"] += 1
        g["tasks"] += len(evs)
        durations = []
        for ev in evs:
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            durations.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
            g["failed"] += ev["Task End Reason"]["Reason"] != "Success"
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics", {})
            g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            g["shuffle_records"] += sw.get("Shuffle Records Written", 0)
        # the kernel stage: the one whose tasks ran longest in total
        if sum(durations) > g["_kernel_total"]:
            g["_kernel_total"] = sum(durations)
            g["kernel_task_s"] = durations
    return out


class LayerRun:
    """Layer measurements of one workload, after its untraced runs."""

    def __init__(self, workload, host: dict):
        self.w = workload
        self.host = host
        self.tracer = Tracer(f"{workload.name}-seed{workload.seed}")
        self.values: dict[str, float] = {}
        self.traced_wall: list[float] = []
        self.worker_cpu: list[float] = []
        self.side_channel = (0, 0)  # (_metric rows, _error rows) of the cue rows

    def measure(self) -> None:
        """Everything that needs the live session."""
        from pgstosrt_spark.metrics import run_with_checkpoints
        from pgstosrt_spark.pipeline import assemble_spans, explode_spans, extract, extract_cue_rows
        from pyspark.sql import functions as F
        from pgstosrt_spark.sources.tables import read_documents

        w, tr, spark = self.w, self.tracer, self.w.spark
        sc = spark.sparkContext
        docs = lambda: read_documents(spark, w.table)  # noqa: E731

        for k in range(TRACED_RUNS):
            out = os.path.join(w.work, f"traced{k}")
            sc.setJobGroup(f"{w.name}-traced{k}", "traced extraction")
            with tr.span("run", run=k) as root:
                usage = procstat.measure(w.jvm_pid, lambda: w.run(out))
            sc.setJobGroup("", "")
            root.attrs.update(asdict(usage))
            self.traced_wall.append(usage.wall_s)
            self.worker_cpu.append(usage.worker_cpu_s)
            w.check(out)

        plan = extract(docs())._jdf.queryExecution().executedPlan().toString()
        scans, exchanges = plan_counts(plan)
        self.values["sources.scans"] = scans
        self.values["pipeline.exchanges"] = exchanges
        self.values["sources.input_mb"] = scanned_mb(plan, w.table)

        with tr.span("sources.scan"):
            noop(docs())
        with tr.span("pipeline.explode"):
            media = explode_spans(docs()).filter(F.col("kind") == "media")
            noop(media.select("doc_id", "offset", "media_ref", F.unbase64("text").alias("payload")))
        cue_dir = os.path.join(w.work, "cue_rows")
        with tr.span("kernels.cue_rows"):
            extract_cue_rows(docs()).write.parquet(cue_dir)
        with tr.span("pipeline.assemble"):
            noop(assemble_spans(docs(), spark.read.parquet(cue_dir)))
        self.side_channel = corpora.side_channel_errors(cue_dir)

        n = corpora.SHAPES["checkpointed"].n_batches  # first call: one batch; resume: the rest
        ckpt = os.path.join(w.work, "checkpointed")
        with tr.span("metrics.batch", call=0):
            run_with_checkpoints(spark, docs(), ckpt, n_batches=n, max_batches=1)
        with tr.span("metrics.batch", call=1), tr.span("metrics.resume"):
            run_with_checkpoints(spark, docs(), ckpt, n_batches=n)
        self.values["metrics.write_mb"] = du_mb(ckpt)
        w.check(ckpt, n_batches=n)

        with tr.span("pgs.single_process"):
            pgs = time_pgs(w.expected.payloads, tr)
        with tr.span("pgs.ceiling"):
            ceiling = ceiling_docs_per_s(w.expected.payloads, w.expected.n_docs, self.host["nproc"])
        self.values.update(
            {
                "pgs.parse_s": pgs.parse_s,
                "pgs.raster_s": pgs.raster_s,
                "pgs.ocr_s": pgs.ocr_s,
                "pgs.payloads": len(w.expected.payloads),
                "pgs.comps": pgs.comps,
                "pgs.comps_dropped": pgs.dropped / max(pgs.comps, 1),
                "pgs.mpixels": pgs.pixels / 1e6,
                "pgs.ceiling_docs_per_s": ceiling,
            }
        )

    def report(self, event_dir: str, trace_dir: str) -> dict[str, dict]:
        """After the session stopped (the event log is complete): fill in
        the event-log numbers, print every metric, write the spans."""
        tr, v = self.tracer, self.values
        groups = parse_event_log(event_dir)
        runs = [groups.get(f"{self.w.name}-traced{k}", {}) for k in range(TRACED_RUNS)]

        def med(key: str) -> float:
            return statistics.median(r.get(key, 0) for r in runs)

        kernel_max = [max(r["kernel_task_s"]) for r in runs if r.get("kernel_task_s")]
        kernel_p50 = [statistics.median(r["kernel_task_s"]) for r in runs if r.get("kernel_task_s")]
        batches = tr.seconds("metrics.batch")
        untraced_docs_per_s = statistics.median(self.w.end_to_end()["docs_per_s"])
        v.update(
            {
                "sources.scan_s": tr.seconds("sources.scan")[0],
                "pipeline.shuffle_write_mb": med("shuffle_write_mb"),
                "pipeline.shuffle_records": med("shuffle_records"),
                "pipeline.explode_s": tr.seconds("pipeline.explode")[0],
                "pipeline.assemble_s": tr.seconds("pipeline.assemble")[0],
                "kernels.cue_rows_s": tr.seconds("kernels.cue_rows")[0],
                "kernels.worker_cpu_s": statistics.median(self.worker_cpu),
                "kernels.framework_share": 1 - untraced_docs_per_s / v["pgs.ceiling_docs_per_s"],
                "kernels.task_max_s": statistics.median(kernel_max),
                "kernels.task_p50_s": statistics.median(kernel_p50),
                "metrics.batch_s_p50": statistics.median(batches),
                "metrics.batch_s_max": max(batches),
                "metrics.resume_s": tr.seconds("metrics.resume")[0],
                "spark.stages": med("stages"),
                "spark.tasks": med("tasks"),
                "spark.gc_s": med("gc_s"),
            }
        )
        v["kernels.task_skew"] = v["kernels.task_max_s"] / v["kernels.task_p50_s"]
        self.w.task_failures += sum(r.get("failed", 0) for r in runs)

        traced = statistics.median(self.traced_wall)
        untraced = statistics.median(self.w.end_to_end()["wall_s"])
        overhead = {"traced_wall_s": traced, "untraced_wall_s": untraced, "overhead_s": traced - untraced}
        print(
            f"{self.w.name:<13} tracing overhead {overhead['overhead_s']:+.4f} s"
            f" (traced median {traced:.4f} s - untraced median {untraced:.4f} s)"
        )
        payloads, errors = self.side_channel
        print(
            f"{self.w.name:<13} error_payload_frac {errors / max(payloads + errors, 1):12.4f}"
            f" fraction (kernel side channel: {errors} _error, {payloads} _metric rows)"
        )
        out = {}
        for name, (unit, moves, where) in PER_LAYER.items():
            print(f"{self.w.name:<13} {name:<26} {v[name]:12.4f} {unit:<8} -> {moves} on {where}")
            out[name] = {"value": v[name], "unit": unit}

        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{tr.run_id}.json")
        with open(path, "w") as fh:
            json.dump(
                {
                    "run_id": tr.run_id,
                    "host": self.host,
                    "overhead": overhead,
                    "metrics": out,
                    "spans": [asdict(s) for s in tr.spans],
                },
                fh,
            )
        print(f"{self.w.name:<13} spans written to {os.path.relpath(path)}")
        return out


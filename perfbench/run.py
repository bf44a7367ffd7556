#!/usr/bin/env python3
"""Extraction benchmark: four workloads through the public entry points.

    python3 perfbench/run.py --workload uniform --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, one driver

Each workload's ``documents`` table is built from ``--seed`` (see
corpora.py), then ``pipeline.extract(docs)`` -- or, for ``checkpointed``,
``metrics.run_with_checkpoints(...)`` -- runs at ``local[nproc]`` with the
package defaults, repeatedly, for ``--seconds`` of measured time after
WARMUP_S of warm-up runs.  Every run's output is checked against the
pure-Python ``pgs`` oracle outside the timed region.

``--trace 0`` prints the end-to-end metrics (medians over the runs);
``--trace 1`` adds the layer measurements of layers.py and prints the
per-layer metrics.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import corpora  # noqa: E402  (needs ROOT on sys.path: imports the program)
import procstat  # noqa: E402

WORKLOADS = ("uniform", "skewed", "text_heavy", "checkpointed")
SETUP_REPEATS = 5  # the first pays for the cold JVM; the median leaves it out
# the JVM's JIT speeds up the first runs for ~12 s (text_heavy's longest:
# its work is mostly JVM code); runs before that would bias the medians
WARMUP_S = 12.0
STATE_DIR = os.path.join(ROOT, ".perfbench")  # scratch data + kept traces

END_TO_END = {
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "payload_mb_per_s": "MB/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def host_info() -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": mem_kb // 1024,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
    }


def start_spark(run_dir: str, host: dict, event_dir: str | None):
    """local[nproc] session sized for this host, all scratch under run_dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # executors' Python workers import the program from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = tmp  # overrides spark.local.dir if set
    os.environ["TMPDIR"] = tmp
    from pgstosrt_spark.session import get_spark

    conf = {
        # -Xmx only: the heap grows as the program needs it, so peak RSS
        # moves with the program's JVM memory
        "spark.driver.memory": f"{min(2048, host['ram_mb'] // 4)}m",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", cpus=host["nproc"], extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit,
    also when stopping the context fails."""
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def failed_tasks(sc, group: str) -> int:
    """Failed tasks of the jobs run under one job group."""
    tracker = sc.statusTracker()
    n = 0
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            st = tracker.getStageInfo(stage)
            n += st.numFailedTasks if st else 0
    return n


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


@dataclass
class Workload:
    """One workload's inputs, oracle and measured runs in a live session."""

    name: str
    seed: int
    spark: object
    work: str
    jvm_pid: int
    table: str = ""
    setup_s: list[float] = field(default_factory=list)
    expected: corpora.Expected | None = None
    samples: list[procstat.Usage] = field(default_factory=list)
    checked: int = 0  # outputs checked against the oracle
    mismatched: int = 0  # span_mismatch_docs summed over those outputs
    errors: int = 0  # runs that raised
    task_failures: int = 0
    _runs: int = 0

    @property
    def shape(self) -> corpora.Shape:
        return corpora.SHAPES[self.name]

    def setup(self) -> None:
        """Seeded source rows, then SETUP_REPEATS set-ups, each timed: the
        table built (from submit until the parquet is written) and read
        back through the program's ``read_documents``.  The runs use the
        last set-up's table; the oracle's expected outputs are computed
        from it once, untimed, with the program's pure-Python decoder."""
        from pgstosrt_spark.sources.tables import read_documents

        src = os.path.join(self.work, "src")
        corpora.write_source(corpora.source_documents(self.seed, self.shape.docs), src)
        for k in range(SETUP_REPEATS):
            dest = os.path.join(self.work, f"table{k}")
            t0 = time.perf_counter()
            corpora.build_table(self.spark, self.name, self.seed, src, dest)
            read_documents(self.spark, dest).count()
            self.setup_s.append(time.perf_counter() - t0)
            if self.table:
                shutil.rmtree(self.table)
            self.table = dest
        self.expected = corpora.expected_outputs(self.table)

    def run(self, out: str) -> None:
        """The measured call: submit through the public entry point until
        the sink has finished writing."""
        from pgstosrt_spark.metrics import run_with_checkpoints
        from pgstosrt_spark.pipeline import extract
        from pgstosrt_spark.sources.tables import read_documents

        if self.name != "checkpointed":
            extract(read_documents(self.spark, self.table)).write.parquet(out)
            return
        n = self.shape.n_batches
        docs = read_documents(self.spark, self.table)
        run_with_checkpoints(self.spark, docs, out, n_batches=n, max_batches=n // 2)
        # the resume: a fresh read, as a restarted job would do
        docs = read_documents(self.spark, self.table)
        run_with_checkpoints(self.spark, docs, out, n_batches=n)

    def check(self, out: str, n_batches: int = 0) -> int:
        """Span mismatches of one output, plus manifest gaps if it was
        written by ``run_with_checkpoints``; counted towards ``failed``."""
        n_batches = n_batches or self.shape.n_batches
        if n_batches:
            bad = corpora.checkpoint_mismatches(out, self.expected, n_batches)
        else:
            bad = corpora.span_mismatch_docs(out, self.expected)
        shutil.rmtree(out)
        self.checked += 1
        self.mismatched += bad
        return bad

    def measure_once(self) -> procstat.Usage | None:
        """One run: measured, then checked outside the timed region."""
        self._runs += 1
        out = os.path.join(self.work, f"out{self._runs}")
        group = f"{self.name}-{self._runs}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            usage = procstat.measure(self.jvm_pid, lambda: self.run(out))
        except Exception:  # a failed run is counted, the benchmark goes on
            traceback.print_exc()
            self.errors += 1
            shutil.rmtree(out, ignore_errors=True)
            return None
        finally:
            sc.setJobGroup("", "")
        self.task_failures += failed_tasks(sc, group)
        self.check(out)
        return usage

    def measure(self, seconds: float) -> None:
        """Unmeasured (but checked) runs until WARMUP_S have been spent,
        then runs until ``seconds`` of measured time have been spent."""
        warm_out = os.path.join(self.work, "warmup")
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < WARMUP_S:
            self.run(warm_out)
            self.check(warm_out)
        spent = 0.0
        while spent < seconds:
            usage = self.measure_once()
            if usage is not None:
                self.samples.append(usage)
            spent += usage.wall_s if usage else 1.0

    # ------------------------------------------------------------ results
    @property
    def attempted(self) -> int:
        return self.expected.n_docs * (self.checked + self.errors)

    @property
    def failed(self) -> int:
        return self.mismatched + self.expected.n_docs * self.errors

    def end_to_end(self) -> dict[str, list[float]]:
        n, mb = self.expected.n_docs, self.expected.payload_mb
        return {
            "wall_s": [u.wall_s for u in self.samples],
            "docs_per_s": [n / u.wall_s for u in self.samples],
            "payload_mb_per_s": [mb / u.wall_s for u in self.samples],
            "cpu_s": [u.cpu_s for u in self.samples],
            "peak_rss_mb": [u.peak_rss_mb for u in self.samples],
            "setup_s": self.setup_s,
        }

    def error_payload_frac(self) -> float:
        return self.expected.error_payloads / max(len(self.expected.payloads), 1)


def report_end_to_end(w: Workload) -> dict[str, dict]:
    """Print every end-to-end metric with its unit; return the JSON block."""
    out = {}
    for name, xs in w.end_to_end().items():
        q1, q3 = quartiles(xs)
        value = statistics.median(xs)
        unit = END_TO_END[name]
        print(
            f"{w.name:<13} {name:<18} {value:12.4f} {unit:<7}"
            f" q1 {q1:.4f} q3 {q3:.4f} n={len(xs)}"
        )
        out[name] = {"value": value, "unit": unit}
    walls = " ".join(f"{u.wall_s:.3f}" for u in w.samples)
    print(f"{w.name:<13} runs (wall s)       {walls}")
    for name, value, unit in (
        ("span_mismatch_docs", w.mismatched, "count"),
        ("error_payload_frac", w.error_payload_frac(), "fraction"),
        ("task_failures", w.task_failures, "count"),
    ):
        print(f"{w.name:<13} {name:<18} {value:12.4f} {unit}")
    return out


def run_workloads(names: list[str], seed: int, seconds: float, trace: bool) -> dict:
    host = host_info()
    print("host " + json.dumps(host), flush=True)
    run_dir = os.path.join(STATE_DIR, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    event_dir = os.path.join(run_dir, "events") if trace else None
    spark = start_spark(run_dir, host, event_dir)
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        results = {}
        for name in names:
            work = os.path.join(run_dir, name)
            os.makedirs(work)
            w = Workload(name, seed, spark, work, jvm_pid)
            w.setup()
            w.measure(seconds)
            layered = None
            if trace:
                import layers

                layered = layers.LayerRun(w, host)
                layered.measure()
            results[name] = (w, layered)
    finally:
        stop_spark(spark)
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name, (w, layered) in results.items():
        metrics = report_end_to_end(w)
        if layered is not None:
            metrics = layered.report(event_dir, os.path.join(STATE_DIR, "traces"))
        summary["attempted"] += w.attempted
        summary["failed"] += w.failed
        summary["correct"] = summary["correct"] and w.failed == 0 and w.task_failures == 0
        if len(names) == 1:
            summary["metrics"] = metrics
        else:
            summary["metrics"].update({f"{name}.{k}": v for k, v in metrics.items()})
    shutil.rmtree(run_dir)
    return summary


def _exit_on_signal(signum, _frame) -> None:
    raise SystemExit(128 + signum)  # unwinds through the clean-up below


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    # every process started below -- the JVM, Spark's Python daemon and
    # workers, the ceiling's pool -- has ended before this one does
    procstat.become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    signal.signal(signal.SIGHUP, _exit_on_signal)
    try:
        summary = run_workloads(names, args.seed, args.seconds, bool(args.trace))
    finally:
        procstat.reap_children()
    print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

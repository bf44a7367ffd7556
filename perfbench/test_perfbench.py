"""Tests of the benchmark's own checks.

    python3 -m pytest perfbench/test_perfbench.py -q

The headline tests plant a one-cue corruption in an otherwise correct
output table -- one written here, one written by ``extract`` in a small
Spark session -- and assert the oracle check counts exactly that document.
"""

from __future__ import annotations

import base64
import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import corpora  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from pgstosrt_spark.fixtures.corpus import doc_to_span_rows  # noqa: E402
from pgstosrt_spark.pgs.decode import decode_media_payload  # noqa: E402


@pytest.fixture(scope="module")
def table(tmp_path_factory):
    """A 14-doc documents table (both payloads of every variant)."""
    src = corpora.source_documents(seed=7, n_docs=14)
    rows = [
        {"doc_id": str(d), "spans": doc_to_span_rows(str(d), t)}
        for d, t in zip(src["doc_id"].to_pylist(), src["text"].to_pylist())
    ]
    path = tmp_path_factory.mktemp("documents")
    pq.write_table(pa.Table.from_pylist(rows, schema=corpora.DOCUMENTS_ARROW), path / "part-0.parquet")
    return str(path)


def _output(table_dir: str) -> list[dict]:
    """What a correct extraction writes: text spans kept, media -> cues."""
    out = []
    for doc in pq.read_table(table_dir).to_pylist():
        spans = []
        for s in sorted(doc["spans"], key=lambda s: s["offset"]):
            if s["kind"] == "text":
                spans.append(s)
                continue
            for _seq, text in decode_media_payload(base64.b64decode(s["text"])):
                spans.append({"kind": "cue", "text": text, "media_ref": s["media_ref"], "offset": s["offset"]})
        out.append({"doc_id": doc["doc_id"], "spans": spans})
    return out


def _write(rows: list[dict], path) -> str:
    os.makedirs(path)
    pq.write_table(pa.Table.from_pylist(rows, schema=corpora.DOCUMENTS_ARROW), os.path.join(path, "part-0.parquet"))
    return str(path)


def test_correct_output_has_no_mismatch(table, tmp_path):
    expected = corpora.expected_outputs(table)
    assert expected.n_docs == 14 and len(expected.payloads) > 14
    assert corpora.span_mismatch_docs(_write(_output(table), tmp_path / "out"), expected) == 0


def test_planted_one_cue_corruption_is_detected(table, tmp_path):
    expected = corpora.expected_outputs(table)
    rows = _output(table)
    doc = next(r for r in rows if any(s["kind"] == "cue" and s["text"] for s in r["spans"]))
    cue = next(s for s in doc["spans"] if s["kind"] == "cue" and s["text"])
    cue["text"] = cue["text"][:-1] + ("X" if cue["text"][-1] != "X" else "Y")
    assert corpora.span_mismatch_docs(_write(rows, tmp_path / "out"), expected) == 1


def test_planted_corruption_in_a_real_extraction_is_detected(tmp_path, monkeypatch):
    """The same plant, in what ``extract`` itself wrote for a small
    ``uniform`` table (one Spark session, about half a minute)."""
    monkeypatch.setitem(corpora.SHAPES, "uniform", corpora.Shape(docs=12))
    for key in ("PYTHONPATH", "PYSPARK_PYTHON", "SPARK_LOCAL_DIRS", "TMPDIR"):
        monkeypatch.setenv(key, os.environ.get(key, ""))  # start_spark sets them
    host = run.host_info()
    spark = run.start_spark(str(tmp_path / "run"), host, None)
    try:
        w = run.Workload("uniform", 5, spark, str(tmp_path), spark.sparkContext._gateway.proc.pid)
        w.setup()
        clean, planted = str(tmp_path / "clean"), str(tmp_path / "planted")
        w.run(clean)
        w.run(planted)
    finally:
        run.stop_spark(spark)
    rows = pq.read_table(planted).to_pylist()
    cue = next(s for r in rows for s in r["spans"] if s["kind"] == "cue" and s["text"])
    cue["text"] = cue["text"][:-1] + ("X" if cue["text"][-1] != "X" else "Y")
    for name in os.listdir(planted):
        os.remove(os.path.join(planted, name))
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(planted, "part-0.parquet"))
    # a correct Spark output matches the expected table without the per-doc path
    assert pq.read_table(clean).cast(corpora.OUTPUT_ARROW).sort_by("doc_id").equals(w.expected.table)
    assert w.check(clean) == 0
    assert w.check(planted) == 1
    assert (w.checked, w.mismatched) == (2, 1)


def test_missing_reordered_and_foreign_docs_are_detected(table, tmp_path):
    expected = corpora.expected_outputs(table)
    rows = _output(table)
    rows[0]["spans"].reverse()  # order matters
    del rows[1]  # a doc vanished
    rows.append({"doc_id": "foreign", "spans": []})
    assert corpora.span_mismatch_docs(_write(rows, tmp_path / "out"), expected) == 3


def test_manifest_gaps(tmp_path):
    mdir = tmp_path / "_manifest"
    mdir.mkdir()
    (mdir / "0.json").write_text(json.dumps({"batch": 0, "n_docs": 6}))
    assert corpora.manifest_gaps(str(tmp_path), n_batches=2, n_docs=10) == 2  # batch 1, count
    (mdir / "1.json").write_text(json.dumps({"batch": 1, "n_docs": 4}))
    assert corpora.manifest_gaps(str(tmp_path), n_batches=2, n_docs=10) == 0


def test_inputs_depend_only_on_the_seed():
    assert corpora.source_documents(3, 50).equals(corpora.source_documents(3, 50))
    assert not corpora.source_documents(3, 50).equals(corpora.source_documents(4, 50))


def test_every_seed_gets_the_same_variant_mix():
    for seed in (1, 2):
        ids = corpora.source_documents(seed, 500)["doc_id"].to_pylist()
        variants = [i % 7 for i in ids]
        counts = sorted(variants.count(v) for v in range(7))
        assert len(set(ids)) == 500 and counts == [71] * 4 + [72] * 3


def test_plan_counts():
    plan = (
        "AdaptiveSparkPlan isFinalPlan=false\n"
        "+- SortMergeJoin [doc_id], [doc_id], LeftOuter\n"
        "   :- Exchange hashpartitioning(doc_id#0, 8)\n"
        "   :  +- FileScan parquet [doc_id#0] ReadSchema: struct<doc_id:string>\n"
        "   +- BroadcastExchange HashedRelationBroadcastMode\n"
        "      +- ReusedExchange [doc_id#9], Exchange hashpartitioning(doc_id#0, 8)\n"
        "         +- FileScan parquet [doc_id#5,spans#6] ReadSchema: struct<doc_id:string>\n"
    )
    assert layers.plan_counts(plan) == (2, 2)


def test_benchmark_json_names_what_the_benchmark_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: unit for k, (unit, _moves, _where) in layers.PER_LAYER.items()
    }
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


# a grandchild that ignores SIGTERM, orphaned when its parent exits at once
_SLEEPER = "import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN); time.sleep(60)"
_PARENT = f"import subprocess, sys; subprocess.Popen([sys.executable, '-c', {_SLEEPER!r}])"
_REAPER = f"""
import os, subprocess, sys, time
import procstat
procstat.become_subreaper()
subprocess.run([sys.executable, "-c", {_PARENT!r}], check=True)
orphans = procstat.children(os.getpid())
t0 = time.monotonic()
procstat.reap_children(grace_s=0.2, kill_after_s=0.2)
print(len(orphans), len(procstat.children(os.getpid())), time.monotonic() - t0)
"""


def test_orphaned_descendants_are_reaped_before_exit():
    out = subprocess.run(
        [sys.executable, "-c", _REAPER], cwd=HERE, capture_output=True, text=True, check=True, timeout=30
    )
    orphans, left, took = out.stdout.split()
    assert (orphans, left) == ("1", "0")  # inherited, then SIGKILLed and reaped
    assert float(took) < 5

"""Checkpointed resume (idempotence after a simulated kill) and the
Structured Streaming extraction path."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from pgstosrt_spark.fixtures.corpus import synthesize_documents
from pgstosrt_spark.metrics import committed_batches, pending_documents, run_with_checkpoints
from pgstosrt_spark.pipeline import extract

SF_DIR = "/root/testdata/sf0.001"


def test_checkpoint_resume_idempotent(spark, tmp_path):
    out = str(tmp_path / "ckpt")
    docs = synthesize_documents(spark, SF_DIR).limit(40).cache()
    n_docs = docs.count()

    # run 1: simulate a kill after 2 of 4 batches
    first = run_with_checkpoints(spark, docs, out, n_batches=4, max_batches=2)
    assert len(first) == 2
    assert committed_batches(out) == sorted(first)
    pend = pending_documents(docs, out, n_batches=4)
    assert 0 < pend.count() < n_docs

    # snapshot data written so far, then resume
    sizes_before = {
        b: os.path.getmtime(os.path.join(out, "_manifest", f"{b}.json")) for b in first
    }
    second = run_with_checkpoints(spark, docs, out, n_batches=4)
    assert sorted(first + second) == [0, 1, 2, 3]
    # committed batches were NOT recomputed (manifests untouched)
    for b, mtime in sizes_before.items():
        assert os.path.getmtime(os.path.join(out, "_manifest", f"{b}.json")) == mtime

    # union of all batch outputs == direct extraction
    written = spark.read.parquet(os.path.join(out, "data"))
    direct = extract(docs)
    assert written.count() == n_docs == direct.count()
    a = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in written.collect()}
    b = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in direct.collect()}
    assert a == b

    # metrics side-channel landed with per-span lineage
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    m = metrics.filter(F.col("kind") == "_metric").limit(1).collect()
    assert m and "bytes" in json.loads(m[0]["text"])

    # third run: nothing left to do
    assert run_with_checkpoints(spark, docs, out, n_batches=4) == []


def test_checkpoint_metrics_parity(spark, tmp_path):
    """After a killed run and its resume, metrics/ holds exactly one
    _metric or _error row per media payload, the manifests' n_docs sum to
    the corpus size, and the lineage rollup has no NULL count."""
    from pgstosrt_spark.metrics import partition_lineage
    from pgstosrt_spark.sources.tables import DOCUMENTS_SCHEMA

    bad = spark.createDataFrame(
        [
            {
                "doc_id": "bad-b64",
                "spans": [
                    {"kind": "text", "text": "t", "media_ref": "", "offset": 0},
                    {"kind": "media", "text": "@@not base64!!", "media_ref": "pgs://x/1", "offset": 1},
                ],
            }
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    docs = synthesize_documents(spark, SF_DIR).limit(30).unionByName(bad).cache()
    out = str(tmp_path / "ckpt_parity")
    first = run_with_checkpoints(spark, docs, out, n_batches=3, max_batches=1)
    second = run_with_checkpoints(spark, docs, out, n_batches=3)
    assert sorted(first + second) == [0, 1, 2]

    payloads = sorted(
        (r["doc_id"], r["s"]["offset"], r["s"]["media_ref"])
        for r in docs.select("doc_id", F.explode("spans").alias("s")).collect()
        if r["s"]["kind"] == "media"
    )
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    side = sorted(
        (r["doc_id"], r["offset"], r["media_ref"])
        for r in metrics.filter(F.col("kind").isin("_metric", "_error")).collect()
    )
    assert side == payloads
    assert metrics.filter(F.col("kind") == "_error").count() == 1

    n_docs = 0
    for batch in committed_batches(out):
        with open(os.path.join(out, "_manifest", f"{batch}.json")) as fh:
            n_docs += json.load(fh)["n_docs"]
    assert n_docs == docs.count()

    lineage = partition_lineage(metrics).collect()
    assert lineage
    counts = ("n_payloads", "n_comps", "n_cues", "n_dropped", "n_bytes", "n_errors")
    assert all(r[c] is not None for r in lineage for c in counts)
    assert sum(r["n_cues"] + r["n_dropped"] for r in lineage) == sum(r["n_comps"] for r in lineage)
    assert sum(r["n_payloads"] for r in lineage) == len(payloads) - 1


def test_checkpoint_manifest_via_hadoop_fs_uri(spark, tmp_path):
    """The manifest protocol must work through the Hadoop FS layer with a
    scheme-qualified URI (the cluster-storage path shape) — driver-local
    POSIX calls would silently see an empty dir for any non-local scheme
    and recompute every batch on resume."""
    out = "file://" + str(tmp_path / "ckpt_uri")
    docs = synthesize_documents(spark, SF_DIR).limit(20).cache()

    first = run_with_checkpoints(spark, docs, out, n_batches=2, max_batches=1)
    assert len(first) == 1
    assert committed_batches(out, spark) == first
    second = run_with_checkpoints(spark, docs, out, n_batches=2)
    assert sorted(first + second) == [0, 1]
    # resume sees the committed batch through the FS API (no recompute)
    assert run_with_checkpoints(spark, docs, out, n_batches=2) == []
    # and the data really landed under the URI's local path
    assert spark.read.parquet(out + "/data").count() == docs.count()


def test_srt_file_sink_bytes(spark, tmp_path):
    """S5 contract (PgsOcr.cs:59-63): one .srt per (doc_id, media_ref),
    UTF-8 WITHOUT BOM, bytes identical to the pure-Python SubRip renderer
    already pinned against the JVM expression in test_pipeline_spark."""
    from pgstosrt_spark.pipeline import render_srt_documents
    from pgstosrt_spark.sinks import write_srt_files

    docs = synthesize_documents(spark, SF_DIR).limit(10).cache()
    rendered = render_srt_documents(docs)
    want = {(r["doc_id"], r["media_ref"]): r["srt"] for r in rendered.collect()}

    out = str(tmp_path / "srt_out")
    receipts = write_srt_files(rendered, out).collect()
    assert len(receipts) == len(want) > 0
    for r in receipts:
        with open(r["path"], "rb") as f:
            data = f.read()
        assert not data.startswith(b"\xef\xbb\xbf")  # no BOM
        assert data == want[(r["doc_id"], r["media_ref"])].encode("utf-8")
        assert r["n_bytes"] == len(data)
        assert b"\r\n" in data  # SubRip CRLF block separators


def test_streaming_extraction_matches_batch(spark, tmp_path):
    from pgstosrt_spark.streaming.extract_stream import extract_stream, read_documents_stream

    src = str(tmp_path / "stream_src")
    docs = synthesize_documents(spark, SF_DIR).limit(12)
    docs.write.mode("overwrite").parquet(src)

    stream = extract_stream(read_documents_stream(spark, src))
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("extract_out")
        .option("checkpointLocation", str(tmp_path / "stream_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT doc_id, offset, seq, kind, text, media_ref FROM extract_out"
    )
    from pgstosrt_spark.pipeline import extract_cue_rows, explode_spans, split_side_channel

    batch_docs = spark.read.parquet(src)
    cues, _ = split_side_channel(extract_cue_rows(batch_docs))
    text_rows = (
        explode_spans(batch_docs)
        .filter(F.col("kind") == "text")
        .select("doc_id", "offset", F.lit(0).alias("seq"), "kind", "text", "media_ref")
    )
    want = text_rows.unionByName(cues)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_compaction_equals_batch_extract(spark, tmp_path):
    """VERDICT r2 item 7: the foreachBatch compaction tail must produce
    the SAME (doc_id, spans) table as the batch ``extract()`` — per-doc
    order, shape preservation and all — not just flat rows."""
    from pgstosrt_spark.streaming.extract_stream import (
        extract_stream_compacted,
        read_documents_stream,
    )

    src = str(tmp_path / "cstream_src")
    docs = synthesize_documents(spark, SF_DIR).limit(24)
    docs.write.mode("overwrite").parquet(src)
    out = str(tmp_path / "cstream_out")

    q = (
        extract_stream_compacted(
            read_documents_stream(spark, src), out, str(tmp_path / "cstream_ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    want = extract(spark.read.parquet(src))
    assert got.count() == want.count() == 24
    a = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in got.collect()}
    b = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in want.collect()}
    assert a == b


def test_srt_sink_idempotent_rerun_and_collision(spark, tmp_path):
    """ADVICE r2: a re-run into the same out_dir (the task-retry shape)
    must overwrite in place, not die on FileExistsError; a genuine
    sanitization collision still fails loudly via the structural check."""
    from pgstosrt_spark.pipeline import render_srt_documents
    from pgstosrt_spark.sinks import write_srt_files

    docs = synthesize_documents(spark, SF_DIR).limit(6).cache()
    rendered = render_srt_documents(docs).cache()
    out = str(tmp_path / "srt_idem")
    first = sorted(map(tuple, write_srt_files(rendered, out).collect()))
    # second run = retry/re-run: same receipts, same bytes, no error
    second = sorted(map(tuple, write_srt_files(rendered, out).collect()))
    assert first == second and first
    # distinct spans whose ids differ only in unsafe characters collide
    # after sanitization -> loud failure naming the colliding name
    one = rendered.limit(1)
    bad = one.withColumn("doc_id", F.concat(F.col("doc_id"), F.lit("/"))).union(
        one.withColumn("doc_id", F.concat(F.col("doc_id"), F.lit(":")))
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="collision"):
        write_srt_files(bad, str(tmp_path / "srt_bad")).collect()


def test_streaming_windowed_agg_matches_batch(spark, tmp_path):
    """Watermarked tumbling-window agg (streaming/windowed.py): under
    append mode every emitted window is FINALIZED — byte-equal to the
    batch twin — while tail windows the watermark has not passed stay
    withheld, and state stays bounded.  The event log is replayed in time
    order (explicit ascending file mtimes: the file source processes by
    modification time, not name), so the per-batch watermark advance
    never declares in-order data late."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pgstosrt_spark.streaming.windowed import (
        read_events_stream,
        windowed_event_counts,
    )

    src = tmp_path / "ev_src"
    src.mkdir()
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    pdf = ev.orderBy("ts", "event_id").toPandas()
    t0 = 1_700_000_000
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), 8)):
        f = str(src / f"part-{i:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[chunk], preserve_index=False),
            f,
            coerce_timestamps="us",
        )
        os.utime(f, (t0 + i, t0 + i))

    q = (
        windowed_event_counts(read_events_stream(spark, str(src)))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("win_agg")
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    key = lambda r: (r["window_start"], r["event_type"])  # noqa: E731
    got = {key(r): (r["n_events"], r["total_value"])
           for r in spark.sql("select * from win_agg").collect()}
    batch = {key(r): (r["n_events"], r["total_value"])
             for r in windowed_event_counts(ev).collect()}
    assert got, "no window was finalized by the watermark"
    for k, v in got.items():
        assert batch[k] == v, f"emitted window differs from batch: {k}"
    # the final day's windows cannot have been passed by the watermark
    last_start = max(k[0] for k in batch)
    assert all(k[0] < last_start for k in got)
    assert len(got) < len(batch)


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState gap sessionization (streaming/sessions.py):
    every emitted session is byte-equal to its batch twin
    (operators.relational.sessionize) — ordinals, bounds, counts, and the
    decimal-exact value sum — no matter how events split across
    micro-batches; the only withheld sessions are per-user FINAL sessions
    the watermark has not yet timed out."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pgstosrt_spark.operators.relational import sessionize
    from pgstosrt_spark.streaming.sessions import sessionize_stream
    from pgstosrt_spark.streaming.windowed import read_events_stream

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = tmp_path / "sess_src"
    src.mkdir()
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    pdf = ev.orderBy("ts", "event_id").toPandas()
    t0 = 1_700_000_000
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), 8)):
        f = str(src / f"part-{i:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[chunk], preserve_index=False),
            f,
            coerce_timestamps="us",
        )
        os.utime(f, (t0 + i, t0 + i))

    q = (
        sessionize_stream(read_events_stream(spark, str(src)))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_stream")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    val = lambda r: (  # noqa: E731
        r["session_start"], r["session_end"], r["n_events"], r["total_value"]
    )
    got = {(r["user_id"], r["session_id"]): val(r)
           for r in spark.sql("select * from sess_stream").collect()}
    batch = {(r["user_id"], r["session_id"]): val(r)
             for r in sessionize(spark, "/root/testdata/sf0.01").collect()}
    assert got, "no session was emitted"
    for k, v in got.items():
        assert batch.get(k) == v, f"emitted session differs from batch: {k}"
    # withheld = still-open sessions = each user's final session only
    last = {}
    for (u, sid) in batch:
        last[u] = max(last.get(u, 0), sid)
    missing = set(batch) - set(got)
    assert missing, "expected the tail sessions to still be open"
    assert all(sid == last[u] for (u, sid) in missing)
    assert len(got) > len(batch) / 2  # the bulk of history was emitted


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """Built-in F.session_window sessions (the declarative twin of the
    stateful kernel): append-mode emitted sessions equal the batch run of
    the same expression AND agree with the batch sessionize operator on
    (session_start, n_events, total_value) per user — only watermark-open
    tails withheld."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pgstosrt_spark.operators.relational import sessionize
    from pgstosrt_spark.streaming.windowed import (
        read_events_stream,
        session_window_counts,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = tmp_path / "sw_src"
    src.mkdir()
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    pdf = ev.orderBy("ts", "event_id").toPandas()
    t0 = 1_700_000_000
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), 8)):
        f = str(src / f"part-{i:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[chunk], preserve_index=False),
            f,
            coerce_timestamps="us",
        )
        os.utime(f, (t0 + i, t0 + i))

    q = (
        session_window_counts(read_events_stream(spark, str(src)))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sw_agg")
        .option("checkpointLocation", str(tmp_path / "sw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {(r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
           for r in spark.sql("select * from sw_agg").collect()}
    batch = {(r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
             for r in session_window_counts(ev).collect()}
    assert got and len(got) < len(batch)
    for k, v in got.items():
        assert batch.get(k) == v, f"emitted session differs from batch twin: {k}"
    # cross-check vs the batch sessionize OPERATOR (different formulation,
    # same gap rule): identical (session_start -> n_events, total_value)
    op = {(r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
          for r in sessionize(spark, "/root/testdata/sf0.01").collect()}
    assert set(batch) == set(op)
    for k, v in batch.items():
        assert op[k] == v, f"session_window disagrees with sessionize: {k}"


def _write_event_files(src, batches, t0=1_700_000_000):
    """Each entry in ``batches`` is a list of (event_id, ts_str, user_id,
    value) rows -> one parquet file = one micro-batch (mtime-ordered)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src.mkdir(exist_ok=True)
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": pd.to_datetime([r[1] for r in rows]),
                "user_id": [r[2] for r in rows],
                "event_type": ["click"] * len(rows),
                "value": [r[3] for r in rows],
                "props": ["{}"] * len(rows),
            }
        )
        f = str(src / f"part-{i:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False), f, coerce_timestamps="us"
        )
        os.utime(f, (t0 + i, t0 + i))


def _run_sessionize_stream(spark, src, tmp_path, name):
    from pgstosrt_spark.streaming.sessions import sessionize_stream
    from pgstosrt_spark.streaming.windowed import read_events_stream

    q = (
        sessionize_stream(read_events_stream(spark, str(src)))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    return {
        (r["user_id"], r["session_id"]): (
            r["session_start"], r["session_end"], r["n_events"], r["total_value"]
        )
        for r in spark.sql(f"select * from {name}").collect()
    }


def test_streaming_sessionize_timeout_then_return(spark, tmp_path):
    """ADVICE r3 (high): a session closed by event-time TIMEOUT (not by a
    successor event) must leave a tombstone carrying the per-user closed
    counter, so the user's next session continues the 1-based ordinal —
    state.remove() restarted it at 1, colliding (user_id, session_id) keys
    in the append sink."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = tmp_path / "tomb_src"
    # user 1's sessions close by timeout only (its later events are always
    # in LATER micro-batches than the watermark advance that expires them);
    # user 2 is the watermark pusher.
    _write_event_files(
        src,
        [
            [(1, "2024-01-01 10:00:00", 1, 1.0), (2, "2024-01-01 10:05:00", 1, 2.0),
             (3, "2024-01-01 10:00:00", 2, 1.0)],
            [(4, "2024-01-01 13:00:00", 2, 1.0)],   # wm -> 12:00 > 10:35
            [(5, "2024-01-01 13:30:00", 1, 3.0)],   # user 1 returns
            [(6, "2024-01-01 16:00:00", 2, 1.0)],   # wm -> 15:00 > 14:00
            [(7, "2024-01-01 19:00:00", 2, 1.0)],   # trailing pushes: the
            [(8, "2024-01-01 22:00:00", 2, 1.0)],   # watermark lags a batch
        ],
    )
    got = _run_sessionize_stream(spark, src, tmp_path, "sess_tomb")
    import pandas as pd

    assert (1, 1) in got and (1, 2) in got, f"ordinal restarted: {sorted(got)}"
    assert got[(1, 1)] == (
        pd.Timestamp("2024-01-01 10:00:00"), pd.Timestamp("2024-01-01 10:05:00"), 2, 3.0
    )
    assert got[(1, 2)] == (
        pd.Timestamp("2024-01-01 13:30:00"), pd.Timestamp("2024-01-01 13:30:00"), 1, 3.0
    )


def test_streaming_sessionize_out_of_order_within_gap(spark, tmp_path):
    """ADVICE r3 (medium): a within-watermark out-of-order event folding
    into an open session must widen it (start=min, end=max) — the old
    unconditional ``end = t`` moved session_end backwards, mis-timing the
    timeout and splitting spuriously."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = tmp_path / "ooo_src"
    _write_event_files(
        src,
        [
            [(1, "2024-01-01 10:00:00", 1, 1.0), (2, "2024-01-01 10:20:00", 1, 1.0)],
            # batch 2: out-of-order but within watermark (wm = 09:20) and
            # within gap of the open session — one before start, one inside
            [(3, "2024-01-01 10:10:00", 1, 1.0), (4, "2024-01-01 09:50:00", 1, 1.0)],
            [(5, "2024-01-01 14:00:00", 2, 1.0)],   # wm -> 13:00 > 10:50
            [(6, "2024-01-01 17:00:00", 2, 1.0)],
            [(7, "2024-01-01 20:00:00", 2, 1.0)],
        ],
    )
    got = _run_sessionize_stream(spark, src, tmp_path, "sess_ooo")
    import pandas as pd

    u1 = {k: v for k, v in got.items() if k[0] == 1}
    assert set(u1) == {(1, 1)}, f"spurious split: {sorted(u1)}"
    assert u1[(1, 1)] == (
        pd.Timestamp("2024-01-01 09:50:00"), pd.Timestamp("2024-01-01 10:20:00"), 4, 4.0
    )


def test_streaming_sessionize_tombstone_past_watermark(spark, tmp_path):
    """ADVICE r4 (medium): when the timeout fires AFTER the watermark has
    already jumped past session_end + tombstone_retention (huge event-time
    gap / backfill replay / small retention), the tombstone timeout must be
    clamped to the watermark — an un-clamped setTimeoutTimestamp(end +
    retention) is in the past and raises INVALID_TIMEOUT_TIMESTAMP, killing
    the streaming query."""
    from pgstosrt_spark.streaming.sessions import sessionize_stream
    from pgstosrt_spark.streaming.windowed import read_events_stream

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = tmp_path / "tombwm_src"
    # retention = 1 day; user 2 jumps the watermark 10 days in one batch,
    # so when user 1's 10:00 session times out (processed at the NEXT
    # batch), end + retention (Jan 2) is already far behind the watermark
    # (Jan 11) — the pre-fix code dies here.
    _write_event_files(
        src,
        [
            [(1, "2024-01-01 10:00:00", 1, 1.0), (2, "2024-01-01 10:00:00", 2, 1.0)],
            [(3, "2024-01-11 10:00:00", 2, 1.0)],  # wm -> Jan 11 09:00
            [(4, "2024-01-21 10:00:00", 2, 1.0)],  # timeout fires for user 1
            [(5, "2024-01-31 10:00:00", 2, 1.0)],  # trailing watermark push
        ],
    )
    q = (
        sessionize_stream(
            read_events_stream(spark, str(src)), tombstone_retention_days=1
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_tombwm")
        .option("checkpointLocation", str(tmp_path / "tombwm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    assert q.exception() is None, f"query died: {q.exception()}"
    got = {
        (r["user_id"], r["session_id"])
        for r in spark.sql("select * from sess_tombwm").collect()
    }
    assert (1, 1) in got, f"user 1's timed-out session was lost: {sorted(got)}"


def test_streaming_sessionize_hot_key(spark, tmp_path):
    """Hot-key bound (VERDICT r3 item 8): one user with 10^5 events in a
    single micro-batch folds through the slim (ts, value) numpy path —
    correct session bounds, exact decimal sum, and NaN/inf values
    contribute 0 micros (the batch CAST-to-NULL rule) instead of killing
    the query."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = tmp_path / "hot_src"
    n = 100_000
    base = 1_704_103_200  # 2024-01-01 10:00:00 UTC
    import pandas as pd

    rows = [
        (
            i,
            pd.Timestamp(base + i, unit="s").strftime("%Y-%m-%d %H:%M:%S"),
            1,
            # every 1000th value non-finite: must fold as 0 micros
            float("nan") if i % 2000 == 0 else (float("inf") if i % 2000 == 1000 else 0.25),
        )
        for i in range(n)
    ]
    push = base + n + 100_000
    _write_event_files(
        src,
        [
            rows,
            [(n + 1, pd.Timestamp(push, unit="s").strftime("%Y-%m-%d %H:%M:%S"), 2, 1.0)],
            [(n + 2, pd.Timestamp(push + 10_000, unit="s").strftime("%Y-%m-%d %H:%M:%S"), 2, 1.0)],
            [(n + 3, pd.Timestamp(push + 20_000, unit="s").strftime("%Y-%m-%d %H:%M:%S"), 2, 1.0)],
        ],
    )
    got = _run_sessionize_stream(spark, src, tmp_path, "sess_hot")
    u1 = {k: v for k, v in got.items() if k[0] == 1}
    assert set(u1) == {(1, 1)}
    start, end, n_events, total = u1[(1, 1)]
    assert n_events == n
    assert start == pd.Timestamp(base, unit="s") and end == pd.Timestamp(base + n - 1, unit="s")
    assert total == 0.25 * (n - n // 1000)  # 100 non-finite of 100k


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream watermarked interval join (streaming/joins.py):
    replaying both event streams in order, every emitted (click, view)
    attribution pair equals the batch twin's pair set — inner-join matches
    are emitted exactly once under append mode, and the range condition
    gives Spark a state watermark so neither side buffers history."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pgstosrt_spark.streaming.joins import interval_join_view_attribution
    from pgstosrt_spark.streaming.windowed import read_events_stream

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    srcs = {}
    t0 = 1_700_000_000
    for kind in ("click", "view"):
        d = tmp_path / f"{kind}_src"
        d.mkdir()
        pdf = (
            ev.filter(F.col("event_type") == kind)
            .orderBy("ts", "event_id")
            .toPandas()
        )
        for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), 6)):
            f = str(d / f"part-{i:05d}.parquet")
            pq.write_table(
                pa.Table.from_pandas(pdf.iloc[chunk], preserve_index=False),
                f,
                coerce_timestamps="us",
            )
            os.utime(f, (t0 + i, t0 + i))
        srcs[kind] = str(d)

    q = (
        interval_join_view_attribution(
            read_events_stream(spark, srcs["click"]),
            read_events_stream(spark, srcs["view"]),
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_pairs")
        .option("checkpointLocation", str(tmp_path / "ij_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["click_id"], r["view_id"])
        for r in spark.sql("select * from ij_pairs").collect()
    }
    batch = {
        (r["click_id"], r["view_id"])
        for r in interval_join_view_attribution(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "view"),
        ).collect()
    }
    assert got, "stream-stream join emitted nothing"
    assert got == batch


def test_streaming_interval_join_out_of_order_replay(spark, tmp_path):
    """VERDICT r4 item 8: replaying both streams OUT OF ORDER across
    micro-batches — every event displaced by a deterministic +-25 min
    jitter, inside the 1 h watermark delay — must still emit exactly the
    batch twin's pair set: watermark eviction may only drop provably
    unjoinable state, never within-horizon pairs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pgstosrt_spark.streaming.joins import interval_join_view_attribution
    from pgstosrt_spark.streaming.windowed import read_events_stream

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    srcs = {}
    t0 = 1_700_000_000
    for kind in ("click", "view"):
        d = tmp_path / f"ooo_{kind}_src"
        d.mkdir()
        pdf = (
            ev.filter(F.col("event_type") == kind)
            .orderBy("ts", "event_id")
            .toPandas()
        )
        # deterministic shuffle: order by ts + hash-jitter in (-25, +25)
        # minutes, then chunk — adjacent micro-batches interleave events
        # out of event-time order, but displacement stays under the 1 h
        # watermark so nothing becomes legitimately-droppable late data
        jitter = (pdf["event_id"].to_numpy() * 2654435761 % 3000) - 1500
        order = np.argsort(
            pdf["ts"].astype("int64").to_numpy() + jitter * 1_000_000_000
        )
        pdf = pdf.iloc[order].reset_index(drop=True)
        for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), 6)):
            f = str(d / f"part-{i:05d}.parquet")
            pq.write_table(
                pa.Table.from_pandas(pdf.iloc[chunk], preserve_index=False),
                f,
                coerce_timestamps="us",
            )
            os.utime(f, (t0 + i, t0 + i))
        srcs[kind] = str(d)

    q = (
        interval_join_view_attribution(
            read_events_stream(spark, srcs["click"]),
            read_events_stream(spark, srcs["view"]),
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_ooo_pairs")
        .option("checkpointLocation", str(tmp_path / "ij_ooo_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["click_id"], r["view_id"])
        for r in spark.sql("select * from ij_ooo_pairs").collect()
    }
    batch = {
        (r["click_id"], r["view_id"])
        for r in interval_join_view_attribution(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "view"),
        ).collect()
    }
    assert got, "out-of-order stream-stream join emitted nothing"
    assert got == batch, (
        f"missing={len(batch - got)} extra={len(got - batch)}"
    )


def test_streaming_dedup_matches_batch(spark, tmp_path):
    """dropDuplicatesWithinWatermark ingestion dedup: an event log with
    redeliveries across micro-batches (same event_id, within the
    duplicate horizon) emits each event exactly once; the emitted set
    equals the batch dropDuplicates twin; state is keyed + evicted by
    the watermark, not grown forever."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pgstosrt_spark.streaming.windowed import (
        dedup_events_stream,
        read_events_stream,
    )

    src = tmp_path / "dup_src"
    src.mkdir()
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    pdf = ev.orderBy("ts", "event_id").toPandas().head(400)
    t0 = 1_700_000_000
    chunks = np.array_split(np.arange(len(pdf)), 4)
    for i, chunk in enumerate(chunks):
        part = pdf.iloc[chunk]
        if i > 0:
            # redeliver the tail of the PREVIOUS batch (at-least-once
            # upstream): same event_ids, within the 1h horizon
            part = __import__("pandas").concat(
                [pdf.iloc[chunks[i - 1]].tail(20), part], ignore_index=True
            )
        f = str(src / f"part-{i:05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            f,
            coerce_timestamps="us",
        )
        os.utime(f, (t0 + i, t0 + i))

    q = (
        dedup_events_stream(read_events_stream(spark, str(src)))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from dedup_stream").collect()
    ids = [r["event_id"] for r in got]
    assert len(ids) == len(set(ids)), "a redelivered event was emitted twice"
    assert sorted(ids) == sorted(pdf["event_id"].tolist())
    # values survive intact for a spot row
    want = {r["event_id"]: r["value"] for r in got}
    assert want[pdf["event_id"].iloc[0]] == pdf["value"].iloc[0]

"""End-to-end Spark pipeline tests: span-sequence equality vs the oracle.

The correctness contract (BASELINE.json): per doc, the extracted span
sequence equals the pure-Python oracle on (kind, text, media_ref, order).
"""

from __future__ import annotations

import base64
import json
import struct

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pgstosrt_spark.fixtures import corpus, encoder as enc
from pgstosrt_spark.pgs.decode import decode_media_payload
from pgstosrt_spark.pipeline import (
    extract,
    extract_cue_rows,
    extract_with_side,
    split_side_channel,
)
from pgstosrt_spark.sources.tables import DOCUMENTS_SCHEMA, SPAN_STRUCT

SF_DIR = "/root/testdata/sf0.001"


def _expected(doc_rows):
    return {
        d: [(s["kind"], s["text"], s["media_ref"]) for s in corpus.expected_extracted_rows(d, t)]
        for d, t in doc_rows
    }


def _collect_spans(df):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def small_docs(spark):
    """16 synthesized interleaved docs covering all corpus variants."""
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text").limit(16)
    rows = [(str(r["doc_id"]), r["text"]) for r in src.collect()]
    docs = spark.createDataFrame(
        [{"doc_id": d, "spans": corpus.doc_to_span_rows(d, t)} for d, t in rows],
        schema=DOCUMENTS_SCHEMA,
    )
    return docs, rows


def test_extract_fused_matches_oracle(spark, small_docs):
    docs, rows = small_docs
    got = _collect_spans(extract(docs))
    assert got == _expected(rows)


def test_extract_two_phase_matches_fused(spark, small_docs):
    docs, rows = small_docs
    fused = _collect_spans(extract(docs, mode="fused"))
    two_phase = _collect_spans(extract(docs, mode="two_phase"))
    assert two_phase == fused == _expected(rows)


def test_extract_balance_equivalent(spark, small_docs):
    docs, rows = small_docs
    got = _collect_spans(
        extract(docs, mode="two_phase", balance=True, rebalance_partitions=4)
    )
    assert got == _expected(rows)


def test_span_order_is_offset_then_seq(spark):
    """Cues from one media span keep stream order; spans keep doc order."""
    cues = [("CUE ONE", 90_000, 135_000), ("CUE TWO", 180_000, 225_000)]
    payload = base64.b64encode(enc.build_sup_from_cues(cues)).decode()
    docs = spark.createDataFrame(
        [
            {
                "doc_id": "d1",
                "spans": [
                    {"kind": "text", "text": "intro", "media_ref": "", "offset": 0},
                    {"kind": "media", "text": payload, "media_ref": "pgs://d1/0", "offset": 1},
                    {"kind": "text", "text": "outro", "media_ref": "", "offset": 2},
                ],
            }
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    [row] = extract(docs).collect()
    kinds = [s["kind"] for s in row["spans"]]
    texts = [s["text"] for s in row["spans"]]
    assert kinds == ["text", "cue", "cue", "text"]
    assert texts[0] == "intro" and texts[3] == "outro"
    assert texts[1].endswith("CUE ONE") and texts[2].endswith("CUE TWO")
    offsets = [s["offset"] for s in row["spans"]]
    assert offsets == [0, 1, 1, 2]


def test_metrics_side_channel_and_error_rows(spark):
    good = base64.b64encode(enc.build_sup_from_cues([("OK", 90_000, 180_000)])).decode()
    bad = base64.b64encode(b"MKPG" + b"\xff" * 8).decode()  # truncated container
    docs = spark.createDataFrame(
        [
            {
                "doc_id": "d1",
                "spans": [
                    {"kind": "media", "text": good, "media_ref": "pgs://d1/0", "offset": 0},
                    {"kind": "media", "text": bad, "media_ref": "pgs://d1/1", "offset": 1},
                ],
            }
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    rows = extract_cue_rows(docs)
    cues, side = split_side_channel(rows)
    side_rows = {r["kind"]: r for r in side.collect()}
    assert "_metric" in side_rows and "_error" in side_rows
    assert '"cues": 1' in side_rows["_metric"]["text"]
    assert cues.count() == 1
    # errors never silently vanish from the side channel, but the extracted
    # output keeps only the success path (reference drops failed items)
    [doc] = extract(docs).collect()
    assert [s["kind"] for s in doc["spans"]] == ["cue"]

    # per-partition lineage rollup: payload/cue/byte/wall totals reconcile
    from pgstosrt_spark.metrics import partition_lineage

    lin = partition_lineage(side).collect()
    assert sum(r["n_payloads"] for r in lin) == 1  # the good payload
    assert sum(r["n_cues"] for r in lin) == 1
    assert all(r["n_errors"] == 1 for r in lin)  # the bad payload, global
    assert all(r["wall_ms"] >= 0 and r["n_bytes"] > 0 for r in lin)


def test_all_failed_doc_keeps_shape(spark):
    """A doc whose ONLY span is a corrupt media payload must still appear
    in the extracted table (empty spans) — shape preservation; the error
    itself lands in the side channel, never silently."""
    bad = base64.b64encode(b"MKPG" + b"\xff" * 8).decode()
    docs = spark.createDataFrame(
        [
            {
                "doc_id": "only-bad",
                "spans": [
                    {"kind": "media", "text": bad, "media_ref": "pgs://b/0", "offset": 0}
                ],
            }
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    [doc] = extract(docs).collect()
    assert doc["doc_id"] == "only-bad" and doc["spans"] == []
    _cues, side = split_side_channel(extract_cue_rows(docs))
    assert side.filter(side.kind == "_error").count() == 1


def test_media_only_and_text_only_docs(spark):
    payload = base64.b64encode(enc.build_sup_from_cues([("SOLO", 90_000, 180_000)])).decode()
    docs = spark.createDataFrame(
        [
            {"doc_id": "t", "spans": [{"kind": "text", "text": "just text", "media_ref": "", "offset": 0}]},
            {"doc_id": "m", "spans": [{"kind": "media", "text": payload, "media_ref": "pgs://m/0", "offset": 0}]},
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    got = _collect_spans(extract(docs))
    assert got["t"] == [("text", "just text", "")]
    assert got["m"] == [("cue", "00:00:01,000 --> 00:00:02,000\nSOLO", "pgs://m/0")]


def test_skew_doc_many_media_spans(spark):
    """F14 skew: one doc with many media spans — two-phase == fused."""
    spans = []
    for i in range(60):
        p = base64.b64encode(
            enc.build_sup_from_cues([(f"SKEW {i}", 90_000 + i * 90_000, 135_000 + i * 90_000)])
        ).decode()
        spans.append({"kind": "media", "text": p, "media_ref": f"pgs://skew/{i}", "offset": i})
    docs = spark.createDataFrame([{"doc_id": "skew", "spans": spans}], schema=DOCUMENTS_SCHEMA)
    fused = _collect_spans(extract(docs))
    two_phase = _collect_spans(extract(docs, mode="two_phase", rebalance_partitions=8))
    assert fused == two_phase
    assert len(fused["skew"]) == 60


def test_skew_bench_corpus_mode_equivalence(spark):
    """The bench's skewed corpus (1 wide doc + monster single-span docs,
    fixtures.corpus.synthesize_skewed_documents) must extract identically
    under fused / two_phase / two_phase-AQE-width — the
    skew bench (VERDICT r2 item 2) times these modes, so their
    equivalence is the precondition for the comparison meaning anything."""
    from pgstosrt_spark.fixtures.corpus import synthesize_skewed_documents

    sk = synthesize_skewed_documents(
        spark, n_wide_spans=64, n_monster_docs=2, monster_cues=40, wide_cues=2
    ).cache()
    shapes = sorted(
        (r["doc_id"], r["n"])
        for r in sk.select("doc_id", F.size("spans").alias("n")).collect()
    )
    assert shapes == [
        ("skew-monster-0", 1),
        ("skew-monster-1", 1),
        ("skew-wide-0", 64),
    ]
    want = _collect_spans(extract(sk, mode="fused"))
    assert len(want["skew-monster-0"]) == 40
    assert _collect_spans(extract(sk, mode="two_phase")) == want
    assert (
        _collect_spans(extract(sk, mode="two_phase", rebalance_partitions="aqe"))
        == want
    )
    sk.unpersist()


def test_srt_render_matches_pure_python(spark, small_docs):
    """O5: Spark-side SubRip rendering == pgs.srt.render_srt byte-for-byte."""
    from pgstosrt_spark.pgs.decode import decode_media_payload
    from pgstosrt_spark.pipeline import render_srt_documents

    docs, rows = small_docs
    got = {
        (r["doc_id"], r["media_ref"]): r["srt"]
        for r in render_srt_documents(docs).collect()
    }
    expected = {}
    for d, t in rows:
        for span in corpus.doc_to_span_rows(d, t):
            if span["kind"] != "media":
                continue
            cues = decode_media_payload(base64.b64decode(span["text"]))
            blocks = []
            for _seq, cue in cues:
                tc, text = cue.split("\n", 1)
                start, end = tc.split(" --> ")
                blocks.append((start, end, text))
            srt = "\r\n".join(
                f"{n}\r\n{s} --> {e}\r\n{x}\r\n" for n, (s, e, x) in enumerate(blocks, 1)
            ) + ("\r\n" if blocks else "")
            if blocks:
                expected[(d, span["media_ref"])] = srt
    assert got == expected


# ------------------------------------------------- one-scan kernel edge cases

# spans nullable, so a NULL spans list can be fed in
NULLABLE_SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
    ]
)


def _overrun_first_ods(sup: bytes) -> bytes:
    """The first object's height cut to one row: its RLE then overruns the
    object, rasterize raises DecodeError and that composition is dropped."""
    out = bytearray(sup)
    pos = 0
    while pos < len(out):
        seg_type, size = out[pos + 10], struct.unpack_from(">H", out, pos + 11)[0]
        if seg_type == enc.SEG_ODS:
            struct.pack_into(">H", out, pos + 13 + 9, 1)  # ODS height field
            break
        pos += 13 + size
    return bytes(out)


def _b64(payload: bytes) -> str:
    return base64.b64encode(payload).decode()


def _span(kind, text, offset, ref=""):
    return {"kind": kind, "text": text, "media_ref": ref, "offset": offset}


def _edge_docs() -> list[dict]:
    good = _b64(enc.build_sup_from_cues([("EDGE A", 90_000, 180_000), ("EDGE B", 270_000, 360_000)]))
    solo = _b64(enc.build_sup_from_cues([("SOLO", 90_000, 180_000)]))
    overrun = _b64(
        _overrun_first_ods(
            enc.build_sup_from_cues([("BAD ONE", 90_000, 180_000), ("GOOD TWO", 270_000, 360_000)])
        )
    )
    corrupt = _b64(b"MKPG" + b"\xff" * 8)  # truncated container
    return [
        {"doc_id": "null-spans", "spans": None},
        {"doc_id": "empty-spans", "spans": []},
        {"doc_id": "text-only", "spans": [_span("text", f"w{i}", i) for i in range(3)]},
        {"doc_id": "media-only", "spans": [_span("media", good, 0, "pgs://m/0")]},
        {
            "doc_id": "corrupt",
            "spans": [_span("text", "before", 0), _span("media", corrupt, 1, "pgs://c/1")],
        },
        {
            "doc_id": "bad-b64",
            "spans": [
                _span("text", "keep me", 0),
                _span("media", "@@not base64!!", 1, "pgs://b/1"),
                _span("text", "and me", 2),
            ],
        },
        {
            "doc_id": "unknown-kind",
            "spans": [_span("text", "a", 0), _span("image", "x", 1, "img://1"), _span("text", "b", 2)],
        },
        {
            "doc_id": "out-of-order",
            "spans": [
                _span("text", "third", 2),
                _span("text", "first", 0),
                _span("media", solo, 1, "pgs://o/1"),
                _span("text", "tied", 1),
            ],
        },
        {
            "doc_id": "dup-offsets",
            "spans": [_span("text", "zz", 0), _span("text", "aa", 0), _span("text", "mm", 1)],
        },
        {"doc_id": "overrun", "spans": [_span("media", overrun, 0, "pgs://r/0")]},
        {"doc_id": "text-two", "spans": [_span("text", "x", 5), _span("text", None, 9)]},
    ]


def _null_first(row):
    return [(v is not None, v) for v in row]


def _oracle_doc(spans) -> list[tuple]:
    """Pure-Python extraction of one doc: text spans kept, media spans
    replaced by the oracle's cues, other kinds dropped, in the null-first
    (offset, seq, kind, text, media_ref) order."""
    rows = []
    for s in spans or []:
        if s["kind"] == "text":
            rows.append((s["offset"], 0, "text", s["text"], s["media_ref"]))
        elif s["kind"] == "media":
            try:
                cues = decode_media_payload(base64.b64decode(s["text"], validate=True))
            except Exception:  # the kernels' _error row: no cues
                cues = []
            rows += [(s["offset"], seq, "cue", text, s["media_ref"]) for seq, text in cues]
    rows.sort(key=_null_first)
    return [(kind, text, ref, off) for off, _seq, kind, text, ref in rows]


def _full_spans(df) -> dict:
    return {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in df.collect()}


def _failed_tasks(spark, group: str) -> int:
    tracker = spark.sparkContext.statusTracker()
    failed = 0
    for job in tracker.getJobIdsForGroup(group):
        for stage in tracker.getJobInfo(job).stageIds:
            info = tracker.getStageInfo(stage)
            failed += info.numFailedTasks if info else 0
    return failed


@pytest.mark.parametrize("batch_rows", [2, 512])
def test_one_scan_edge_cases_match_two_phase_and_oracle(spark, batch_rows):
    """NULL/empty spans, text-only and media-only docs, corrupt payloads,
    invalid base64, unknown kinds, out-of-order and duplicate offsets: the
    one-scan plan equals two_phase and the pure-Python oracle, with zero
    failed tasks — also when a partition's docs span many Arrow batches."""
    rows = _edge_docs()
    docs = spark.createDataFrame(rows, schema=NULLABLE_SPANS_SCHEMA).coalesce(1)
    want = {d["doc_id"]: _oracle_doc(d["spans"]) for d in rows}
    sc = spark.sparkContext
    group = f"edge-cases-{batch_rows}"
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_rows))
    sc.setJobGroup(group, group)
    try:
        one_scan = _full_spans(extract(docs))
        two_phase = _full_spans(extract(docs, mode="two_phase"))
    finally:
        sc.setJobGroup("", "")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
    assert one_scan == two_phase == want
    assert _failed_tasks(spark, group) == 0
    assert want["null-spans"] == want["empty-spans"] == []
    assert [k for k, *_ in want["out-of-order"]] == ["text", "text", "cue", "text"]
    assert [t for _k, t, *_ in want["dup-offsets"]] == ["aa", "zz", "mm"]


def test_doc_kernel_sliced_batches():
    """The per-document kernel reads only its batch's slice of the spans
    values: a batch cut into slices gives the rows of the whole batch."""
    from pgstosrt_spark.kernels import extract_batch
    from pgstosrt_spark.pgs.ocr import GlyphAtlasOcr

    in_span = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
            ("payload", pa.binary()),
        ]
    )

    def payload(s):
        if s["kind"] != "media":
            return None
        try:
            return base64.b64decode(s["text"], validate=True)
        except ValueError:
            return None

    rows = _edge_docs()
    batch = pa.RecordBatch.from_pylist(
        [
            {
                "doc_id": d["doc_id"],
                "spans": None
                if d["spans"] is None
                else [
                    {**s, "text": None if s["kind"] == "media" else s["text"], "payload": payload(s)}
                    for s in d["spans"]
                ],
            }
            for d in rows
        ],
        schema=pa.schema([("doc_id", pa.string()), ("spans", pa.list_(in_span))]),
    )
    ocr = GlyphAtlasOcr()
    whole = extract_batch(batch, ocr, 0)
    pieces = [extract_batch(batch.slice(i, 3), ocr, 0) for i in range(0, len(rows), 3)]
    keep = lambda b: b.select(["doc_id", "spans"]).to_pylist()  # noqa: E731
    assert [r for p in pieces for r in keep(p)] == keep(whole)
    got = {r["doc_id"]: [tuple(s.values()) for s in r["spans"]] for r in keep(whole)}
    assert got == {d["doc_id"]: _oracle_doc(d["spans"]) for d in rows}
    side = {r["doc_id"]: r["side"] for r in whole.to_pylist()}
    assert side["text-only"] == [] and side["null-spans"] == []
    assert [(s["kind"], s["text"]) for s in side["bad-b64"]] == [("_error", "invalid base64")]


def test_invalid_base64_does_not_fail_the_job(spark):
    """A media span whose text is not base64 becomes one ``invalid base64``
    error row: the job runs, the doc keeps its text spans, and the other
    docs are unaffected — in both modes."""
    solo = _b64(enc.build_sup_from_cues([("FINE", 90_000, 180_000)]))
    docs = spark.createDataFrame(
        [
            {
                "doc_id": "bad",
                "spans": [
                    _span("text", "intro", 0),
                    _span("media", "@@not base64!!", 1, "pgs://bad/1"),
                    _span("text", "outro", 2),
                ],
            },
            {"doc_id": "fine", "spans": [_span("media", solo, 0, "pgs://fine/0")]},
        ],
        schema=DOCUMENTS_SCHEMA,
    )
    want = {
        "bad": [("text", "intro", "", 0), ("text", "outro", "", 2)],
        "fine": [("cue", "00:00:01,000 --> 00:00:02,000\nFINE", "pgs://fine/0", 0)],
    }
    assert _full_spans(extract(docs)) == want
    assert _full_spans(extract(docs, mode="two_phase")) == want
    side = [r for d in extract_with_side(docs).collect() for r in d["side"]]
    assert sorted((r["kind"], r["media_ref"]) for r in side) == [
        ("_error", "pgs://bad/1"),
        ("_metric", "pgs://fine/0"),
    ]
    assert [r["text"] for r in side if r["kind"] == "_error"] == ["invalid base64"]
    for mode in ("fused", "two_phase"):
        _cues, flat_side = split_side_channel(extract_cue_rows(docs, mode=mode))
        errors = flat_side.filter(F.col("kind") == "_error").collect()
        assert [r["text"] for r in errors] == ["invalid base64"]


def test_dropped_composition_is_counted(spark):
    """A composition whose RLE overruns its object is dropped (as the
    reference does) but counted: ``cues + dropped == comps`` in the
    payload's _metric row, in both single-pass plans, and the drop shows
    in the lineage rollup."""
    from pgstosrt_spark.metrics import partition_lineage

    payload = _overrun_first_ods(
        enc.build_sup_from_cues([("BAD ONE", 90_000, 180_000), ("GOOD TWO", 270_000, 360_000)])
    )
    assert len(decode_media_payload(payload)) == 1
    docs = spark.createDataFrame(
        [{"doc_id": "d", "spans": [_span("media", _b64(payload), 0, "pgs://d/0")]}],
        schema=DOCUMENTS_SCHEMA,
    )
    _cues, flat_side = split_side_channel(extract_cue_rows(docs))
    doc_side = extract_with_side(docs).select(F.explode("side").alias("s")).select("s.*")
    for side in (flat_side, doc_side):
        [row] = side.collect()
        m = json.loads(row["text"])
        assert (m["comps"], m["cues"], m["dropped"]) == (2, 1, 1)
        assert m["cues"] + m["dropped"] == m["comps"]
        [lin] = partition_lineage(side).collect()
        assert (lin["n_payloads"], lin["n_comps"], lin["n_cues"], lin["n_dropped"]) == (1, 2, 1, 1)

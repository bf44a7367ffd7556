"""Seeded workload inputs, the pure-Python oracle and the output checks.

Every input is made from the ``--seed``: which rows of the driver's
``documents(doc_id, text)`` table (``data/documents.parquet``, the 5,000-row
sf0.1 table) a workload gets, and, for ``text_heavy``, which documents carry
media.  The rows are drawn in equal shares per fixture variant
(``doc_id % 7``), so a seed changes which documents run, not the variant
mix.  The program only ever sees the generated ``documents`` tables.

Expected outputs come from the program's pure-Python ``pgs`` oracle
(``decode_media_payload``) over the exact payload bytes the table holds, and
are kept as one digest per document, computed during set-up.
"""

from __future__ import annotations

import base64
import glob
import hashlib
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from pgstosrt_spark.fixtures import encoder
from pgstosrt_spark.fixtures.corpus import (
    N_VARIANTS,
    normalize_for_atlas,
    synthesize_documents,
    synthesize_skewed_documents,
)
from pgstosrt_spark.pgs.decode import decode_media_payload

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")

SPAN_TYPE = pa.struct(
    [
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), nullable=False),
    ]
)
SPAN_KEYS = ("kind", "text", "media_ref", "offset")
# what the checks compare an output as: every field nullable, as Spark may
# write it
OUTPUT_ARROW = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field(
            "spans",
            pa.list_(pa.struct([pa.field(k, SPAN_TYPE.field(k).type) for k in SPAN_KEYS])),
        ),
    ]
)
DOCUMENTS_ARROW = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(SPAN_TYPE), nullable=False),
    ]
)


@dataclass(frozen=True)
class Shape:
    """Size knobs of one workload's input (fixed per workload, not per seed)."""

    docs: int  # driver documents drawn from the seed
    monster_cues: int = 0  # skewed: compositions in the one monster doc
    wide_spans: int = 0  # skewed: media spans in the one wide doc
    words_per_span: int = 0  # text_heavy: words per text span
    media_share: float = 0.0  # text_heavy: share of docs with a PGS span
    n_batches: int = 0  # checkpointed: batch count of run_with_checkpoints


SHAPES = {
    "uniform": Shape(docs=500),
    "skewed": Shape(docs=200, monster_cues=3000, wide_spans=256),
    "text_heavy": Shape(docs=2000, words_per_span=2, media_share=0.05),
    "checkpointed": Shape(docs=500, n_batches=2),
}


def source_documents(seed: int, n_docs: int) -> pa.Table:
    """``n_docs`` seeded rows of the driver's ``documents(doc_id, text)``,
    ``n_docs // 7`` per fixture variant (the remainder to seeded variants),
    in ``doc_id`` order."""
    table = pq.read_table(SOURCE, columns=["doc_id", "text"])
    rng = random.Random(seed)
    by_variant: dict[int, list[int]] = {}
    for row, doc_id in enumerate(table["doc_id"].to_pylist()):
        by_variant.setdefault(doc_id % N_VARIANTS, []).append(row)
    extra = set(rng.sample(range(N_VARIANTS), n_docs % N_VARIANTS))
    rows = []
    for variant in range(N_VARIANTS):
        rows += rng.sample(by_variant[variant], n_docs // N_VARIANTS + (variant in extra))
    return table.take(rows).sort_by("doc_id")


def text_heavy_rows(source: pa.Table, shape: Shape, seed: int) -> list[dict]:
    """Each source doc split into many short text spans; a seeded
    ``media_share`` of them also carry one plain ``.sup`` payload of three
    4-word cues from their own words (fixture encoder)."""
    ids, texts = source["doc_id"].to_pylist(), source["text"].to_pylist()
    with_media = set(random.Random(seed).sample(ids, round(shape.media_share * len(ids))))
    rows = []
    for doc_id, text in zip(ids, texts):
        words = text.split()
        k = shape.words_per_span
        spans = [
            {"kind": "text", "text": " ".join(words[i : i + k]), "media_ref": "", "offset": n}
            for n, i in enumerate(range(0, len(words), k))
        ]
        if doc_id in with_media:
            cue_words = normalize_for_atlas(" ".join(words * 2)).split()[:12]
            timed = [
                (" ".join(cue_words[4 * j : 4 * j + 4]), 90_000 * (1 + 2 * j), 90_000 * (2 + 2 * j))
                for j in range(3)
            ]
            payload = encoder.build_sup_from_cues(timed)
            spans.append(
                {
                    "kind": "media",
                    "text": base64.b64encode(payload).decode(),
                    "media_ref": f"pgs://{doc_id}/{len(spans)}",
                    "offset": len(spans),
                }
            )
        rows.append({"doc_id": str(doc_id), "spans": spans})
    return rows


def write_source(source: pa.Table, src_dir: str) -> None:
    os.makedirs(src_dir, exist_ok=True)
    pq.write_table(source, os.path.join(src_dir, "documents.parquet"))


def build_table(spark, workload: str, seed: int, src_dir: str, dest: str) -> None:
    """Write the workload's ``documents`` table to ``dest`` (parquet).

    ``src_dir`` already holds the seeded driver documents.  The Spark
    workloads use the program's own corpus builders; ``text_heavy`` is
    built here from the fixture encoder and written in one file per slot,
    the layout the Spark builders produce.
    """
    shape = SHAPES[workload]
    if workload == "text_heavy":
        rows = text_heavy_rows(pq.read_table(os.path.join(src_dir, "documents.parquet")), shape, seed)
        os.makedirs(dest)
        slots = spark.sparkContext.defaultParallelism
        for part in range(slots):
            pq.write_table(
                pa.Table.from_pylist(rows[part::slots], schema=DOCUMENTS_ARROW),
                os.path.join(dest, f"part-{part:05d}.parquet"),
            )
        return
    docs = synthesize_documents(spark, src_dir)
    if workload == "skewed":
        docs = docs.unionByName(
            synthesize_skewed_documents(
                spark,
                n_wide_spans=shape.wide_spans,
                n_monster_docs=1,
                monster_cues=shape.monster_cues,
                wide_cues=2,
            )
        )
    docs.write.parquet(dest)


def _digest(spans: list[tuple]) -> str:
    return hashlib.blake2b(json.dumps(spans).encode(), digest_size=16).hexdigest()


def oracle_cues(payload: bytes) -> list[tuple[int, str]] | None:
    """Oracle cues of one payload; ``None`` where the kernel emits ``_error``."""
    try:
        return decode_media_payload(payload)
    except Exception:  # the kernel turns any raise into one _error row
        return None


@dataclass
class Expected:
    """Oracle view of one ``documents`` table."""

    digests: dict[str, str]
    table: pa.Table = field(repr=False)  # the expected output, in doc_id order
    payloads: list[bytes] = field(repr=False)
    error_payloads: int = 0

    @property
    def n_docs(self) -> int:
        return len(self.digests)

    @property
    def payload_mb(self) -> float:
        return sum(map(len, self.payloads)) / 1e6


def expected_outputs(table_dir: str) -> Expected:
    """Per-doc digest of the span sequence ``extract`` must produce: text
    spans unchanged, each media span replaced by its oracle cues, in
    (offset, seq) order."""
    digests: dict[str, str] = {}
    rows: list[dict] = []
    payloads: list[bytes] = []
    errors = 0
    for doc in pq.read_table(table_dir, columns=["doc_id", "spans"]).to_pylist():
        out = []
        for s in sorted(doc["spans"], key=lambda s: s["offset"]):
            if s["kind"] != "media":
                out.append((s["kind"], s["text"], s["media_ref"], s["offset"]))
                continue
            payload = base64.b64decode(s["text"])
            payloads.append(payload)
            cues = oracle_cues(payload)
            if cues is None:
                errors += 1
                continue
            out.extend(("cue", text, s["media_ref"], s["offset"]) for _seq, text in cues)
        digests[doc["doc_id"]] = _digest(out)
        rows.append({"doc_id": doc["doc_id"], "spans": [dict(zip(SPAN_KEYS, s)) for s in out]})
    table = pa.Table.from_pylist(rows, schema=OUTPUT_ARROW).sort_by("doc_id")
    return Expected(digests, table, payloads, errors)


def span_mismatch_docs(out_dir: str, expected: Expected) -> int:
    """Docs whose extracted span sequence differs from the oracle, plus docs
    missing from, duplicated in or foreign to the output."""
    table = pq.read_table(out_dir, columns=["doc_id", "spans"])
    try:  # the common case, compared without leaving Arrow
        if table.cast(OUTPUT_ARROW).sort_by("doc_id").equals(expected.table):
            return 0
    except (pa.ArrowInvalid, pa.ArrowTypeError):  # another layout: doc by doc
        pass
    seen: dict[str, str] = {}
    bad = 0
    for doc_id, spans in zip(table["doc_id"].to_pylist(), table["spans"].to_pylist()):
        if doc_id in seen:
            bad += 1
            continue
        seen[doc_id] = _digest([tuple(s[k] for k in SPAN_KEYS) for s in spans or []])
    for doc_id, digest in expected.digests.items():
        if seen.get(doc_id) != digest:
            bad += 1
    return bad + len(seen.keys() - expected.digests.keys())


def manifest_gaps(out_dir: str, n_batches: int, n_docs: int) -> int:
    """Checkpoint commit problems after the resume: batches without a
    manifest, plus one if the manifests' doc counts do not sum to the
    corpus size."""
    manifests = {}
    for path in glob.glob(os.path.join(out_dir, "_manifest", "*.json")):
        with open(path) as fh:
            m = json.load(fh)
        manifests[m["batch"]] = m
    gaps = sum(1 for b in range(n_batches) if b not in manifests)
    if sum(m["n_docs"] for m in manifests.values()) != n_docs:
        gaps += 1
    return gaps


def checkpoint_mismatches(out_dir: str, expected: Expected, n_batches: int) -> int:
    """Span mismatches of a ``run_with_checkpoints`` output plus its
    manifest gaps."""
    return span_mismatch_docs(
        os.path.join(out_dir, "data"), expected
    ) + manifest_gaps(out_dir, n_batches, expected.n_docs)


def side_channel_errors(rows_dir: str) -> tuple[int, int]:
    """(``_metric`` rows, ``_error`` rows) among written kernel rows: one
    per payload that decoded, one per payload that raised."""
    kinds = pq.read_table(rows_dir, columns=["kind"])["kind"].to_pylist()
    return kinds.count("_metric"), kinds.count("_error")

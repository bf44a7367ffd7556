"""Arrow-vectorized extraction kernels (SURVEY.md §2 K-parse/K-decode/K-ocr).

Every kernel is an Arrow batch iterator (``mapInArrow``/``mapInPandas``),
never a row-at-a-time Python UDF.  Each media payload is one self-contained
PGS stream, so the sequential display-set state machine (the part Catalyst
cannot express, SURVEY.md §2.3 A1) runs per payload *inside* the kernel
while Spark parallelizes across payloads; pixel/byte work is numpy.

One per-payload function, :func:`payload_cues`, turns payload bytes into
``(cues, counters)``; every single-pass kernel calls it, so cues, error
policy and ``_metric`` counters are the same whichever plan runs.

Kernels (pipeline.py picks):
  * per-document — :func:`make_doc_kernel`, the default plan.  One
                ``mapInArrow`` over whole ``documents`` rows: text-only
                docs whose offsets strictly increase pass through as Arrow
                (no Python objects); every other doc is rebuilt in Python,
                each media span replaced by its cues, in the same null-first
                ``(offset, seq, kind, text, media_ref)`` order as the
                ``sort_array`` tail of the flat plans.  Side-channel rows
                ride out in a per-doc ``side`` column.  No exchange.
  * fused     — :func:`make_fused_kernel` over flat media-span rows: one
                row per cue plus one side row per payload (the flat
                ``extract_cue_rows`` plan).
  * two-phase — kernel A does the cheap, inherently-sequential byte walk
                (parse+assemble+merge) and emits per-composition rows;
                after a hash rebalance on (doc_id, offset, seq) — NOT
                round-robin, which would local-sort the pickled binaries
                (pipeline.py two_phase) — kernel B does the expensive
                decode+OCR per composition.  Right for skew: one monster
                payload fans out to many tasks (SURVEY.md §4.3.1).

Error policy: the reference silently drops failing items
(PgsOcr.cs:103-106); these kernels never stay silent — every failing
payload emits a ``kind='_error'`` row and every other payload a
``kind='_metric'`` row whose JSON counters (``bytes, comps, cues, dropped,
part, wall_ms``) account for every composition: ``cues + dropped == comps``.
A NULL payload (media text that is not valid base64) is an ``_error`` row
``invalid base64``, never a failed task.
"""

from __future__ import annotations

import json
import pickle
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from .pgs.compose import rasterize
from .pgs.decode import decode_to_display_sets
from .pgs.model import DecodeError, PcsData
from .pgs.ocr import GlyphAtlasOcr, OcrBackend
from .pgs.srt import cue_text

CUE_SCHEMA = (
    "doc_id string, offset int, seq int, kind string, text string, media_ref string"
)

COMP_SCHEMA = (
    "doc_id string, offset int, seq int, kind string, media_ref string, pcs binary, info string"
)

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
SIDE_TYPE = pa.struct(
    [
        ("offset", pa.int32()),
        ("seq", pa.int32()),
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
    ]
)
# side-channel text of a media span whose text is not base64 (NULL payload)
INVALID_BASE64 = "invalid base64"

# the per-document kernel's output: the extracted documents shape plus the
# per-doc side channel (CUE_SCHEMA rows without doc_id)
DOC_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "side array<struct<offset:int,seq:int,kind:string,text:string,media_ref:string>>"
)


def _partition_id() -> int:
    """Task partition id for per-partition lineage (north_rule); -1 off Spark."""
    from pyspark import TaskContext

    tc = TaskContext.get()
    return tc.partitionId() if tc is not None else -1


def payload_cues(
    payload: bytes | None,
    backend: OcrBackend,
    skip_merge: bool = False,
    force_merge_all: bool = False,
    multi_object_opacity_fix: bool = False,
) -> tuple[list[tuple[int, str]], dict]:
    """One media payload -> ``(cues, counters)``; never raises.

    ``cues`` equals the oracle's ``decode_media_payload`` (a composition
    whose rasterize/OCR raises ``DecodeError`` is dropped, any other raise
    fails the payload).  ``counters`` is ``{"error": message}`` for a
    failing payload, else ``{bytes, comps, cues, dropped, wall_ms}`` with
    ``cues + dropped == comps``.
    """
    if payload is None:
        return [], {"error": INVALID_BASE64}
    t0 = time.perf_counter()
    cues: list[tuple[int, str]] = []
    try:
        sets = decode_to_display_sets(bytes(payload), skip_merge, force_merge_all)
        for i, pcs in enumerate(sets):
            try:
                img = rasterize(pcs, multi_object_opacity_fix=multi_object_opacity_fix)
                text = backend.recognize(img)
            except DecodeError:
                continue  # reference: log + drop (PgsOcr.cs:103-106); counted below
            cues.append((i + 1, cue_text(pcs.start, pcs.end, text)))
    except Exception as exc:  # never silent (vs PgsOcr.cs:103-106)
        return [], {"error": f"{type(exc).__name__}: {exc}"}
    return cues, {
        "bytes": len(payload),
        "comps": len(sets),
        "cues": len(cues),
        "dropped": len(sets) - len(cues),
        "wall_ms": round((time.perf_counter() - t0) * 1e3, 3),
    }


def _side_row(counters: dict, part: int) -> tuple[str, str]:
    """``(kind, text)`` of a payload's side-channel row."""
    if "error" in counters:
        return "_error", counters["error"]
    return "_metric", json.dumps({**counters, "part": part}, sort_keys=True)


def _null_first(row: tuple) -> list:
    """Sort key matching Spark's ascending ``sort_array`` of structs:
    field by field, NULL before any value."""
    return [(v is not None, v) for v in row]


def _rebuild_document(
    spans: list[dict], backend: OcrBackend, part: int, **flags
) -> tuple[list[tuple], list[tuple]]:
    """One document's spans (with ``payload`` on media spans) ->
    ``(output spans, side rows)``: text spans kept, each media span replaced
    by its cues, unknown kinds dropped, ordered by the null-first
    ``(offset, seq, kind, text, media_ref)`` key."""
    rows: list[tuple] = []  # (offset, seq, kind, text, media_ref)
    side: list[tuple] = []
    for s in spans:
        kind, offset, ref = s["kind"], s["offset"], s["media_ref"]
        if kind == "text":
            rows.append((offset, 0, "text", s["text"], ref))
        elif kind == "media":
            cues, counters = payload_cues(s["payload"], backend, **flags)
            rows.extend((offset, seq, "cue", text, ref) for seq, text in cues)
            side.append((offset, 0, *_side_row(counters, part), ref))
    rows.sort(key=_null_first)
    return [(kind, text, ref, offset) for offset, _seq, kind, text, ref in rows], side


def _passthrough_mask(spans: pa.ListArray) -> np.ndarray:
    """True per doc whose spans are all ``text`` with strictly increasing,
    non-NULL offsets: its output spans are its input spans."""
    flat = spans.flatten()  # only the values of this (possibly sliced) batch
    parents = pc.list_parent_indices(spans).to_numpy()
    kinds = pc.struct_field(flat, "kind")
    offsets = pc.struct_field(flat, "offset")
    bad = ~pc.fill_null(pc.equal(kinds, "text"), False).to_numpy(zero_copy_only=False)
    bad |= offsets.is_null().to_numpy(zero_copy_only=False)
    off = pc.fill_null(offsets, 0).to_numpy()
    bad[1:] |= (parents[1:] == parents[:-1]) & (off[1:] <= off[:-1])
    keep = ~spans.is_null().to_numpy(zero_copy_only=False)
    keep[parents[bad]] = False
    return keep


def _span_lists(spans: pa.ListArray) -> pa.ListArray:
    """The input spans without their ``payload`` field (values not copied)."""
    flat = spans.flatten()
    offsets = pc.subtract(spans.offsets, spans.offsets[0])
    values = pa.StructArray.from_arrays(
        [pc.struct_field(flat, f.name) for f in SPAN_TYPE], fields=list(SPAN_TYPE)
    )
    return pa.ListArray.from_arrays(offsets, values)


def extract_batch(
    batch: pa.RecordBatch, backend: OcrBackend, part: int, **flags
) -> pa.RecordBatch:
    """``(doc_id, spans[kind, text, media_ref, offset, payload])`` ->
    ``(doc_id, spans, side)``, one output row per input row."""
    spans = batch.column("spans")
    n = len(spans)
    keep = _passthrough_mask(spans)
    rebuild = np.flatnonzero(~keep)
    out_spans: list = []
    out_side: list = []
    for doc in spans.take(rebuild).to_pylist():
        s, side = _rebuild_document(doc or [], backend, part, **flags)
        out_spans.append(s)
        out_side.append(side)
    # passthrough rows index the kept spans, rebuilt rows the new lists
    idx = np.arange(n)
    idx[rebuild] = n + np.arange(len(rebuild))
    no_side = pa.ListArray.from_arrays(np.zeros(n + 1, np.int32), pa.array([], SIDE_TYPE))
    return pa.RecordBatch.from_arrays(
        [
            batch.column("doc_id"),
            pa.concat_arrays(
                [_span_lists(spans), pa.array(out_spans, pa.list_(SPAN_TYPE))]
            ).take(idx),
            pa.concat_arrays([no_side, pa.array(out_side, pa.list_(SIDE_TYPE))]).take(idx),
        ],
        names=["doc_id", "spans", "side"],
    )


def make_doc_kernel(backend: OcrBackend | None = None, **flags):
    """Per-document ``mapInArrow`` kernel (:func:`extract_batch` per batch)."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        part = _partition_id()
        ocr = backend or GlyphAtlasOcr()
        for batch in batches:
            yield extract_batch(batch, ocr, part, **flags)

    return kernel


def make_fused_kernel(backend: OcrBackend | None = None, **flags):
    """Fused K-parse∘K-decode∘K-ocr over flat (doc_id, offset, media_ref,
    payload) rows -> CUE_SCHEMA rows: a payload's cues, then its side row."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        part = _partition_id()
        ocr = backend or GlyphAtlasOcr()
        for pdf in batches:
            # column lists + .tolist() iteration: pandas Series item access
            # and list-of-dicts DataFrame construction cost ~20% of the
            # whole kernel at scale; plain python lists don't
            cols: dict[str, list] = {
                k: [] for k in ("doc_id", "offset", "seq", "kind", "text", "media_ref")
            }
            for doc_id, offset, media_ref, payload in zip(
                pdf["doc_id"].tolist(),
                pdf["offset"].tolist(),
                pdf["media_ref"].tolist(),
                pdf["payload"].tolist(),
            ):
                cues, counters = payload_cues(payload, ocr, **flags)
                rows = [(seq, "cue", text) for seq, text in cues]
                rows.append((0, *_side_row(counters, part)))
                for seq, kind, text in rows:
                    cols["doc_id"].append(doc_id)
                    cols["offset"].append(int(offset))
                    cols["seq"].append(seq)
                    cols["kind"].append(kind)
                    cols["text"].append(text)
                    cols["media_ref"].append(media_ref)
            yield pd.DataFrame(cols)

    return kernel


def make_parse_kernel(skip_merge: bool = False, force_merge_all: bool = False):
    """Two-phase kernel A: payload -> per-composition rows (cheap byte walk).

    Emits one ``kind='comp'`` row per merged display set with the PcsData
    pickled into a binary cell; decode+OCR happen downstream after a
    rebalance, so a single skewed payload spreads across the cluster.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        part = _partition_id()
        for pdf in batches:
            rows: list[dict] = []
            for doc_id, offset, media_ref, payload in zip(
                pdf["doc_id"], pdf["offset"], pdf["media_ref"], pdf["payload"]
            ):
                t0 = time.perf_counter()
                try:
                    sets = decode_to_display_sets(
                        bytes(payload), skip_merge=skip_merge, force_merge_all=force_merge_all
                    )
                    for i, pcs in enumerate(sets):
                        rows.append(
                            {
                                "doc_id": doc_id,
                                "offset": int(offset),
                                "seq": i + 1,
                                "kind": "comp",
                                "media_ref": media_ref,
                                "pcs": pickle.dumps(pcs, protocol=pickle.HIGHEST_PROTOCOL),
                                "info": "",
                            }
                        )
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "offset": int(offset),
                            "seq": 0,
                            "kind": "_metric",
                            "media_ref": media_ref,
                            "pcs": None,
                            "info": json.dumps(
                                {
                                    "comps": len(sets),
                                    "bytes": len(payload),
                                    "parse_ms": round((time.perf_counter() - t0) * 1e3, 3),
                                    "part": part,
                                },
                                sort_keys=True,
                            ),
                        }
                    )
                except Exception as exc:
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "offset": int(offset),
                            "seq": 0,
                            "kind": "_error",
                            "media_ref": media_ref,
                            "pcs": None,
                            "info": INVALID_BASE64
                            if payload is None
                            else f"{type(exc).__name__}: {exc}",
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "offset", "seq", "kind", "media_ref", "pcs", "info"],
            )

    return kernel


def make_ocr_kernel(
    backend: OcrBackend | None = None, multi_object_opacity_fix: bool = False
):
    """Two-phase kernel B: composition rows -> cue rows (decode + OCR).

    Non-``comp`` rows (the parse kernel's ``_metric``/``_error`` side
    channel) pass through unchanged, ``info`` re-labelled as ``text``.
    Routing them through this kernel instead of a separate filter branch
    means the expensive parse kernel executes exactly once — a second
    uncached branch would re-parse every payload (round-1 bench showed
    that costing a full extra 128-task parse stage)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ocr = backend or GlyphAtlasOcr()
        for pdf in batches:
            c_doc: list = []
            c_off: list = []
            c_seq: list = []
            c_kind: list = []
            c_text: list = []
            c_ref: list = []
            for doc_id, offset, seq, in_kind, media_ref, blob, info in zip(
                pdf["doc_id"].tolist(),
                pdf["offset"].tolist(),
                pdf["seq"].tolist(),
                pdf["kind"].tolist(),
                pdf["media_ref"].tolist(),
                pdf["pcs"].tolist(),
                pdf["info"].tolist(),
            ):
                if in_kind != "comp":  # side-channel pass-through
                    kind, out = in_kind, info
                else:
                    try:
                        pcs: PcsData = pickle.loads(bytes(blob))
                        img = rasterize(
                            pcs, multi_object_opacity_fix=multi_object_opacity_fix
                        )
                        text = ocr.recognize(img)
                        kind, out = "cue", cue_text(pcs.start, pcs.end, text)
                    except Exception as exc:
                        kind, out = "_error", f"{type(exc).__name__}: {exc}"
                c_doc.append(doc_id)
                c_off.append(int(offset))
                c_seq.append(int(seq))
                c_kind.append(kind)
                c_text.append(out)
                c_ref.append(media_ref)
            yield pd.DataFrame(
                {
                    "doc_id": c_doc,
                    "offset": c_off,
                    "seq": c_seq,
                    "kind": c_kind,
                    "text": c_text,
                    "media_ref": c_ref,
                }
            )

    return kernel

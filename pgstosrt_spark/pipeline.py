"""The extraction DataFrame plans (SURVEY.md §3.4 lifecycle).

Default (``mode='fused'``) — one scan, no exchange:

    documents(doc_id, spans)                        one FileScan
       │ transform(spans, s -> s + payload)          narrow projection:
       │   payload = try_to_binary(text, 'base64')   JVM-side base64 decode,
       │   on media spans, text dropped there        NULL if not base64
       ▼
    mapInArrow per-document kernel (kernels.make_doc_kernel)
       │  text-only docs pass through as Arrow; every other doc is rebuilt:
       │  each media span -> its cues, in (offset, seq, kind, text,
       │  media_ref) order, plus one _metric/_error row in ``side``
       ▼
    extracted(doc_id, spans [, side]) — same shape as input, row for row

``mode='two_phase'`` — the skew plan, flat rows re-merged on doc_id:

    documents ──posexplode──▶ spans ──filter kind='media'──▶ payloads
       │                                   │ try_to_binary (JVM-side)
       │                                   ▼
       │             parse kernel ─▶ rebalance(doc_id, offset, seq) ─▶
       │             decode+OCR kernel   cue rows + metric/error rows
       ▼                                   ▼
    text spans ────────── unionByName ──▶ all span rows
                                           │ groupBy(doc_id)
                                           │ sort_array(collect_list)
                                           ▼
                      extracted(doc_id, spans), left-joined to every doc_id

Scale notes (100 TB / 10^12 docs):
  * the default plan reads ``documents`` once and never shuffles: each
    document arrives whole in one row (FIXTURES.md §1), so the per-doc
    kernel rebuilds it in place; column pruning pushes the scan down to
    (doc_id, spans).  Parallelism is the scan's splits — the session asks
    for >= 4x slots of them (``spark.sql.files.minPartitionNum``);
  * the unit of work is one document, so a monster payload pins one task;
    ``mode='two_phase'`` is the way to spread it: one rebalance shuffle of
    parsed compositions (RLE-compressed, still far smaller than raw
    payloads) fans them out before the expensive decode+OCR (north_rule
    skew), at the cost of three scans and the re-merge shuffle;
  * ``balance`` / ``rebalance_partitions`` tune the flat plans only
    (``extract_cue_rows``, ``mode='two_phase'``): ``balance='auto'``
    hash-repartitions media rows before the first kernel when the input
    has fewer partitions than 4x slots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kernels import (
    COMP_SCHEMA,
    CUE_SCHEMA,
    DOC_SCHEMA,
    make_doc_kernel,
    make_fused_kernel,
    make_ocr_kernel,
    make_parse_kernel,
)
from .pgs.ocr import OcrBackend

__all__ = [
    "explode_spans",
    "extract_cue_rows",
    "assemble_spans",
    "extract",
    "extract_with_side",
    "split_side_channel",
    "render_srt_cues",
    "render_srt_documents",
]


def _payload(text):
    """JVM-side base64 decode; NULL (an ``invalid base64`` error row
    downstream) instead of a failed task when ``text`` is not base64."""
    return F.try_to_binary(text, F.lit("base64")).alias("payload")


def explode_spans(documents: DataFrame) -> DataFrame:
    """documents -> one row per span (narrow, no shuffle)."""
    return documents.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def extract_cue_rows(
    documents: DataFrame,
    mode: str = "fused",
    backend: OcrBackend | None = None,
    balance: bool | str = "auto",
    rebalance_partitions: int | str | None = None,
    skip_merge: bool = False,
    force_merge_all: bool = False,
    multi_object_opacity_fix: bool = False,
) -> DataFrame:
    """Media spans -> cue/metric/error rows (flat), pre-re-aggregation.

    The flat plans: ``mode='fused'`` runs the single-pass kernel over one
    row per media span, ``mode='two_phase'`` the parse kernel, composition
    rebalance and decode+OCR kernel.  Both emit CUE_SCHEMA rows.

    ``balance='auto'`` repartitions the media rows only when the input has
    fewer partitions than the cluster has slots: the decode+OCR kernel is
    CPU-bound per *row*, which byte-based file splitting cannot see, so a
    small/compacted input would otherwise serialize the expensive stage.
    At production scale (input partitions >> slots) this is a no-op — the
    payload bytes never shuffle.
    """
    spans = explode_spans(documents)
    media = spans.filter(F.col("kind") == "media").select(
        "doc_id",
        "offset",
        "media_ref",
        _payload(F.col("text")),
    )
    slots = media.sparkSession.sparkContext.defaultParallelism
    if balance == "auto":
        # The session asks the scan for >= 4x slots splits
        # (spark.sql.files.minPartitionNum — scan-level, no shuffle); the
        # fallback below only fires for inputs the scan cannot split
        # (unsplittable codecs, a single giant row group).  The gate matches
        # the repartition width (4x slots) so a scan that yields e.g. 3x
        # slots still rebalances — undersubscribed CPU-bound waves cost
        # more than the payload-free hash shuffle does.
        balance = documents.rdd.getNumPartitions() < 4 * slots
    if balance:
        # Hash repartition, NOT round-robin: plain repartition(n) local-sorts
        # every column first (spark.sql.execution.sortBeforeRepartition, for
        # retry determinism), which is pathological for multi-KB payload
        # bytes.  Hash partitioning is deterministic by key, so it skips
        # that sort; (doc_id, offset) is unique per media span -> balanced.
        media = media.repartition(
            rebalance_partitions if isinstance(rebalance_partitions, int) else 4 * slots,
            F.col("doc_id"),
            F.col("offset"),
        )

    if mode == "fused":
        return media.mapInPandas(
            make_fused_kernel(
                backend=backend,
                skip_merge=skip_merge,
                force_merge_all=force_merge_all,
                multi_object_opacity_fix=multi_object_opacity_fix,
            ),
            schema=CUE_SCHEMA,
        )
    if mode != "two_phase":
        raise ValueError(f"unknown mode: {mode!r} (fused | two_phase)")
    comps = media.mapInPandas(
        make_parse_kernel(skip_merge=skip_merge, force_merge_all=force_merge_all),
        schema=COMP_SCHEMA,
    )
    # hash, not round-robin: avoids the sortBeforeRepartition local sort
    # of the pickled-composition binaries; (doc_id, offset, seq) is
    # unique per composition, so buckets stay balanced.  ALL rows ride
    # the one repartition — the tiny _metric/_error side channel passes
    # through the OCR kernel unchanged instead of a second filter
    # branch, which (uncached) would re-execute the whole parse kernel.
    #
    # Width: default 4x slots.  The decode+OCR stage is CPU-bound per
    # COMPOSITION, which byte-based AQE coalescing cannot see (it
    # balances shuffle bytes, and RLE size is a poor proxy for pixel
    # count x OCR cost).  Measured on the skewed bench corpus (BENCH/
    # BASELINE.md skew sections, probe-gated, two runs): every
    # two-phase width beats fused (clean 15.8s) by ~2x; among widths,
    # 1x slots is clean-fastest on this host (6.3-7.5s, single wave —
    # local[32] has uniform cores, so extra waves only add Python-
    # worker dispatch overhead), 4x ~7.6-8.3s, while 8x and
    # AQE-advisory are consistently worst — AQE coalesces the small
    # composition rows by BYTES into too few tasks for a
    # per-row-CPU-bound stage.  4x stays the default for the
    # production shape: on a heterogeneous multi-executor cluster,
    # several units per slot is what lets dynamic scheduling absorb
    # per-composition cost variance and executor speed skew, and it
    # bounds partition size at high composition counts; pass
    # ``rebalance_partitions=slots`` for the measured single-wave
    # fast path on uniform local hosts, or 'aqe' to repartition by
    # key only with AQE choosing the width.
    keys = (F.col("doc_id"), F.col("offset"), F.col("seq"))
    if rebalance_partitions == "aqe":
        rebalanced = comps.repartition(*keys)
    else:
        rebalanced = comps.repartition(rebalance_partitions or 4 * slots, *keys)
    return rebalanced.mapInPandas(
        make_ocr_kernel(
            backend=backend, multi_object_opacity_fix=multi_object_opacity_fix
        ),
        schema=CUE_SCHEMA,
    )


def split_side_channel(cue_rows: DataFrame) -> tuple[DataFrame, DataFrame]:
    """-> (cue rows, metric/error rows) — lineage is never silent."""
    return (
        cue_rows.filter(F.col("kind") == "cue"),
        cue_rows.filter(F.col("kind").isin("_metric", "_error")),
    )


def assemble_spans(documents: DataFrame, cue_rows: DataFrame) -> DataFrame:
    """Re-merge text spans with (possibly precomputed) cue rows into the
    output documents shape — the tail of the plan, one shuffle on doc_id."""
    spans = explode_spans(documents)
    text_rows = spans.filter(F.col("kind") == "text").select(
        "doc_id",
        "offset",
        F.lit(0).alias("seq"),
        "kind",
        "text",
        "media_ref",
    )
    cues, _side = split_side_channel(cue_rows)
    all_rows = text_rows.unionByName(cues)
    ordered = all_rows.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("offset", "seq", "kind", "text", "media_ref"))
        ).alias("ordered")
    )
    shaped = ordered.select(
        "doc_id",
        F.transform(
            "ordered",
            lambda x: F.struct(
                x["kind"].alias("kind"),
                x["text"].alias("text"),
                x["media_ref"].alias("media_ref"),
                x["offset"].alias("offset"),
            ),
        ).alias("spans"),
    )
    # shape preservation: a doc whose every span failed extraction (error
    # rows go to the side channel, not here) must still appear, with empty
    # spans — otherwise corrupt-input docs silently vanish from the output
    # table.  The join keys are already co-partitioned with the groupBy
    # above, so this adds no extra shuffle of the span data.
    return (
        documents.select("doc_id")
        .distinct()
        .join(shaped, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("spans", F.array().cast(shaped.schema["spans"].dataType)).alias(
                "spans"
            ),
        )
    )


def render_srt_cues(cues: DataFrame) -> DataFrame:
    """Cue rows (doc_id, media_ref, offset, seq, text) -> one numbered
    SubRip document per (doc_id, media_ref), rendered entirely JVM-side.

    Cue text carries ``"{start} --> {end}\\n{ocr_text}"``; SubRip blocks
    are ``"{n}\\r\\n{timecodes}\\r\\n{text}\\r\\n"`` joined with CRLF and
    a trailing CRLF — byte-identical to pgs.srt.render_srt (the
    pure-Python oracle pins this in tests/; the DuckDB twin of the driver
    ``srt_format`` query pins it cross-engine).  One narrow expression:
    no kernel, one groupBy shuffle of small strings.
    """
    grouped = cues.groupBy("doc_id", "media_ref").agg(
        F.sort_array(F.collect_list(F.struct("offset", "seq", "text"))).alias("cs")
    )
    block = lambda x, i: F.concat(  # noqa: E731
        (i + 1).cast("string"),
        F.lit("\r\n"),
        # the first \n separates the timecode line from the OCR text; SubRip
        # uses CRLF there while embedded text newlines stay as-is
        F.regexp_replace(x["text"], "^([^\n]*)\n", "$1\r\n"),
        F.lit("\r\n"),
    )
    return grouped.select(
        "doc_id",
        "media_ref",
        F.concat(
            F.array_join(F.transform("cs", block), "\r\n"), F.lit("\r\n")
        ).alias("srt"),
    )


def render_srt_documents(documents: DataFrame, **kw) -> DataFrame:
    """The SRT sink (SURVEY.md §2.5 O5, PgsOcr.cs:59-63): extraction +
    :func:`render_srt_cues` over the resulting cue rows."""
    cues, _side = split_side_channel(extract_cue_rows(documents, **kw))
    return render_srt_cues(cues)


def extract_with_side(
    documents: DataFrame,
    backend: OcrBackend | None = None,
    skip_merge: bool = False,
    force_merge_all: bool = False,
    multi_object_opacity_fix: bool = False,
) -> DataFrame:
    """The default one-scan plan: documents -> ``(doc_id, spans, side)``.

    ``side`` holds each doc's ``_metric``/``_error`` rows (CUE_SCHEMA
    without ``doc_id``), one per media span.  One output row per input
    row: ``doc_id`` is the table key (FIXTURES.md §1), and rows that share
    one are not merged.
    """
    with_payloads = documents.select(
        "doc_id",
        F.transform(
            "spans",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                # media text is only the payload's base64; don't ship it twice
                F.when(s["kind"] != "media", s["text"]).alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
                F.when(s["kind"] == "media", _payload(s["text"])).alias("payload"),
            ),
        ).alias("spans"),
    )
    kernel = make_doc_kernel(
        backend=backend,
        skip_merge=skip_merge,
        force_merge_all=force_merge_all,
        multi_object_opacity_fix=multi_object_opacity_fix,
    )
    return with_payloads.mapInArrow(kernel, schema=DOC_SCHEMA)


def extract(
    documents: DataFrame,
    mode: str = "fused",
    backend: OcrBackend | None = None,
    **kw,
) -> DataFrame:
    """Full pipeline: documents -> extracted (same shape, FIXTURES.md §2).

    Text spans pass through; each media span becomes one 'cue' span per
    merged composition, carrying the source media_ref/offset, ordered by
    (offset, seq, kind, text, media_ref); spans of other kinds are dropped.
    A doc whose every payload failed keeps its row, with its text spans.

    ``mode='fused'`` (default) is the one-scan plan of
    :func:`extract_with_side`, which keeps duplicate ``doc_id`` rows apart;
    ``kw`` are the kernel flags.  ``mode='two_phase'`` is the flat skew
    plan (:func:`extract_cue_rows` + :func:`assemble_spans`), which merges
    rows sharing a ``doc_id`` and also takes ``balance`` and
    ``rebalance_partitions``.
    """
    if mode == "fused":
        return extract_with_side(documents, backend=backend, **kw).drop("side")
    if mode == "two_phase":
        return assemble_spans(
            documents, extract_cue_rows(documents, mode=mode, backend=backend, **kw)
        )
    raise ValueError(f"unknown mode: {mode!r} (fused | two_phase)")

#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE compact
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Per-sample probe arrays and the full validity/skew payload go to a sidecar
file (default BENCH/r5_bench_detail.json, override
$SPARK_GRAFT_BENCH_DETAIL) referenced by the line's "detail_file" — the
driver captures a bounded stdout tail, so the printed line must stay small
(r3's samples-embedded line got truncated mid-JSON and the round lost its
driver-recorded headline).

``value`` = wall seconds of the flagship extraction query (the BASELINE.md
headline); per-query seconds in ``queries``; extraction throughput in
docs/sec is reported alongside.  The interleaved corpus is synthesized
deterministically from the driver's text documents and cached under
.bench_cache/ so corpus *generation* is not billed to extraction.

Measurement validity on this host (VERDICT r2 item 1): the VM is
co-tenant-oversubscribed and interference arrives in multi-minute bursts
that can land MID-run, invisible to a pre-run gate.  Every sample
therefore records a PRE and a POST spin-probe ratio (probed CPU speed /
best speed seen), and a sample only counts as CLEAN when
  * both probes are >= GATE (0.94) of the best observed spin rate, and
  * its wall time is <= max(2x, +1s) of the fastest sample of the same
    query (a burst that starts and ends inside the run fools both probes
    but not the time ratio; the +1s grace keeps scheduling noise on
    sub-second queries from masquerading as bursts).
Queries are sampled in interleaved round-robin passes (bursts decorrelate
from any single query); passes continue until every query has >= MIN_CLEAN
clean samples or the pass cap is hit.  The two extraction headliners then
get a FOCUSED re-measure loop (VERDICT r4 item 2): they alone keep
sampling until each holds >= FOCUS_TARGET mutually-confirming clean
samples or FOCUS_CAP_SEC of wall clock passes, so the evidence depth the
record rests on lives in this artifact.  The recorded time is the MIN over
ALL samples — interference is additive (a burst can only inflate a wall
time), so the fastest observation is the tightest upper bound on the true
runtime regardless of its probe status; cleanliness feeds only the
validity labels.  The JSON carries every sample with its probe ratios plus
a "validity" block naming rejected samples, so the recorded number is
auditable, not just asserted.

A "skew" section times fused vs two_phase (and two-phase rebalance
widths) on the north_rule's skew shapes — one doc with 10^3
media spans plus multi-MB single-span payloads — where the two-phase
composition fan-out is the designed win (SURVEY.md §4.3.1).

Scaling runs (local[8] vs local[32], BASELINE.md's N-vs-4N proxy) are a
separate entrypoint: ``python bench_scaling.py`` -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

GATE = 0.94
# Budget note: under SUSTAINED interference nothing ever samples clean, so
# every pass re-runs every query — min_clean=3 x 6 passes measured 2.5h on
# such a day.  The defaults below bound a worst-case driver run to ~1h
# while the validity block still reports exactly how clean the record is;
# deep-sampled runs live in BENCH/r3_bench_local.json / r3_bench_focus.json.
MIN_CLEAN = int(os.environ.get("SPARK_GRAFT_BENCH_MIN_CLEAN", "2"))
MAX_PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_PASSES", "4"))
TIME_RATIO = 2.0
# sub-second queries vary > 2x from scheduling noise alone; the time-ratio
# gate is for multi-second bursts, so short samples get an absolute grace
TIME_GRACE = 1.0
# adaptive early-exit (VERDICT r3 item 7): a query stops sampling once its
# clean samples are BOTH numerous enough and mutually consistent (<10%
# spread) — quiet windows buy depth where the record is still noisy
# instead of even passes everywhere.  Headline queries (DEEP) target one
# extra clean sample and get extra passes to reach it.
SETTLE_SPREAD = 0.10
DEEP_EXTRA_PASSES = 2
# focused headliner re-measure (VERDICT r4 item 2): after the interleaved
# passes, the two extraction headliners alone keep sampling until each has
# >= FOCUS_TARGET mutually-confirming clean samples or the wall cap — the
# record's evidence depth must live in the DRIVER artifact, not a manual
# BASELINE.md section.
FOCUS_TARGET = int(os.environ.get("SPARK_GRAFT_BENCH_FOCUS_CLEAN", "3"))
FOCUS_CAP_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_FOCUS_CAP", "900"))
# Global wall budget (r5): under SUSTAINED interference the probe-gated
# quiet-waits alone (up to 40s/sample) can push a full run past the
# driver's patience, and a KILLED run writes no artifact at all — strictly
# worse than an under_sampled one.  A monotonic deadline forces
# finalization with whatever samples exist; validity records deadline_hit
# so the audit trail shows the run was truncated, not complete.
DEADLINE_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_DEADLINE", "2400"))
_DEADLINE: list[float | None] = [None]


def _past_deadline() -> bool:
    return _DEADLINE[0] is not None and time.monotonic() > _DEADLINE[0]


def _build_corpus_cache(spark, sf_dir: str, cache_dir: str) -> str:
    from pyspark.sql import functions as F

    from pgstosrt_spark.fixtures.corpus import synthesize_documents

    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(cache_dir, tag, "documents_interleaved")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        # parallel file layout: the driver's source parquet is one small
        # file; repartition (hash — round-robin would local-sort payloads)
        # so every downstream scan parallelizes
        n = max(spark.sparkContext.defaultParallelism * 2, 64)
        synthesize_documents(spark, sf_dir).repartition(n, F.col("doc_id")).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def _replicate_corpus(spark, corpus: str, factor: int) -> str:
    """Deterministic xN replication: the extraction headline should measure
    the work-dominated regime (the 10^12-doc spec), not job constants."""
    from pyspark.sql import functions as F

    if factor <= 1:
        return corpus
    rep_path = f"{corpus}_x{factor}"
    if not os.path.exists(os.path.join(rep_path, "_SUCCESS")):
        (
            spark.read.parquet(corpus)
            .select(
                F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("_r"),
                "doc_id",
                "spans",
            )
            .select(F.concat_ws("-", "doc_id", "_r").alias("doc_id"), "spans")
            .repartition(128, F.col("doc_id"))
            .write.mode("overwrite")
            .parquet(rep_path)
        )
    return rep_path


def _build_skew_cache(spark, cache_dir: str) -> str:
    from pyspark.sql import functions as F

    from pgstosrt_spark.fixtures.corpus import synthesize_skewed_documents

    n_wide = int(os.environ.get("SPARK_GRAFT_SKEW_WIDE", "1000"))
    n_cues = int(os.environ.get("SPARK_GRAFT_SKEW_CUES", "12000"))
    path = os.path.join(cache_dir, f"documents_skewed_{n_wide}_{n_cues}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # monster docs one row each; keep file layout parallel but do NOT
        # pre-split beyond doc granularity — span-level skew must survive
        # into the scan, that is the point of the corpus
        synthesize_skewed_documents(
            spark, n_wide_spans=n_wide, monster_cues=n_cues
        ).repartition(16, F.col("doc_id")).write.mode("overwrite").parquet(path)
    return path


_BEST_SPIN = 0.0


def _spin_rate(dur: float = 0.4) -> float:
    t0 = time.perf_counter()
    n = 0
    x = 1.0
    while time.perf_counter() - t0 < dur:
        for _ in range(20000):
            x = x * 1.0000001 % 7
        n += 20000
    return n / (time.perf_counter() - t0)


def _probe() -> float:
    """One spin probe; returns the ratio to the best rate seen (also
    raising the ceiling when the host is faster than everything prior)."""
    global _BEST_SPIN
    r = _spin_rate()
    _BEST_SPIN = max(_BEST_SPIN, r)
    return r / _BEST_SPIN


def _seed_spin_ceiling() -> None:
    """Calibrate the spin ceiling with spaced probes (an un-seeded gate is
    vacuous: best=r always passes — exactly how the round-1 bench recorded
    a 4x-inflated fused time)."""
    global _BEST_SPIN
    if _BEST_SPIN == 0.0:
        for _ in range(3):
            _BEST_SPIN = max(_BEST_SPIN, _spin_rate())
            time.sleep(1.0)


def _wait_quiet(limit: float = 40.0) -> float:
    """Block until a probe clears the gate (or the limit passes); returns
    the last pre-run probe ratio — recorded with the sample either way."""
    _seed_spin_ceiling()
    t0 = time.time()
    ratio = _probe()
    while ratio < GATE and time.time() - t0 < limit and not _past_deadline():
        time.sleep(3.0)
        ratio = _probe()
    return ratio


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _clean_samples(samples: list[dict]) -> list[dict]:
    """Apply the validity rules retroactively (the time-ratio gate depends
    on the best sample, which later passes can improve)."""
    if not samples:
        return []
    best = min(s["sec"] for s in samples)
    limit = max(TIME_RATIO * best, best + TIME_GRACE)
    return [
        s
        for s in samples
        if s["pre"] >= GATE and s["post"] >= GATE and s["sec"] <= limit
    ]


def _settled(ss: list[dict], target: int) -> bool:
    """A query is done sampling when its ``target`` FASTEST clean samples
    mutually confirm (spread < SETTLE_SPREAD).

    The fastest-k rule, not all-clean: interference only adds time, so a
    slower clean sample means the host was honestly slower in that
    window, not that the fast measurements are unconfirmed — and a
    spread over ALL clean samples can only grow, so one slow-but-clean
    window would otherwise lock the query into sampling until the cap
    (observed: 90 two_phase samples on 2026-08-19 with 4 clean ones
    spanning 22% across a host-drift boundary, fastest three within
    7%)."""
    clean = _clean_samples(ss)
    if len(clean) < target:
        return False
    secs = sorted(s["sec"] for s in clean)[:target]
    return (secs[-1] - secs[0]) / secs[0] < SETTLE_SPREAD


def _measure_interleaved(
    thunks: list[tuple[str, object]],
    min_clean: int = MIN_CLEAN,
    max_passes: int = MAX_PASSES,
    deep: frozenset[str] = frozenset(),
) -> tuple[dict, dict, dict]:
    """Round-robin probe-gated sampling -> (best_clean_sec, samples,
    validity).  ``deep`` queries target min_clean+1 clean samples and get
    DEEP_EXTRA_PASSES bonus passes — the headline record should rest on
    >= 3 mutually-confirming clean measurements on a normal day."""
    samples: dict[str, list[dict]] = {name: [] for name, _ in thunks}

    def _target(name: str) -> int:
        return min_clean + 1 if name in deep else min_clean

    def _cap(name: str) -> int:
        return max_passes + DEEP_EXTRA_PASSES if name in deep else max_passes

    for pass_no in range(max_passes + (DEEP_EXTRA_PASSES if deep else 0)):
        pending = [
            (name, thunk)
            for name, thunk in thunks
            if pass_no < _cap(name) and not _settled(samples[name], _target(name))
        ]
        if not pending:
            break
        # deadline: stop only once EVERY query holds at least one sample —
        # a section that starts entirely past the deadline (e.g. skew after
        # an exhausted main phase) must still produce a timings entry per
        # query, or _finalize crashes on an empty sample list
        if _past_deadline() and all(samples[n] for n, _ in thunks):
            break
        for name, thunk in pending:
            # never start a REPEAT sample past the wall budget; the first
            # sample of each query is guaranteed regardless
            if _past_deadline() and samples[name]:
                continue
            pre = _wait_quiet()
            t0 = time.perf_counter()
            thunk()
            dt = time.perf_counter() - t0
            post = _probe()
            samples[name].append(
                {"sec": round(dt, 3), "pre": round(pre, 4), "post": round(post, 4)}
            )
            print(
                f"[bench] pass={pass_no} {name} sec={dt:.3f} "
                f"pre={pre:.3f} post={post:.3f}",
                file=sys.stderr,
            )
    timings, validity = _finalize(samples, min_clean, deep)
    return timings, samples, validity


def _finalize(
    samples: dict[str, list[dict]],
    min_clean: int = MIN_CLEAN,
    deep: frozenset[str] = frozenset(),
) -> tuple[dict, dict]:
    """samples -> (timings, validity) under the min-over-ALL-samples rule."""
    timings: dict[str, float] = {}
    rejected: dict[str, list[dict]] = {}
    degraded: list[str] = []
    for name, ss in samples.items():
        clean = _clean_samples(ss)
        rej = [s for s in ss if s not in clean]
        if rej:
            rejected[name] = rej
        # Interference is ADDITIVE — a co-tenant burst can only inflate a
        # wall time, never deflate it — so the min over ALL samples is the
        # tightest upper bound on the true runtime.  Probe-clean status
        # feeds the validity labels (under_sampled/unsettled), not the
        # record: picking min-over-clean instead once reported a 24.4s
        # probe-clean sample as the record while a 14.3s sample (fast run,
        # burst landed after the work, dirtying only the post-probe) sat
        # rejected in the same array.
        timings[name] = min(s["sec"] for s in ss)
        if len(clean) < min_clean:
            degraded.append(name)
    validity = {
        "gate": GATE,
        "time_ratio": TIME_RATIO,
        "min_clean": min_clean,
        "settle_spread": SETTLE_SPREAD,
        "rejected": rejected,
        "under_sampled": sorted(degraded),
        # settled = the fastest `target` clean samples agree within the
        # settle spread (slower clean samples are honest slower windows,
        # not disconfirmation); an unsettled-but-not-under_sampled query
        # met min_clean but its fastest clean samples still disagree —
        # the record stays the min over ALL samples either way (the rule
        # above); this label only marks unconfirmed clean evidence
        "unsettled": sorted(
            name
            for name, ss in samples.items()
            if not _settled(ss, min_clean + 1 if name in deep else min_clean)
        ),
        "all_clean": not degraded,
    }
    return timings, validity


def _clean_best(ss: list[dict]) -> float | None:
    clean = _clean_samples(ss)
    return min(s["sec"] for s in clean) if clean else None


def _focus_headliners(
    samples: dict[str, list[dict]],
    thunks: list[tuple[str, object]],
    names: list[str],
    target: int = FOCUS_TARGET,
    cap_sec: float = FOCUS_CAP_SEC,
) -> None:
    """Keep sampling just ``names`` (round-robin) until each has >= target
    clean samples with settled spread, or ``cap_sec`` of wall clock passes
    (VERDICT r4 item 2).  Appends into ``samples`` in place; the focused
    samples carry ``focus: true`` so the audit trail shows which passes
    were interleaved and which were the headliner re-measure."""
    by_name = dict(thunks)
    t0 = time.time()
    while time.time() - t0 < cap_sec and not _past_deadline():
        pending = [n for n in names if not _settled(samples[n], target)]
        if not pending:
            break
        for n in pending:
            if time.time() - t0 >= cap_sec or _past_deadline():
                break
            pre = _wait_quiet()
            t1 = time.perf_counter()
            by_name[n]()
            dt = time.perf_counter() - t1
            post = _probe()
            samples[n].append(
                {
                    "sec": round(dt, 3),
                    "pre": round(pre, 4),
                    "post": round(post, 4),
                    "focus": True,
                }
            )
            print(
                f"[bench] focus {n} sec={dt:.3f} pre={pre:.3f} post={post:.3f}",
                file=sys.stderr,
            )


def run_bench(sf_dir: str, cpus: int) -> dict:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))

    import __spark_entry__ as entrymod
    from pgstosrt_spark.pipeline import extract
    from pgstosrt_spark.session import get_spark
    from pgstosrt_spark.sources.tables import read_documents

    spark = get_spark("pgstosrt-bench", cpus=cpus)
    _DEADLINE[0] = time.monotonic() + DEADLINE_SEC
    cache_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_cache")
    corpus_path = _build_corpus_cache(spark, sf_dir, cache_dir)
    corpus_path = _replicate_corpus(
        spark, corpus_path, int(os.environ.get("SPARK_GRAFT_REPLICATE", "8"))
    )
    skew_path = _build_skew_cache(spark, cache_dir)
    docs = read_documents(spark, corpus_path)
    n_docs = docs.count()
    skew_docs = read_documents(spark, skew_path)
    n_skew_docs = skew_docs.count()

    qdefs = entrymod.queries()

    # warm the JVM + Python workers on a small slice, then ONE unrecorded
    # full pass per headliner mode: the first full extraction otherwise
    # pays corpus page-cache population (measured ~2.5x on a clean-probe
    # bracket — r5: 20.9s cold vs 8.5s warm), which burns the rarest
    # resource (a clean window) on an artifact of the cold FS cache that
    # a long-running production job never sees.  Warm-ups are outside the
    # sample record by design and noted here for the audit trail.
    _noop(extract(docs.limit(64)))
    for _mode in ("fused", "two_phase"):
        _noop(extract(docs, mode=_mode))

    # flagship extraction over the pre-built interleaved corpus + the
    # relational / training-data headliners (driver sf tables)
    thunks: list[tuple[str, object]] = [
        ("extract_fused", lambda: _noop(extract(docs, mode="fused"))),
        ("extract_two_phase", lambda: _noop(extract(docs, mode="two_phase"))),
    ] + [
        (name, lambda name=name: _noop(qdefs[name](spark, sf_dir)))
        for name in (
            "pricing_summary",
            "broadcast_join_enrich",
            "run_length_dedup",
            "fragment_reassembly",
            "sessionize",
            "token_count",
            "quality_score",
            "exact_dedup",
            "ngram_jaccard_dups",
            "minhash_lsh_dups",
            "simhash_dups",
            "ann_cosine_topk",
            "ann_ivf_topk",
            "ann_lsh_topk",
            "embedding_near_dup",
            "track_fanout",
            "rollup_revenue",
            "global_topk",
            # r5: multi-join shapes + skew/partitioning showcases
            "shipping_priority",
            "local_supplier_volume",
            "salted_skew_agg",
            "doc_chunks",
            # r5b: decontamination broadcast-join shape
            "contamination_check",
        )
    ]
    deep = frozenset({"extract_fused", "extract_two_phase"})
    timings, samples, validity = _measure_interleaved(thunks, deep=deep)
    # focused re-measure: headliners keep sampling until >= FOCUS_TARGET
    # mutually-confirming clean samples each (or the wall cap) so the
    # driver artifact itself carries the evidence depth
    # cap the focus loop at the remaining global budget minus a reserve for
    # the skew section (6 queries x 1 guaranteed sample + quiet-waits) so a
    # noisy day degrades to thinner evidence everywhere, never to a section
    # that only gets its crash-guard single samples
    skew_reserve = 300.0
    left = (_DEADLINE[0] - time.monotonic()) if _DEADLINE[0] else FOCUS_CAP_SEC
    _focus_headliners(
        samples,
        thunks,
        sorted(deep),
        cap_sec=max(0.0, min(FOCUS_CAP_SEC, left - skew_reserve)),
    )
    timings, validity = _finalize(samples, deep=deep)
    headline_clean_best = {n: _clean_best(samples[n]) for n in sorted(deep)}

    # ---- skew section: the two-phase escape hatch must WIN here --------
    slots = spark.sparkContext.defaultParallelism
    skew_thunks: list[tuple[str, object]] = [
        ("skew_fused", lambda: _noop(extract(skew_docs, mode="fused"))),
        ("skew_two_phase", lambda: _noop(extract(skew_docs, mode="two_phase"))),
        (
            "skew_two_phase_w1x",
            lambda: _noop(
                extract(skew_docs, mode="two_phase", rebalance_partitions=slots)
            ),
        ),
        (
            "skew_two_phase_w8x",
            lambda: _noop(
                extract(skew_docs, mode="two_phase", rebalance_partitions=8 * slots)
            ),
        ),
        (
            "skew_two_phase_aqe",
            lambda: _noop(
                extract(skew_docs, mode="two_phase", rebalance_partitions="aqe")
            ),
        ),
    ]
    skew_timings, skew_samples, skew_validity = _measure_interleaved(
        skew_thunks, min_clean=2, max_passes=3
    )

    extract_sec = timings["extract_fused"]
    result = {
        "metric": "extraction wall-clock (fused pipeline, interleaved corpus "
        "replicated into the work-dominated regime; min over all interleaved "
        "samples — interference is additive; validity from per-sample "
        "pre/post spin probes, >= {} clean)".format(MIN_CLEAN),
        "value": extract_sec,
        "unit": "sec",
        "queries": timings,
        "sf": os.path.basename(os.path.normpath(sf_dir)),
        "docs": n_docs,
        "docs_per_sec": round(n_docs / extract_sec, 1) if extract_sec else None,
        "cpus": cpus,
        "headline_clean_best": headline_clean_best,
        "samples": samples,
        "validity": {
            **validity,
            "deadline_sec": DEADLINE_SEC,
            "deadline_hit": _past_deadline(),
        },
        "skew": {
            "docs": n_skew_docs,
            "shapes": "1 doc x 1000 media spans + 8 docs x 1 multi-MB span "
            "(12k compositions each)",
            "queries": skew_timings,
            "samples": skew_samples,
            "validity": skew_validity,
            "two_phase_default_width": 4 * slots,
        },
    }
    spark.stop()
    return result


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    result = run_bench(sf_dir, cpus)

    # VERDICT r3 item 1: the driver captures a BOUNDED stdout tail, and a
    # final line embedding every per-sample array outgrew it (BENCH_r03
    # recorded parsed:null).  Full samples/validity/skew detail goes to a
    # sidecar file; the single printed line stays compact (~2 KB).
    detail_file = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH", "r5_bench_detail.json"
        ),
    )
    os.makedirs(os.path.dirname(detail_file), exist_ok=True)
    with open(detail_file, "w") as f:
        json.dump(result, f, indent=1)

    skew = result["skew"]
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "queries": result["queries"],
        "sf": result["sf"],
        "docs": result["docs"],
        "docs_per_sec": result["docs_per_sec"],
        "cpus": result["cpus"],
        # min over clean samples only — the mutually-confirming headline
        # number, printed alongside the min-over-all record
        "headline_clean_best": result["headline_clean_best"],
        "validity": {
            "all_clean": result["validity"]["all_clean"],
            "under_sampled": result["validity"]["under_sampled"],
            "unsettled": result["validity"]["unsettled"],
        },
        "skew": {
            "docs": skew["docs"],
            "queries": skew["queries"],
            "two_phase_default_width": skew["two_phase_default_width"],
            "all_clean": skew["validity"]["all_clean"],
        },
        "detail_file": detail_file,
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    sys.exit(main())

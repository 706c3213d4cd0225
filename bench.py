#!/usr/bin/env python
"""Benchmark: run the full registered query inventory at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
SHORT JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {headline: sec}, "sf": ..., "n_queries": N, "detail": path}.

Round-1 lesson: with the full per-query map (80+ entries) the stdout line
is ~4 KB and the driver's capture truncated it (BENCH_r01 parsed: null).
The stdout line now carries only a small headline-query map and stays well
under 1 KB; the complete per-query map goes to BENCH_DETAIL.json next to
this script (and to stderr for humans).

Materialization uses the noop sink — full execution of every operator,
zero driver-side collection cost, which is what a warehouse write would
look like (the reference's COPY analog).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_lambda_redshift_loader_spark.plans.registry import load_all
from aws_lambda_redshift_loader_spark.session import get_spark

# Self-denoising rerun policy (round-8 verdict item 3). Flag when the
# time exceeds 1.5x the recorded prior AND the absolute excess tops
# 0.5 s (sub-second wobble must not churn reruns). `raw_prior` is the
# UNSUBSTITUTED bench time of the query's last flagged run (from the
# previous artifact's flagged_reruns): a query whose first-of-session
# run genuinely costs ~2x its immediate rerun (per-query codegen
# compile — measured: the gap persists after every shape warmup and
# does not transfer between queries) would otherwise flag EVERY run
# against its own substituted warm prior, forever. A time within the
# ratio of the last RAW value is "the same first-run cost as last
# time", not contention — no rerun needed. Pure function so the policy
# is unit-testable.
RERUN_RATIO = 1.5
RERUN_ABS_FLOOR = 0.5


def should_rerun(t: float, prior: float) -> bool:
    return prior > 0 and t > RERUN_RATIO * prior and t - prior > RERUN_ABS_FLOOR


def suppressed_by_raw(t: float, raw_prior: float) -> bool:
    return raw_prior > 0 and t <= RERUN_RATIO * raw_prior


def substitutable(orig_memo_events: list[str]) -> bool:
    """Whether a flagged query's rerun time is a comparable standalone
    cost. Only a memo-BUILDING first run is exempt (its rerun hits the
    now-warm memo — a cache hit, not the query's cost). A first run
    whose events are all ``*_hit`` hit the same warm memo the rerun
    does, so the two times ARE comparable and min-of-2 applies — the
    round-10 driver artifact left ~13 s of pure contention standing on
    two ``surprisal_hit`` queries because any memo event blocked
    substitution."""
    return not any(ev.endswith("_build") for ev in orig_memo_events)


def prior_for_width(prior: dict, cpus: int) -> dict:
    """The previous artifact ``prior`` if it was measured at this run's
    width ``cpus``, else {}: times from another core count (or from an
    artifact that records none) are not comparable, so they neither
    trigger reruns nor enter the common-set ratio."""
    return prior if prior.get("cpus") == cpus else {}


def _cpu_ticks() -> list[int]:
    """Aggregate /proc/stat cpu counters (user nice system idle iowait
    irq softirq steal ...). Hypervisor steal is invisible to loadavg —
    the r18 round lost comparability to a 13.5% steal wave that no
    artifact field recorded (round-18 verdict item 5)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except Exception:
        return []


def _cpu_delta_pct(before: list[int], after: list[int]) -> dict:
    """steal%/busy% of total cpu ticks elapsed between two snapshots.
    Both snapshots need the steal field (index 7); a short or missing
    one (a failed /proc/stat read, an old kernel) yields {}."""
    if len(before) < 8 or len(after) < 8:
        return {}
    d = [a - b for a, b in zip(after, before)]
    total = sum(d)
    if total <= 0:
        return {}
    idle = d[3] + (d[4] if len(d) > 4 else 0)
    return {
        "steal_pct": round(100.0 * d[7] / total, 2),
        "busy_pct": round(100.0 * (total - idle - d[7]) / total, 2),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # 80+ queries in one JVM accumulate broadcasts / memory-sink tables /
    # AQE state; a small heap GC-thrashes the alphabetical tail. The box
    # has 128 GiB — give the bench session real headroom.
    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    spark = get_spark("bench")
    cpus = spark.sparkContext.defaultParallelism

    specs = load_all()
    timings: dict[str, float] = {}
    warm_session(spark, specs, sf_dir)

    # Memo-consumer labeling (round-7 verdict item 3): the dedup pair
    # graph is built once per session and consumed by ~7 queries, so a
    # consumer's per-query time is a cache hit unless it ran first. Log
    # which queries built vs hit the memo so BENCH_DETAIL rows are
    # interpretable in isolation.
    from aws_lambda_redshift_loader_spark.operators import dedup as _dedup

    memo_labels: dict[str, list[str]] = {}
    # Host-load accounting (round-15 verdict item 5): flagged_reruns
    # makes per-query SPIKES self-describing, but a wave that inflates
    # the whole run uniformly was only legible via ROADMAP prose. Sample
    # the 1-min loadavg at start, after every query, and at end, and
    # put (start, end, max) in the artifact header so a reader of any
    # BENCH_r{N} can adjudicate a hot run from the artifact alone.
    load_start = round(os.getloadavg()[0], 2)
    load_max = load_start
    cpu_start = _cpu_ticks()
    for name in sorted(specs):
        print(f"# bench running {name}", file=sys.stderr, flush=True)
        n_events = len(_dedup.MEMO_EVENTS)
        t0 = time.perf_counter()
        try:
            specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 4)
        except Exception as exc:  # keep the bench line parseable on failure
            timings[name] = -1.0
            print(f"# bench error in {name}: {exc}", file=sys.stderr)
        if len(_dedup.MEMO_EVENTS) > n_events:
            memo_labels[name] = _dedup.MEMO_EVENTS[n_events:]
        # Drop per-query litter (cached rels, memory-sink temp views) so
        # later queries measure operators, not accumulated heap pressure.
        # release_persisted drops frames queries persist()ed for their own
        # multi-action plans (deferred because the returned frame depends
        # on them); clearCache then sweeps whatever remains EXCEPT the
        # deliberate cross-query memos, which are localCheckpoint-backed
        # and survive it.
        from aws_lambda_redshift_loader_spark.session import release_persisted

        release_persisted()
        spark.catalog.clearCache()
        for tbl in spark.catalog.listTables():
            if tbl.name.startswith("stream_result_"):
                spark.catalog.dropTempView(tbl.name)
        # localCheckpoint RDDs (the CC loop, the MAXERROR reader) stay
        # pinned in executor storage until BOTH the Python DataFrame and
        # its JVM RDD are collected — across 129 queries that buildup was
        # measurably inflating the alphabetical tail (CC: 20.6s in-bench
        # vs 4.4s isolated before this hygiene). Force both collectors.
        import gc as _gc

        _gc.collect()
        spark.sparkContext._jvm.System.gc()
        load_max = max(load_max, round(os.getloadavg()[0], 2))

    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")

    # Bench hygiene, self-denoising form (round-8 verdict item 3: the
    # last two rounds both lost signal to host-load spikes, and a
    # flagged-but-not-substituted artifact still needed a companion-run
    # narrative to interpret). Any query slower than 1.5x its previous
    # recorded figure (with a 0.5 s absolute floor so sub-second wobble
    # doesn't trigger churn) gets ONE immediate re-run, and the BETTER
    # of the two times becomes the recorded figure — min-of-2 is the
    # standard contention estimator, and both raw numbers stay in
    # flagged_reruns for auditability. Exception: a rerun of a
    # memo-BUILDING query hits the now-warm pair-graph memo, so its
    # rerun time is a cache hit, not a comparable standalone cost — it
    # is recorded but NOT substituted.
    try:
        with open(detail_path) as fh:
            _d = json.load(fh)
    except Exception:
        _d = {}
    if _d and not prior_for_width(_d, cpus):
        print(
            f"# bench prior ran at cpus={_d.get('cpus')}, this run at "
            f"cpus={cpus}: no prior used",
            file=sys.stderr,
        )
    _d = prior_for_width(_d, cpus)
    prev: dict[str, float] = _d.get("queries", {})
    prev_raw: dict[str, float] = {
        k: v.get("bench", -1.0) for k, v in _d.get("flagged_reruns", {}).items()
    }
    reruns: dict[str, dict] = {}
    for name, t in sorted(timings.items()):
        p = prev.get(name, -1.0)
        if not should_rerun(t, p):
            continue
        raw = prev_raw.get(name, -1.0)
        if suppressed_by_raw(t, raw):
            # Same first-run cost as last time (per-query codegen, not
            # contention): no rerun, no substitution; recording the raw
            # value keeps this suppression stable run over run.
            reruns[name] = {"bench": t, "prev": p, "suppressed_by_raw_prior": raw}
            continue
        print(f"# bench rerunning flagged {name} ({t}s vs prev {p}s)", file=sys.stderr)
        n_events = len(_dedup.MEMO_EVENTS)
        t0 = time.perf_counter()
        try:
            specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            reruns[name] = {"bench": t, "prev": p, "rerun": round(time.perf_counter() - t0, 4)}
        except Exception:
            reruns[name] = {"bench": t, "prev": p, "rerun": -1.0}
        if len(_dedup.MEMO_EVENTS) > n_events:
            reruns[name]["rerun_memo_events"] = _dedup.MEMO_EVENTS[n_events:]
        if not substitutable(memo_labels.get(name, [])):
            # The bench run BUILT a memo the rerun only hits: the rerun
            # is a cache hit, not a comparable standalone cost.
            reruns[name]["substituted"] = False
        elif reruns[name]["rerun"] > 0:
            timings[name] = min(t, reruns[name]["rerun"])
            reruns[name]["substituted"] = timings[name] != t
        spark.catalog.clearCache()

    total = round(sum(t for t in timings.values() if t >= 0), 4)
    # Uniform-inflation check (round-11 verdict item 7): per-query
    # flagging catches SPIKES, but a multi-minute host-load wave
    # inflates every query ~uniformly without tripping any flag. Compare
    # the common-query-set total against the committed prior artifact so
    # the operator sees the run-level premium before committing.
    common = [n for n, t in timings.items() if t > 0 and prev.get(n, -1.0) > 0]
    common_ratio = (
        round(sum(timings[n] for n in common) / sum(prev[n] for n in common), 3)
        if common
        else None
    )
    cpu_pct = _cpu_delta_pct(cpu_start, _cpu_ticks())
    if common_ratio is not None:
        lvl = "UNIFORM-INFLATION WARNING" if common_ratio > 1.05 else "ok"
        print(
            f"# bench common-{len(common)} total vs committed prior: "
            f"{common_ratio}x ({lvl}); cpu {cpu_pct}",
            file=sys.stderr,
        )
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "sf": sf,
                # Execution width; a later run uses this artifact as
                # its prior only at the same width (prior_for_width).
                "cpus": cpus,
                "total_sec": total,
                "common_set_vs_prior": common_ratio,
                # 1-min loadavg: sampled at start, after every query
                # (max retained), and at close. On this 32-cpu box the
                # bench itself sustains roughly the high-20s-to-low-30s;
                # start/max far above that = external wave, read totals
                # accordingly (see flagged_reruns for which queries).
                "load_1m": {
                    "start": load_start,
                    "end": round(os.getloadavg()[0], 2),
                    "max": load_max,
                },
                # Whole-run /proc/stat delta: steal_pct > ~3 means a
                # hypervisor-contention wave inflated this run's totals
                # uniformly (the r18 post-close calibration measured
                # 13.5% under such a wave, 1.9% at idle) — compare runs
                # accordingly. busy_pct is the box's own utilization.
                "cpu": cpu_pct,
                "queries": timings,
                "flagged_reruns": reruns,
                # Which queries built vs cache-hit the shared dedup pair
                # graph: a "*_hit" row's time is NOT its standalone cost
                # (the graph build is billed to the "*_build" query).
                "memo_events": memo_labels,
            },
            fh, indent=1, sort_keys=True,
        )
    print(f"# full per-query map: {json.dumps(timings, sort_keys=True)}", file=sys.stderr)
    # Headline subset keeps the stdout line short enough to survive any
    # output-capture truncation (round-1 failure mode).
    headline = [
        "pricing_summary",
        "revenue_by_nation",
        "asof_join_latest_view",
        "window_topk_per_group",
        "count_trigger_batches",
        "minhash_lsh_pairs",
        "embedding_cosine_neardup",
        "training_corpus_select",
        "token_count",
        "stream_tumbling_counts",
    ]
    print(
        json.dumps(
            {
                "metric": "total_runtime_all_queries",
                "value": total,
                "unit": "sec",
                "queries": {q: timings[q] for q in headline if q in timings},
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "n_queries": len(timings),
                "n_failed": sum(1 for t in timings.values() if t < 0),
                "detail": detail_path,
            }
        )
    )


def warm_session(spark, specs, sf_dir: str) -> None:
    """Session-shape warmers run once before any timed query (bench.py
    and qbench.py), so per-query numbers measure the operators, not
    one-time session, JIT and daemon start-up."""
    # The JVM + file-system caches, with the flagship query.
    specs["pricing_summary"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    # Also warm the Python worker daemon (one-time ~10 s cost otherwise
    # billed to whichever Arrow/pandas query happens to run first).
    import pandas as _pd

    spark.range(32).mapInPandas(
        lambda it: ( _pd.DataFrame({"id": pdf["id"]}) for pdf in it ), schema="id long"
    ).write.format("noop").mode("overwrite").save()
    # And the two remaining cold shapes that otherwise bill their
    # one-time setup to whichever query runs them first alphabetically
    # (age_trigger_sessions / benchmark_contamination flagged EVERY run
    # against their own warm min-of-2 priors — bimodal by position, not
    # by code): the grouped-Arrow (applyInPandas) exchange path and the
    # broadcast-join machinery. Trivial frames — shape warmers, not
    # query warmers.
    from pyspark.sql import functions as _F

    spark.range(64).withColumn("g", _F.col("id") % 4).groupBy("g").applyInPandas(
        lambda pdf: _pd.DataFrame({"g": [int(pdf["g"].iloc[0])], "n": [len(pdf)]}),
        schema="g long, n long",
    ).write.format("noop").mode("overwrite").save()
    spark.range(64).join(
        _F.broadcast(spark.range(8)), "id"
    ).write.format("noop").mode("overwrite").save()
    # And the PPJoin-family plan shapes (shingle explode → prefix
    # windows → band self-join → suffix verify): an r17 isolated A/B
    # measured the family's first-alphabetical entry
    # (adaptive_ppjoin_jaccard_pairs) at 18.9 s cold vs 6.7 s steady
    # with the ANALYZE pass itself <1 s marginal — the 12 s gap is
    # session-one-time whole-stage-codegen/JIT of these shapes, billed
    # to whichever family query runs first. Same policy as the shapes
    # above: a 32-row trivial frame compiles the plans, memo builds
    # (ppj_stats_build etc.) stay billed to the queries that run them.
    from aws_lambda_redshift_loader_spark.functions.scalar import (
        hex_hash64 as _hh64,
    )
    from aws_lambda_redshift_loader_spark.operators import dedup as _dd

    _tinydocs = spark.range(32).select(
        _F.col("id").alias("doc_id"),
        _F.concat_ws(
            " ",
            *[
                _F.concat(_F.lit(f"w{j}x"), (_F.col("id") % (j + 2)))
                for j in range(8)
            ],
        ).alias("text"),
    )
    _tsh = _dd._shingles_of(_tinydocs).select(
        "doc_id", _hh64(_F.col("shingle")).alias("shingle")
    )
    _tw, _ts, _tc = _dd._ppjoin_candidates(_tsh, _dd.JACCARD_THRESHOLD)
    _dd._ppjoin_verify_suffix(
        _tw, _ts, _tc, _dd.JACCARD_THRESHOLD
    ).write.format("noop").mode("overwrite").save()
    # And the STREAMING machinery (r18): a 2-trigger no-op foreachBatch
    # file stream + a tiny complete-mode memory-sink aggregate warm the
    # MicroBatchExecution/file-source-log/foreachBatch plumbing —
    # measured ~6 s of session-one-time cost otherwise billed to the
    # first streaming query (see warm_stream_shapes).
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        warm_stream_shapes,
    )

    warm_stream_shapes(spark)


if __name__ == "__main__":
    main()

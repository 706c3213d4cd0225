"""Scale-exponent regression gate for the dedup/ANN family.

BENCH_SCALE.json measures the 10x step at bench scale; this test is the
CI form of the same instrument (the plan-shape idea applied to scaling):
replay a replica-disjoint 10x step from sf0.01 for the top scale-risk
queries and FAIL if the observed time ratio implies super-linear growth.
This is what caught (and now guards) the fixed-bits LSH regression —
exponent 1.55 at 10x data, a genuine 100 TB killer that no correctness
test can see.

Budgets are deliberately loose (linear + generous fixed-overhead head
room, CI timing wobbles 2-3x): the gate exists to catch quadratic-
trending candidate explosions (ratio 30-100x), not to police constants.
Each query gets a warm-up run at 1x before timing so JIT/Python-worker
spin-up does not inflate the 1x denominator and mask a blowup.
"""

from __future__ import annotations

import os
import time

import pytest

from aws_lambda_redshift_loader_spark.plans.registry import load_all

SRC = "/root/testdata/sf0.01"
DST = "/tmp/scale_ci_sf01"

# (query, max allowed t10x/t1x ratio). Linear work at a clean 10x step is
# ratio ~10; fixed overhead pulls it down, noise pushes it up. 20 ≈
# exponent 1.3 — any quadratic-trending mechanism lands far above it.
BUDGETS = [
    ("minhash_lsh_pairs", 20.0),        # LSH band join + verify
    ("simhash_neardup_pairs", 20.0),    # banded 60-bit signatures
    ("ngram_jaccard_pairs", 20.0),      # capped inverted-index self-join
    ("embedding_cosine_neardup", 20.0), # adaptive-bits LSH buckets
    ("fuzzy_match_names", 20.0),        # deletion-neighborhood blocking
    # round-8 additions (the two top-of-board exponents from r7, settled
    # by the 3x midpoint as linear-asymptote, now gated so they stay so)
    ("cdc_chunks", 20.0),               # Rabin chunker + chunk-hash groupBy
    ("heavy_hitters_cms_only", 20.0),   # production sketch-only CMS plan
    # round-9 addition: K map-only GEMM passes + K 1-row argmax collects —
    # linear in corpus size by construction; the gate guards against the
    # argmax accidentally becoming a global sort
    ("kcenter_diverse_select", 20.0),
    # round-10 late addition: the KMV sketch is a distributed sort-limit
    # (per-partition top-K merged on the driver) — the gate guards it
    # regressing to a single-task global sort of the full key set
    ("kmv_join_distinct", 20.0),
    # round-10 addition: banded ranks + sketch-threshold pick — linear by
    # construction; the gate guards the rank windows regressing to a
    # single-partition funnel (which shows up as a superlinear tail once
    # one task sorts the whole corpus)
    ("scorer_disagreement_scalable", 20.0),
    # round-11 addition: three co-located lineitem self-joins (semi +
    # anti) — linear in fact volume (~10x at a clean 10x step); the gate
    # catches the decorrelation regressing to a nested-loop/cartesian
    ("waiting_supplier_ranking", 20.0),
    # round-12 addition: the one-window Q21 rewrite measured ratio 1.22
    # at the bench-scale 10x step (vs 12.55 for the r11 self-join form)
    # — the tighter budget locks in that the window never regresses to
    # re-referencing the fact exchange
    ("waiting_supplier_ranking_windowed", 12.0),
    # round-13 additions: the 3-D skyline's dominance anti-join runs on
    # the survivor union (frontier-sized) — the gate catches it ever
    # regressing to a quadratic pair join over the fact
    ("pareto_skyline_lineitem_3d", 20.0),
    # PPJoin+ suffix probe is O(2^depth·log n) per candidate; the gate
    # catches the candidate set (or the pair-local verify) going
    # quadratic once the prefix index stops pruning
    ("ppjoin_plus_jaccard_pairs", 20.0),
    # grid-bucketized interval join: emit-once equi-join on the hour
    # grid — the gate catches a regression to the cross-join shape
    ("interval_overlap_incidents", 20.0),
    # one window pass, 16 lags sharing one spec — the gate catches the
    # lag chain ever splitting into per-lag window operators
    ("ewma_smoothed_values", 20.0),
    # round-14 additions: the hierarchical ANN's upper layer is
    # 1/GANN_UPPER_MOD of the nodes and both layers' searches broadcast
    # only the frontier — the gate catches either graph build going
    # all-pairs or a beam round shuffling the corpus
    ("embedding_graph_ann_hier_topk", 20.0),
    # density-chosen verify tail: whichever tail fires must stay
    # candidate-bounded — the gate catches the switch mispricing a
    # regime so badly that verify goes quadratic
    ("adaptive_ppjoin_jaccard_pairs", 20.0),
    # round-15 additions: the basket self-join fans out C(basket, 2)
    # per order — the gate catches it regressing to a part-grain pair
    # join (quadratic in catalog size); lift scoring is pair-grain
    ("association_rules_lift", 20.0),
    # synchronous LPA: each round is one edge-label join + a per-node
    # top-1 window — the gate catches a round shuffling label frames
    # quadratically (e.g. the vote join going nested-loop) on the
    # graph's inherently linear edge volume
    ("label_propagation_copurchase", 20.0),
    # the budget fold is block-aligned (lang, bucket) — the gate
    # catches it degenerating to one whole-domain sequential task
    # (shows up as a superlinear wall-clock tail at 10x)
    ("sequence_packing_budget_plan", 20.0),
    # round-16 additions (r15 verdict item 1): the modularity epilogue
    # is two node-grain label joins against the edge frame + community-
    # grain aggregates — the gate catches either label join regressing
    # to a shuffle of the edge frame per LPA round or the epilogue
    # going pair-quadratic
    ("community_modularity", 20.0),
    # ER store read: resolve is epoch-partition sums at entity grain —
    # the gate catches the survivorship read rescanning history
    # per-epoch (quadratic in epoch count x corpus)
    ("stream_incremental_er", 20.0),
    # round-16 additions: the CUSUM runs a day-banded distributed
    # prefix sum — the gate catches it regressing to one task per
    # event type (a per-type global sort shows up as a superlinear
    # wall-clock tail once a type's whole stream funnels through one
    # partition)
    ("cusum_changepoint_events", 20.0),
    # the budget selection ranks window-grain ONLY inside each
    # language's single threshold band — the gate catches the banding
    # collapsing to a per-language global running sum
    ("curriculum_budget_selection", 20.0),
]


@pytest.fixture(scope="module")
def scale_fixture():
    from scale_bench import build_fixture

    build_fixture(src_dir=SRC, dst_dir=DST)
    return DST


def _run(spark, fn, sf_dir: str) -> float:
    # Exponents measure each query's FULL cost: clear every session
    # memo, all of which live in aws_lambda_redshift_loader_spark.memos
    # (test_memo_registry locks that there is no other memo dict).
    from aws_lambda_redshift_loader_spark.memos import clear_session_memos

    clear_session_memos()
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


@pytest.mark.parametrize("name,max_ratio", BUDGETS, ids=[b[0] for b in BUDGETS])
def test_scale_exponent_budget(spark, scale_fixture, name, max_ratio):
    specs = load_all()
    fn = specs[name].fn
    _run(spark, fn, SRC)  # warm-up: JIT, Python workers, file listing
    t1 = _run(spark, fn, SRC)
    t10 = _run(spark, fn, scale_fixture)
    ratio = t10 / max(t1, 1e-3)
    assert ratio <= max_ratio, (
        f"{name}: 10x data took {ratio:.1f}x time ({t1:.2f}s -> {t10:.2f}s); "
        f"budget {max_ratio}x — super-linear scaling regression"
    )

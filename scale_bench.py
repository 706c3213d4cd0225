#!/usr/bin/env python
"""Scale-proof bench: measure the most expensive queries at sf0.1 AND at a
derived 10x fixture, and record the observed scaling exponent per query in
BENCH_SCALE.json. The 100 TB design claims elsewhere in this repo argue
from plan shape; this catches super-linear surprises empirically (LSH
bucket occupancy, connected-components iteration growth, window-state
blowup) at the largest scale the sandbox sustains.

The 10x fixture is DERIVED from the driver's sf0.1 parquet (never used
for correctness — the oracle gate stays on driver data only) by
replica-disjoint, structure-preserving transforms, so per-replica query
structure is isomorphic to sf0.1 and cross-replica interaction is ~nil:

- documents: 10 replicas; every token in replica r>0 gets a '~r' suffix
  (disjoint vocabularies -> zero cross-replica shingles/near-dup pairs;
  per-replica hot-shingle + near-dup structure preserved exactly);
- embeddings: vec_ids shifted, vectors rolled by r dims (norms and
  within-replica dot products preserved; cross-replica decorrelated);
- events: ids/users shifted, ts shifted by r*400 days (no window overlap
  across replicas -> group counts scale linearly);
- lineitem/orders/customer: keys shifted per replica.

Expected behavior is therefore LINEAR (exponent ~1 in data size) for
every bucketed/aggregated query; the JSON records time10x/time1x and the
implied exponent log10(ratio) so any super-linearity is visible at a
glance. Fixed per-query overhead (session, file listing, Python worker
spin-up) deflates small exponents below 1 — exponents are capped notes,
not physics.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/scale_sf1")
REPLICAS = 10

# The bench set: the top of BENCH_DETAIL.json by cost, one query per
# distinct scale-sensitive mechanism, plus a classic scan anchor.
QUERIES = [
    "minhash_lsh_pairs",          # LSH band join + candidate verify
    "dedup_connected_components", # iterative label propagation
    "ngram_jaccard_pairs",        # capped inverted-index self-join
    "pagerank_token_graph",       # fixed-round iteration over bigram graph
    "embedding_cosine_neardup",   # LSH buckets + integer verify
    "winnowing_fingerprints",     # rolling-hash frame MIN
    "simhash_neardup_pairs",      # banded 60-bit signatures
    "heavy_hitters_cms",          # sketch + exact audit side
    "heavy_hitters_cms_only",     # sketch-only form (bounded shuffle)
    "embedding_ann_lsh",          # hyperplane LSH probe
    "session_window_events",      # session windows over events
    "pricing_summary",            # scan + groupBy anchor (lineitem)
    # round-5 additions worth a scale point
    "dedup_cluster_keep_best",    # CC + per-cluster survivor argmax
    "line_dedup_fraction",        # line-hash partial-agg + join-back
    "unigram_logprob_quality",    # token-vocab join, no hints
    "triangle_count_token_graph", # degree-ordered two-join enumeration
    "embedding_ivfpq_topk",       # IVF cells + residual PQ codes
    # round-6 additions
    "fuzzy_match_names",          # deletion-neighborhood variant join
    "document_chunking",          # map-only sliding-window chunker
    "duplicated_spans",           # span-grain substring dedup
    # round-7 additions
    "cdc_chunks",                 # map-only Rabin chunker + dedup report
    "bm25_topk",                  # query-restricted inverted index
    "embedding_opq_topk",         # rotation + trained PQ chain
    "shingle_containment_pairs",  # capped inverted index, one-sided norm
    "corpus_curation_e2e",        # pair graph + CC + gate + split report
    # round-8 additions
    "dsir_importance_select",     # hashed-n-gram histograms + bucket join
    "semantic_dedup_clusters",    # cosine LSH pairs + edge-list CC
    "dedup_token_savings",        # pair-graph labels + per-source ledger
    # incremental-index trilogy: per-epoch work should be O(batch), so
    # the 10x step should scale like the batch plans plus fixed
    # streaming overhead (4 trigger cycles either way)
    "stream_incremental_neardup",
    "stream_incremental_ivf",
    "stream_incremental_bm25",
    "stream_incremental_curation",  # neardup epochs + feature pass + compaction
    # round-9 additions
    "stream_incremental_simhash",  # per-doc signing + Hamming-band store probe
    "stream_incremental_cdc",  # map-only chunking, append-only store
    "dsir_topk_scalable",  # sketch-threshold top-K (window sees O(K) rows)
    "quality_calibration_scorers",  # NB-linear + surprisal decile curves
    "stream_incremental_winnow",  # within-doc sketching, append-only store
    "stream_incremental_cosine",  # stateless signatures + GEMM bucket verify
    "stream_topk_quality",  # versioned monotone top-K state, O(batch+K)/epoch
    "doremi_domain_reweight",  # corpus surprisal + bounded-domain MW loop
    "kcenter_diverse_select",  # K map-only GEMM passes + 1-row argmaxes
    "stream_drift_monitor",  # mergeable histogram store, query-time PSI
    "scorer_disagreement_select",  # two scorer plans + rank-gap windows
    # round-10 additions
    "scorer_disagreement_scalable",  # banded ranks + sketch-threshold pick
    "quality_calibration_scalable",  # ntile via banded rank + closed form
    "stream_drift_monitor_ks",  # KS over the shared histogram store
    "value_histogram_equidepth_scalable",  # per-group banded rank + ntile
    "ks_two_sample_scalable",  # banded ECDF (distributed prefix sum)
    # round-10 late additions
    "kmv_set_overlap",  # per-set KMV sketches + pairwise merge algebra
    "lsh_candidate_estimate",  # CMS inner product over LSH band keys
    "sq8_reconstruction_error",  # integer codec error audit
    "weighted_sample_es",  # hash-uniform weighted top-K per stratum
    "tokenizer_fertility",  # map + bounded-group agg
    "boilerplate_prefix_clusters",  # prefix-hash aggregate
    # round-10 final additions (stream_cluster_sizes is omitted: its
    # maintenance cost IS the shared ingest already measured by the
    # stream_incremental_* rows; its own read is one store scan)
    "kmv_join_distinct",  # per-side KMV via distributed sort-limit
    "bloom_join_prune",  # bloom build + probe-side prune + join both ways
    "embedding_filtered_topk",  # label-predicate broadcast scoring pass
    "ann_recall_eval",  # brute + SQ8 plans + tiny recall join
    "dataset_split_assign",  # map-only hash split + (lang,split) agg
    # round-11 additions: the TPC-H-shape batch (measured on the
    # coherent 10x star fixture — all key columns shift per replica, so
    # joins match within replicas at 10x volume)
    "volume_shipping_pairs",  # 4 broadcast dims + fact-fact shuffle
    "market_share_by_year",  # 7-table star, conditional share aggregate
    "returned_item_ranking",  # customer-grain agg + TakeOrdered top-k
    "ship_delay_priority_mix",  # computed-key conditional aggregate
    "large_order_customers",  # HAVING aggregate driving later joins
    "disjunctive_part_revenue",  # OR-of-ANDs pushdown across a join
    "waiting_supplier_ranking",  # correlated EXISTS/NOT EXISTS self-joins
    "idle_balance_customers",  # scalar subquery + anti-join
    # round-11 estimator/refine instruments
    "kmv_difference_estimate",  # KMV set-difference algebra
    "minhash_estimate_error",  # signature-vs-exact calibration audit
    "lsh_threshold_sweep",  # recall s-curve over the pair frames
    "quality_rule_ablation",  # map-only flags + one-row conditional agg
    "ann_refine_topk",  # SQ8 coarse scan + exact rerank of C candidates
    "embedding_multiprobe_lsh",  # home + perturbation probes, same index
    "kcore_token_graph",  # fixed-round peel: degree agg + endpoint joins
    "k_anonymity_audit",  # quasi-identifier-grain groupBy + 1-row audit
    "curation_funnel_report",  # pair-graph memo + one flag scan + 1-row agg
    "bm25_prf_topk",  # two postings-restricted BM25 passes + expansion pick
    "seasonal_outliers",  # (type,hour)-partitioned rank medians + MAD
    "max_drawdown_by_user",  # cumulative-max window + same-key aggregate
    # round-12 additions: the scalable rewrites earn their own points
    "waiting_supplier_ranking_windowed",  # one-window Q21 (vs 3 self-joins)
    "stream_incremental_ivf_refresh",  # mid-stream retrain + re-bucket
    "mad_outliers_scalable",  # banded per-group medians (one band ranked)
    "seasonal_outliers_scalable",  # banded (type,hour) + type medians
    "late_order_priority_counts",  # semi join w/ cross-table predicate
    "min_cost_supplier",  # per-part min window sharing the agg exchange
    "product_profit_by_nation",  # LIKE-gated 5-table star, 2-term measure
    "supplier_count_by_part",  # anti join under COUNT(DISTINCT)
    "excess_shipping_suppliers",  # agg-derived-threshold semi chain
    "t_closeness_audit",  # QI-grain TVD vs broadcast global distribution
    "l_diversity_audit",  # QI-grain distinct+entropy release gate
    "clustering_coefficient_nodes",  # degree-ordered triangles, per-node ratio
    "embedding_power_iteration",  # 2 matvec rounds, 64-row driver spectrum
    "prefix_filter_jaccard_pairs",  # PPJoin prefix index vs full index
    "pareto_skyline_parts",  # two-phase skyline: local frontier + staircase
    "pc_energy_ratio",  # Rayleigh eval: map-only projection + 1-row aggs
    "stream_incremental_skyline",  # frontier store: O(batch+frontier)/epoch
    "gram_power_iteration",  # one-pass DIM^2 moment matrix + driver iterate
    "stream_incremental_gram_pc",  # mergeable moment store, DIM^2/epoch
    "ppjoin_jaccard_pairs",  # uncapped prefix+length+positional filters
    "gram_direction_drift",  # one pass, per-segment Grams, driver angles
    "column_profile_lineitem",  # one fact scan + K separate distinct aggs
    # round-13 additions
    "pareto_skyline_lineitem_3d",  # local frontiers + dominance anti-join
    "stream_incremental_skyline3d",  # 3-D frontier store, O(batch+frontier)
    "ppjoin_plus_jaccard_pairs",  # + suffix filter, pair-local Arrow verify
    "stream_gram_drift_monitor",  # store-prefix directions, DIM^2/epoch read
    "ewma_smoothed_values",  # 16-lag weighted frame, one window pass
    "interval_overlap_incidents",  # grid-bucketized interval join, emit-once
    "scorer_auc_eval",  # grouped rank-sum AUC, bounded score cells
    "mad_outliers_scalable",  # re-measure post r13 single-action medians
    "ppr_copurchase_parts",  # personalized teleport, fact-sized graph
    "moving_median_spend",  # bounded-frame order statistic, one window pass
    "embedding_graph_ann_topk",  # kNN-graph build + fixed-round beam search
    # round-14 additions
    "embedding_graph_ann_hier_topk",  # sparse upper layer seeds base beam
    "stream_incremental_gann",  # per-epoch probe-bucket edge deltas
    "stream_incremental_ivf_drift_refresh",  # drift-derived retrain epoch
    "adaptive_ppjoin_jaccard_pairs",  # density-chosen verify tail
    "entity_resolution_golden_records",  # pair graph + CC + survivorship
    "sequence_packing_report",  # two-level distributed prefix sum
    "stream_incremental_packing",  # 13th store kind: O(1)-per-domain totals
    "stream_incremental_gann_hier",  # both HNSW layers epoch-maintained
    "sequence_packing_nosplit_plan",  # block-aligned next-fit, bounded folds
    "event_transition_matrix",  # user-partitioned lag + type^2-cell agg
    "transition_surprisal_users",  # matrix broadcast back onto the stream
    # round-15 additions (stream_packed_manifest / stream_incremental_er
    # are omitted per the stream_cluster_sizes rationale: store-read
    # consumers whose maintenance cost is the shared ingest, already
    # measured by their stream_incremental_* producer rows)
    "sequence_packing_budget_plan",  # block-aligned fragment-budget fold
    "stream_incremental_budget_packing",  # 14th store: 1 state row/lang
    "packed_budget_manifest",  # budget fold + token-bounded explode
    "entity_resolution_weighted_survivorship",  # quantized quality votes
    "label_propagation_copurchase",  # fixed sync LPA rounds, basket graph
    "association_rules_lift",  # basket self-join + integer lift top-k
    "stream_incremental_assoc_rules",  # 15th store: stateless mergeable deltas
    # round-15 late additions (stream_ivf_occupancy omitted per the
    # store-read-consumer rationale; langid_confusion is a map+agg over
    # langid's measured plan)
    "conversion_attribution",  # journey windows + (user, journey) joins
    "journey_path_counts",  # path assembly + TakeOrdered top-k
    "curriculum_warmup_windows",  # budget fold x quality x explode
    "weighted_median_price_by_nation",  # grain collapse + running weight
    "supplier_hhi_by_part_brand",  # share-squared concentration agg
    "zipf_slope_tokens",  # token head TakeOrdered + closed-form OLS
    "ivf_occupancy_report",  # broadcast-centroid assignment pass
    # round-16 additions: the seven r15 queries the r15 verdict flagged
    # as exponent-less. Three are store-read consumers previously
    # omitted per the stream_cluster_sizes rationale (maintenance cost
    # lives in the producer rows); the verdict asked for explicit points
    # anyway so the "every r15 exponent measured" claim holds without an
    # asterisk — their full cost here includes the shared ingest build.
    "community_modularity",  # two label joins + community-grain aggs
    "langid_confusion",  # map+agg over langid's measured plan
    "data_budget_allocation",  # per-lang totals + waterfilling fold
    "stream_incremental_er",  # ER store read (pays shared pair ingest)
    "stream_ivf_occupancy",  # IVF store read (pays shared IVF ingest)
    "stream_packed_manifest",  # packing store read (pays shared ingest)
    "packing_mask_density_report",  # packing plan + mask-density agg
    # round-16 new queries
    "community_conductance",  # third LPA-memo reader, cut/volume aggs
    "stream_community_modularity",  # rules-store pairs + read-time LPA
    "stream_data_budget_allocation",  # packing-store totals + waterfill
    "curriculum_budget_selection",  # banded per-lang budget prefix
    "vocab_coverage_curve",  # token counts + TakeOrdered head
    "char_class_profile",  # regex-deletion deltas, |lang| rows
    "embedding_range_search",  # IVF probe + threshold, no window
    "ivf_nprobe_recall_sweep",  # one probe pass, 3 rank filters
    "cusum_changepoint_events",  # day-banded prefix sum + max_by argmax
    "copurchase_node_jaccard",  # sparsified wedge join + TakeOrdered
    "stream_vocab_coverage",  # token-store read (pays shared ingest)
    "stream_zipf_slope",  # token-store read, second reader
    "semantic_contamination_check",  # broadcast-bench map scoring
    "rbo_scorer_agreement",  # two TakeOrdered prefixes + 100-row curve
    "stream_semantic_contamination",  # 17th store: per-epoch flag deltas
    "kaplan_meier_conversion",  # user-grain aggs + calendar-bounded curve
    "markov_absorption_time",  # lag window + bounded-cell driver solve
    "logrank_conversion_ab",  # time-grain hypergeometric terms
    "stream_kaplan_meier",  # 18th store: min/max-merge user times
    "stream_transition_matrix",  # 19th store: stitched sequence pairs
    "sprt_conversion_monitor",  # day-banded LLR walk + argmin crossing
    "stream_logrank",  # KM-store read (pays shared ingest)
    "stream_markov_absorption",  # transition-store read + bounded solve
    "stream_community_conductance",  # 2nd reader of the store LPA memo
    "stream_sprt",  # KM-store 3rd reader: banded walk epilogue
    "mann_whitney_quality_ab",  # value-range-banded rank walk
    "cuped_adjusted_ab",  # one user-grain shuffle + moment epilogue
    "bootstrap_quality_ci",  # 48x map-only explode, 48-row combine
    "stream_cusum",  # 20th store: hull vertices + cell totals
    "srm_check",  # one distinct-user aggregate
    "welch_t_ab",  # shared user-grain shuffle + 6-sum epilogue
    "diff_in_differences",  # shared user-grain shuffle + 2-row agg
    "permutation_test_ab",  # 64x explode, 128 partial sums
    "stream_welch_t",  # 21st store: additive user-day cents
    "stream_did",  # spend store 2nd reader (shared resolve)
    "winsorized_quality_ab",  # shared value walk + threshold mins
    "stream_mann_whitney",  # 22nd store: additive value counts
    "stream_winsorized",  # value-count store 2nd reader
    "flesch_readability_profile",  # map-only regex + lang agg
    "split_centroid_similarity",  # one shuffle to 64 dim rows
    "mde_power_ab",  # welch-plan twin, different epilogue
    "stream_srm",  # KM-store 4th reader: user-grain distinct
]


def build_fixture(
    src_dir: str | None = None, dst_dir: str | None = None, replicas: int | None = None
) -> None:
    """Build the replica-disjoint Nx fixture from ``src_dir`` into
    ``dst_dir`` (defaults: the module-level SRC/DST env settings,
    REPLICAS copies). Parameterized so tests/test_scale_exponents.py can
    derive a small step from sf0.01, and so the --mid mode can build an
    intermediate 3x point for trend-vs-constant exponent analysis."""
    import duckdb

    SRC, DST = src_dir or globals()["SRC"], dst_dir or globals()["DST"]
    REPLICAS = replicas or globals()["REPLICAS"]
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")

    def write(table: str, select_for_replica) -> None:
        out = f"{DST}/{table}.parquet"
        if os.path.exists(out):
            return
        parts = " UNION ALL ".join(select_for_replica(r) for r in range(REPLICAS))
        con.execute(f"COPY ({parts}) TO '{out}' (FORMAT PARQUET)")
        print(f"# built {out}", file=sys.stderr, flush=True)

    src = lambda t: f"read_parquet('{SRC}/{t}.parquet')"

    write(
        "documents",
        lambda r: (
            f"SELECT doc_id + {r * 10_000} AS doc_id, "
            + (
                "text, "
                if r == 0
                else f"regexp_replace(text, '(\\S+)', '\\1~{r}', 'g') AS text, "
            )
            + f"lang, source, n_chars FROM {src('documents')}"
        ),
    )
    # Embeddings: element-wise deterministic ±1 mask per replica. Sign
    # flips preserve norms and within-replica dot products EXACTLY (the
    # replica is isomorphic to sf0.1), while cross-replica similarities
    # decorrelate. (A cyclic roll does NOT work: roll(v,r1)·roll(v,r2) is
    # v's autocorrelation, which is large for structured vectors — the
    # first run's 24x embedding_cosine_neardup blowup was that artifact,
    # 10 correlated copies of every vector flooding the candidate stage.)
    emb_out = f"{DST}/embeddings.parquet"
    if not os.path.exists(emb_out):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(f"{SRC}/embeddings.parquet")
        vec_ids = t["vec_id"].to_numpy()
        labels = t["label"].to_numpy()
        emb = np.array(t["embedding"].to_pylist(), dtype=np.float32)
        dim = emb.shape[1]
        ids_all, labs_all, emb_all = [], [], []
        for r in range(REPLICAS):
            mask = (
                1 - 2 * (((np.arange(dim) * 2_654_435_761 + r * 97) >> 3) & 1)
            ).astype(np.float32) if r else np.ones(dim, dtype=np.float32)
            ids_all.append(vec_ids + r * 10_000)
            labs_all.append(labels)
            emb_all.append(emb * mask)
        out_t = pa.table(
            {
                "vec_id": np.concatenate(ids_all),
                "embedding": pa.array(
                    [row for block in emb_all for row in block.tolist()],
                    type=t.schema.field("embedding").type,
                ),
                "label": np.concatenate(labs_all),
            }
        )
        pq.write_table(out_t, emb_out)
        print(f"# built {emb_out}", file=sys.stderr, flush=True)
    write(
        "events",
        lambda r: (
            f"SELECT event_id + {r * 1_000_000} AS event_id, "
            f"ts + INTERVAL {r * 400} DAY AS ts, "
            f"user_id + {r * 100_000} AS user_id, "
            f"event_type, value, props FROM {src('events')}"
        ),
    )
    # TPC-H star: every key column shifts by a replica-consistent offset
    # (l_orderkey↔o_orderkey, o_custkey↔c_custkey, l_suppkey↔s_suppkey,
    # l_partkey↔p_partkey) so the Nx fixture is N disjoint copies of the
    # WHOLE star — joins match within replicas at Nx volume, exactly how
    # a 10x-bigger warehouse behaves. (Before round 11 only lineitem and
    # customer replicated; orders/supplier/part were single copies, so
    # star joins matched only replica 0 and join-scaling was invisible.)
    # nation/region stay single copies: true shared dimensions.
    write(
        "lineitem",
        lambda r: (
            f"SELECT * REPLACE (l_orderkey + {r * 10_000_000} AS l_orderkey, "
            f"l_suppkey + {r * 1_000_000} AS l_suppkey, "
            f"l_partkey + {r * 10_000_000} AS l_partkey) "
            f"FROM {src('lineitem')}"
        ),
    )
    write(
        "orders",
        lambda r: (
            f"SELECT * REPLACE (o_orderkey + {r * 10_000_000} AS o_orderkey, "
            f"o_custkey + {r * 10_000_000} AS o_custkey) "
            f"FROM {src('orders')}"
        ),
    )
    write(
        "supplier",
        lambda r: (
            f"SELECT * REPLACE (s_suppkey + {r * 1_000_000} AS s_suppkey) "
            f"FROM {src('supplier')}"
        ),
    )
    write(
        "part",
        lambda r: (
            f"SELECT * REPLACE (p_partkey + {r * 10_000_000} AS p_partkey) "
            f"FROM {src('part')}"
        ),
    )
    # Customer replicates with shifted keys and a TWO-char replica tag
    # spliced into the name ('Customer#RR000000001'): within a replica
    # every pairwise distance is unchanged (common insertion), while any
    # cross-replica pair differs in BOTH tag chars — edit distance 2, so
    # it shares no single-deletion variant and the fuzzy-match structure
    # stays exactly 10 disjoint copies of sf0.1 (a 1-char tag would
    # manufacture dist-1 pairs across replicas and fake super-linearity).
    write(
        "customer",
        lambda r: (
            f"SELECT * REPLACE (c_custkey + {r * 10_000_000} AS c_custkey"
            + (
                f", regexp_replace(c_name, '#', '#' || repeat(chr({65 + r}), 2)) AS c_name"
                if r
                else ""
            )
            + f") FROM {src('customer')}"
        ),
    )
    # Small dimensions pass through unchanged (queries above touch only
    # lineitem of the TPC-H side; orders etc. copied for completeness).
    for t in ["orders", "supplier", "part", "nation", "region"]:
        out = f"{DST}/{t}.parquet"
        if not os.path.exists(out):
            con.execute(f"COPY (SELECT * FROM {src(t)}) TO '{out}' (FORMAT PARQUET)")


LONGDOC_DST = os.environ.get("SPARK_GRAFT_LONGDOC_DIR", "/tmp/scale_longdoc")
LONGDOC_GROUP = 32
# Queries whose cost could plausibly depend on DOC LENGTH, not just corpus
# size: per-token explodes, per-doc window partitions, per-doc arrays.
LONGDOC_QUERIES = ["duplicated_spans", "winnowing_fingerprints", "document_chunking", "cdc_chunks"]


def build_longdoc_fixture(src_dir: str | None = None, dst_dir: str | None = None) -> str:
    """Same corpus content, documents {LONGDOC_GROUP}x longer: every
    {LONGDOC_GROUP} consecutive docs concatenate into one. Total token
    count is unchanged, so a plan that is linear in tokens and
    independent of doc length (the claim duplicated_spans' docstring
    makes) should run in ~the same time; a per-doc mechanism that is
    super-linear in doc length (quadratic window state, whole-doc
    arrays re-scanned per position) shows up as ratio >> 1. Run with
    `python scale_bench.py --longdoc`; ratios land in BENCH_SCALE.json
    under '<query>@longdoc{LONGDOC_GROUP}'."""
    import duckdb

    sd = src_dir or SRC
    dd = dst_dir or LONGDOC_DST
    os.makedirs(dd, exist_ok=True)
    out = f"{dd}/documents.parquet"
    if not os.path.exists(out):
        con = duckdb.connect()
        con.execute(f"SET threads TO {os.cpu_count()}")
        con.execute(
            f"""
            COPY (
              SELECT MIN(doc_id) AS doc_id,
                     string_agg(text, ' ' ORDER BY doc_id) AS text,
                     MIN(lang) AS lang, MIN(source) AS source,
                     CAST(SUM(n_chars) AS BIGINT) AS n_chars
              FROM read_parquet('{sd}/documents.parquet')
              GROUP BY doc_id // {LONGDOC_GROUP}
            ) TO '{out}' (FORMAT PARQUET)
            """
        )
        print(f"# built {out}", file=sys.stderr, flush=True)
    return dd


def run_longdoc() -> None:
    """Measure LONGDOC_QUERIES on the base corpus vs the long-doc replica
    and merge '<q>@longdoc{LONGDOC_GROUP}' entries into BENCH_SCALE.json."""
    longdir = build_longdoc_fixture()
    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    from aws_lambda_redshift_loader_spark.plans.registry import load_all
    from aws_lambda_redshift_loader_spark.session import get_spark

    spark = get_spark("scale-bench-longdoc")
    specs = load_all()
    specs["pricing_summary"].fn(spark, SRC).write.format("noop").mode("overwrite").save()

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json")
    payload = {}
    if os.path.exists(path):
        with open(path) as fh:
            payload = json.load(fh)
    results = payload.setdefault("queries", {})
    for name in LONGDOC_QUERIES:
        t_base = run(spark, specs, SRC, name)
        t_long = run(spark, specs, longdir, name)
        ratio = round(t_long / t_base, 2) if t_base > 0 else None
        results[f"{name}@longdoc{LONGDOC_GROUP}"] = {
            "sec_base": t_base,
            "sec_longdoc": t_long,
            "ratio": ratio,
            "note": f"same tokens, docs {LONGDOC_GROUP}x longer; ~1 = doc-length-independent",
        }
        print(f"# {name} longdoc: {t_base}s -> {t_long}s (ratio {ratio})", file=sys.stderr)
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in results.items() if "@longdoc" in k}))


MID_DST = os.environ.get("SPARK_GRAFT_MID_DIR", "/tmp/scale_sf03")
MID_REPLICAS = 3
# Queries whose 1x->10x exponent sits near the top of the board
# (cdc_chunks 0.81, heavy_hitters_cms 0.80 in round 7): a 3x midpoint
# splits the decade into two segments. The expected shape for map-only
# work + a linear map-side-combined groupBy is a LOW early segment
# (fixed session/listing cost amortizing) converging to ~1.0 (linear) in
# the later segment; a genuinely super-linear mechanism (bucket
# occupancy, skew, quadratic state) would push the later segment WELL
# above 1. Measured (round 8): cdc_chunks 0.44 -> 1.07, heavy_hitters_cms
# 0.30 -> 0.82, heavy_hitters_cms_only 0.42 -> 0.75 — all converge to
# ~linear, none accelerate past it.
MID_QUERIES = ["cdc_chunks", "heavy_hitters_cms", "heavy_hitters_cms_only"]


def run_midpoint() -> None:
    """Measure MID_QUERIES at 1x / 3x / 10x and merge '<q>@segments'
    entries (per-segment exponents) into BENCH_SCALE.json."""
    build_fixture()  # 10x
    build_fixture(dst_dir=MID_DST, replicas=MID_REPLICAS)
    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    from aws_lambda_redshift_loader_spark.plans.registry import load_all
    from aws_lambda_redshift_loader_spark.session import get_spark

    spark = get_spark("scale-bench-mid")
    specs = load_all()
    specs["pricing_summary"].fn(spark, SRC).write.format("noop").mode("overwrite").save()

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json")
    payload = {}
    if os.path.exists(path):
        with open(path) as fh:
            payload = json.load(fh)
    results = payload.setdefault("queries", {})
    for name in MID_QUERIES:
        t1 = run(spark, specs, SRC, name)
        t3 = run(spark, specs, MID_DST, name)
        t10 = run(spark, specs, DST, name)
        e_lo = round(math.log(t3 / t1) / math.log(MID_REPLICAS), 2) if t1 > 0 else None
        e_hi = (
            round(math.log(t10 / t3) / math.log(REPLICAS / MID_REPLICAS), 2)
            if t3 > 0
            else None
        )
        results[f"{name}@segments"] = {
            "sec_1x": t1,
            "sec_3x": t3,
            "sec_10x": t10,
            "exponent_1x_3x": e_lo,
            "exponent_3x_10x": e_hi,
            "note": "expected shape: early segment low (fixed-cost "
            "amortization), later segment ~1.0 (linear groupBy); later "
            "segment >> 1 would mean genuine super-linear acceleration",
        }
        print(
            f"# {name}: {t1}s -> {t3}s -> {t10}s (e 1x->3x {e_lo}, 3x->10x {e_hi})",
            file=sys.stderr,
            flush=True,
        )
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in results.items() if "@segments" in k}))


PROBE_BATCH_DOCS = 32  # small fixed batch: the continuous-ingest shape
PROBE_BKTS_1X = 256  # bucket count scales with the store (constant
PROBE_BKTS_10X = 2560  # rows/bucket — the production compaction policy)


def run_probe() -> None:
    """Per-epoch probe cost of the incremental signature stores grows
    with the BATCH, not the store (round-8 verdict item 1's 'Done'
    evidence for the MinHash band store; the SimHash Hamming store
    shares the layout and gets the same measurement).

    Protocol, per store family: bulk-load the whole corpus store as
    epoch 0, then ingest one fixed SMALL batch (PROBE_BATCH_DOCS docs)
    as epoch 1, at 1x and 10x store scale with the bucket count scaled
    alongside (constant rows-per-bucket, the policy a production
    compaction holds). Records, per scale: the store row count, the
    rows the pruned probe scan actually considers (the `bkt isin`
    filter the ingest pushes into the store read), and the epoch-1 wall
    time. O(batch) ingest means scanned rows stay ~flat across the 10x
    store step while unpruned rows grow 10x; results merge into
    BENCH_SCALE.json as '<query>@probe'."""
    import shutil
    import tempfile

    build_fixture()  # 10x
    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    from pyspark.sql import functions as F

    from aws_lambda_redshift_loader_spark.operators.dedup import (
        _band_rows,
        _simhash_band_rows,
        _simhash_sigs,
    )
    from aws_lambda_redshift_loader_spark.session import get_spark
    from aws_lambda_redshift_loader_spark.streaming import stream_queries as SQ

    spark = get_spark("scale-bench-probe")

    def neardup_ingest(batch, epoch, base):
        SQ.ingest_neardup_epoch(
            spark, batch, epoch, f"{base}/wh", f"{base}/store", f"{base}/pairs"
        )

    def neardup_bkts(batch):
        return _band_rows(batch).select(SQ._store_bkt().alias("bkt"))

    def simhash_ingest(batch, epoch, base):
        # Fused deferred-delta design: every write skips the in-line
        # delta here; the probe cost of the BATCH is delivered by the
        # flush below (segment write + flush together sum to exactly
        # the per-trigger steady-state cost — without ever paying the
        # corpus self-delta the bulk load would otherwise defer to the
        # timed epoch).
        SQ.ingest_simhash_epoch(
            spark, batch, epoch, f"{base}/store",
            delta_spec=(f"{base}/store", -1),
        )

    def simhash_flush(base, epoch):
        # prev_bkts deliberately omitted: the timing includes the
        # re-derive read a restart would pay — the honest worst case.
        SQ.flush_simhash_delta(spark, f"{base}/store", epoch)

    def simhash_bkts(batch):
        return _simhash_band_rows(_simhash_sigs(batch)).select(
            SQ._sim_bkt().alias("bkt")
        )

    families = (
        ("stream_incremental_neardup", neardup_ingest, neardup_bkts, None),
        ("stream_incremental_simhash", simhash_ingest, simhash_bkts, simhash_flush),
    )
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json")
    payload = {}
    if os.path.exists(path):
        with open(path) as fh:
            payload = json.load(fh)
    results = payload.setdefault("queries", {})

    old_bkts = SQ.INC_STORE_BKTS
    try:
        for qname, ingest, bkts_of, flush in families:
            entry: dict[str, dict] = {}
            for label, sf_dir, n_bkt in (
                ("1x", SRC, PROBE_BKTS_1X),
                ("10x", DST, PROBE_BKTS_10X),
            ):
                SQ.INC_STORE_BKTS = n_bkt
                base = tempfile.mkdtemp(prefix=f"alrs_probe_{label}_")
                store = f"{base}/store"
                docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                    "doc_id", "text"
                )
                # epoch 0: the accumulated corpus (bulk ingest, untimed)
                ingest(docs, 0, base)
                # epoch 1: one small arriving batch (ids shifted clear of
                # the corpus; text unchanged, so candidates genuinely
                # exist)
                batch = (
                    docs.orderBy("doc_id")
                    .limit(PROBE_BATCH_DOCS)
                    .select((F.col("doc_id") + 10**9).alias("doc_id"), "text")
                )
                t0 = time.perf_counter()
                ingest(batch, 1, base)
                if flush is not None:
                    flush(base, 1)
                dt = round(time.perf_counter() - t0, 3)
                # Probe-scan accounting: rows the pruned store read
                # considers vs the full accumulated store (band/bucket
                # rows only for the fused kind-tagged stores).
                bkts = [r[0] for r in bkts_of(batch).distinct().collect()]
                srows = spark.read.parquet(store)
                if "kind" in srows.columns:
                    srows = srows.filter(F.col("kind") == 0)
                scanned = srows.filter(
                    (F.col("epoch") <= 1) & F.col("bkt").isin(bkts)
                ).count()
                total = srows.filter(F.col("epoch") <= 1).count()
                entry[label] = {
                    "sec_epoch": dt,
                    "store_rows": total,
                    "scanned_rows": scanned,
                    "scan_frac": round(scanned / total, 4) if total else None,
                    "buckets": n_bkt,
                }
                print(f"# probe {qname} {label}: {entry[label]}", file=sys.stderr, flush=True)
                shutil.rmtree(base, ignore_errors=True)
            r1, r10 = entry["1x"], entry["10x"]
            results[f"{qname}@probe"] = {
                **{f"{k}_1x": v for k, v in r1.items()},
                **{f"{k}_10x": v for k, v in r10.items()},
                "scanned_ratio": (
                    round(r10["scanned_rows"] / r1["scanned_rows"], 2)
                    if r1["scanned_rows"]
                    else None
                ),
                "store_ratio": (
                    round(r10["store_rows"] / r1["store_rows"], 2)
                    if r1["store_rows"]
                    else None
                ),
                "note": f"fixed {PROBE_BATCH_DOCS}-doc batch vs 1x/10x store, "
                "buckets scaled with store (constant rows/bucket): scanned_ratio "
                "~1 = probe I/O O(batch); store_ratio ~10 is what an unpruned "
                "scan would pay",
            }
        # Warm-start incremental CC (round-9 verdict item 2's 'Done'
        # evidence): per-epoch label maintenance cost tracks the pair
        # DELTA, not the accumulated label store. Protocol mirrors the
        # signature-store probes: bulk-ingest the corpus as epoch 0
        # (pairs + kind-tagged CC store), then time ONLY ingest_cc_epoch
        # for a fixed small arriving batch at 1x and 10x store scale;
        # record the label rows (kind=0) the bucket-and-node-pruned
        # state read considers vs the full store.
        entry = {}
        for label, sf_dir, n_bkt in (
            ("1x", SRC, PROBE_BKTS_1X),
            ("10x", DST, PROBE_BKTS_10X),
        ):
            SQ.INC_STORE_BKTS = n_bkt
            base = tempfile.mkdtemp(prefix=f"alrs_ccprobe_{label}_")
            wh, store, pairs, cc = (
                f"{base}/{d}" for d in ("wh", "store", "pairs", "cc")
            )
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                "doc_id", "text"
            )
            SQ.ingest_neardup_epoch(spark, docs, 0, wh, store, pairs)
            SQ.ingest_cc_epoch(spark, 0, pairs, cc)
            batch = (
                docs.orderBy("doc_id")
                .limit(PROBE_BATCH_DOCS)
                .select((F.col("doc_id") + 10**9).alias("doc_id"), "text")
            )
            SQ.ingest_neardup_epoch(spark, batch, 1, wh, store, pairs)
            t0 = time.perf_counter()
            SQ.ingest_cc_epoch(spark, 1, pairs, cc)
            dt = round(time.perf_counter() - t0, 3)
            # State-scan accounting: rows the pruned label read considers.
            delta = spark.read.parquet(f"{pairs}/epoch=1")
            eps = sorted(
                {
                    r[0]
                    for c in ("doc_a", "doc_b")
                    for r in delta.select(c).distinct().collect()
                }
            )
            bkts = sorted({n % n_bkt for n in eps})
            lab = spark.read.parquet(cc).filter(F.col("kind") == 0)
            scanned = lab.filter(
                (F.col("epoch") < 1)
                & F.col("bkt").isin(bkts)
                & F.col("node").isin(eps)
            ).count()
            total = lab.filter(F.col("epoch") < 1).count()
            entry[label] = {
                "sec_epoch": dt,
                "store_rows": total,
                "scanned_rows": scanned,
                "scan_frac": round(scanned / total, 4) if total else None,
                "buckets": n_bkt,
            }
            print(
                f"# ccprobe stream_incremental_curation {label}: {entry[label]}",
                file=sys.stderr,
                flush=True,
            )
            shutil.rmtree(base, ignore_errors=True)
        r1, r10 = entry["1x"], entry["10x"]
        results["stream_incremental_curation@ccprobe"] = {
            **{f"{k}_1x": v for k, v in r1.items()},
            **{f"{k}_10x": v for k, v in r10.items()},
            "scanned_ratio": (
                round(r10["scanned_rows"] / max(r1["scanned_rows"], 1), 2)
            ),
            "store_ratio": (
                round(r10["store_rows"] / r1["store_rows"], 2)
                if r1["store_rows"]
                else None
            ),
            "sec_ratio": round(r10["sec_epoch"] / r1["sec_epoch"], 2),
            "note": f"fixed {PROBE_BATCH_DOCS}-doc batch vs 1x/10x label store: "
            "per-epoch warm-start CC reads O(delta endpoints) label rows and "
            "runs CC on the delta-projected label graph — sec_epoch and "
            "scanned_rows stay ~flat while store_rows grows ~10x",
        }
    finally:
        SQ.INC_STORE_BKTS = old_bkts

    # Skyline frontier probe (round-12): stream_incremental_skyline
    # claims O(batch + frontier) per epoch with state bounded by the
    # ANSWER size. Bulk-load the whole part dimension as epoch 0 at 1x
    # and 10x, then time one fixed small arriving batch as epoch 1 and
    # record the snapshot row count — flat sec_epoch + frontier-sized
    # snapshots while the dimension grows 10x is the evidence.
    import tempfile as _tf

    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        ingest_skyline_epoch,
    )

    entry = {}
    for label, sf_dir in (("1x", SRC), ("10x", DST)):
        base = _tf.mkdtemp(prefix=f"alrs_skyprobe_{label}_")
        store = f"{base}/store"
        parts = spark.read.parquet(f"{sf_dir}/part.parquet")
        ingest_skyline_epoch(spark, parts, 0, store)
        batch = parts.orderBy("p_partkey").limit(32).select(
            (F.col("p_partkey") + 10**9).alias("p_partkey"),
            "p_name", "p_brand", "p_type", "p_size", "p_retailprice",
        )
        t0 = time.perf_counter()
        ingest_skyline_epoch(spark, batch, 1, store)
        dt = round(time.perf_counter() - t0, 3)
        snap = spark.read.parquet(f"{store}/epoch=1").count()
        corpus = parts.count()
        entry[label] = {
            "sec_epoch": dt,
            "snapshot_rows": snap,
            "corpus_rows": corpus,
        }
        print(f"# skyprobe stream_incremental_skyline {label}: {entry[label]}",
              file=sys.stderr, flush=True)
        import shutil as _sh

        _sh.rmtree(base, ignore_errors=True)
    r1, r10 = entry["1x"], entry["10x"]
    results["stream_incremental_skyline@probe"] = {
        **{f"{k}_1x": v for k, v in r1.items()},
        **{f"{k}_10x": v for k, v in r10.items()},
        "snapshot_ratio": round(r10["snapshot_rows"] / max(r1["snapshot_rows"], 1), 2),
        "corpus_ratio": round(r10["corpus_rows"] / max(r1["corpus_rows"], 1), 2),
        "sec_ratio": round(r10["sec_epoch"] / max(r1["sec_epoch"], 1e-9), 2),
        "note": "fixed 32-row batch vs 1x/10x accumulated dimension: the "
        "epoch reads (previous snapshot + batch) only — snapshot_rows is "
        "frontier-sized and sec_epoch ~flat while the dimension grows 10x",
    }

    # 3-D frontier probe (round-13): same claim for the general-dominance
    # store — bulk-load the whole fact as epoch 0 at 1x and 10x, time one
    # fixed small batch as epoch 1, record the snapshot size.
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        ingest_skyline3d_epoch,
    )

    entry = {}
    for label, sf_dir in (("1x", SRC), ("10x", DST)):
        base = _tf.mkdtemp(prefix=f"alrs_sky3dprobe_{label}_")
        store = f"{base}/store"
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_extendedprice", "l_discount", "l_tax"
        )
        ingest_skyline3d_epoch(spark, li, 0, store)
        batch = li.orderBy("l_orderkey").limit(32).select(
            (F.col("l_orderkey") + 10**9).alias("l_orderkey"),
            "l_extendedprice", "l_discount", "l_tax",
        )
        t0 = time.perf_counter()
        ingest_skyline3d_epoch(spark, batch, 1, store)
        dt = round(time.perf_counter() - t0, 3)
        snap = spark.read.parquet(f"{store}/epoch=1").count()
        corpus = li.count()
        entry[label] = {
            "sec_epoch": dt,
            "snapshot_rows": snap,
            "corpus_rows": corpus,
        }
        print(f"# sky3dprobe stream_incremental_skyline3d {label}: {entry[label]}",
              file=sys.stderr, flush=True)
        import shutil as _sh

        _sh.rmtree(base, ignore_errors=True)
    r1, r10 = entry["1x"], entry["10x"]
    results["stream_incremental_skyline3d@probe"] = {
        **{f"{k}_1x": v for k, v in r1.items()},
        **{f"{k}_10x": v for k, v in r10.items()},
        "snapshot_ratio": round(r10["snapshot_rows"] / max(r1["snapshot_rows"], 1), 2),
        "corpus_ratio": round(r10["corpus_rows"] / max(r1["corpus_rows"], 1), 2),
        "sec_ratio": round(r10["sec_epoch"] / max(r1["sec_epoch"], 1e-9), 2),
        "note": "fixed 32-row batch vs 1x/10x accumulated fact: the epoch "
        "reads (previous snapshot + batch) only under the general dominance "
        "anti-join — snapshot_rows stays frontier-sized at 10x",
    }

    # PRF postings-prune probe (round-11 verdict item 5's 'Done'
    # evidence): bm25_prf_topk claims both passes prune to query-touched
    # postings at scale. Queries are the fixed doc_id < BM25_QUERY_MAX
    # docs (only replica 0 holds those ids, and replica vocabularies are
    # disjoint), so the corpus grows 10x while the query set stays
    # fixed; record the postings each pass's vocabulary semi-join
    # actually admits vs the full corpus posting count.
    from aws_lambda_redshift_loader_spark.operators.text import _prf_frames

    entry = {}
    for label, sf_dir in (("1x", SRC), ("10x", DST)):
        corpus, _doclen, _stats, qterms, expansion = _prf_frames(spark, sf_dir)
        qv = qterms.select("token").distinct()
        ev = qterms.unionByName(expansion).select("token").distinct()
        t0 = time.perf_counter()
        s1 = corpus.join(F.broadcast(qv), "token", "left_semi").count()
        s2 = corpus.join(F.broadcast(ev), "token", "left_semi").count()
        dt = round(time.perf_counter() - t0, 3)
        total = corpus.count()
        entry[label] = {
            "corpus_postings": total,
            "pass1_scanned": s1,
            "pass2_scanned": s2,
            "scan_frac": round((s1 + s2) / (2 * total), 4) if total else None,
            "sec_scans": dt,
        }
        print(f"# prfprobe bm25_prf_topk {label}: {entry[label]}",
              file=sys.stderr, flush=True)
    r1, r10 = entry["1x"], entry["10x"]
    results["bm25_prf_topk@probe"] = {
        **{f"{k}_1x": v for k, v in r1.items()},
        **{f"{k}_10x": v for k, v in r10.items()},
        "scanned_ratio": round(
            (r10["pass1_scanned"] + r10["pass2_scanned"])
            / max(r1["pass1_scanned"] + r1["pass2_scanned"], 1),
            2,
        ),
        "corpus_ratio": (
            round(r10["corpus_postings"] / r1["corpus_postings"], 2)
            if r1["corpus_postings"]
            else None
        ),
        "note": "fixed query set vs 1x/10x corpus: postings admitted by each "
        "pass's vocabulary prune stay ~flat while the corpus grows ~10x — "
        "both PRF passes are inverted-index probes, not corpus scans",
    }

    # Graph-ANN edge-store probe (round-14): insertion's candidate set
    # is the arriving node's probe buckets, so per-epoch cost =
    # arrivals × touched-cell occupancy. The cell count scales with the
    # corpus (constant rows-per-cell — the √N rule a production IVF
    # geometry holds, mirroring the signature stores' bucket scaling),
    # so the pruned store read stays ~flat while the store grows 10x.
    import aws_lambda_redshift_loader_spark.operators.similarity as SIM
    from aws_lambda_redshift_loader_spark.streaming.stream_queries import (
        ingest_gann_epoch,
    )

    entry = {}
    old_cells = SIM.IVF_CELLS
    try:
        for label, sf_dir, n_cells in (("1x", SRC, 64), ("10x", DST, 640)):
            SIM.IVF_CELLS = n_cells
            base = _tf.mkdtemp(prefix=f"alrs_gannprobe_{label}_")
            postings, edges_dir = f"{base}/post", f"{base}/edges"
            emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
                "vec_id", SIM._quantize("embedding").alias("e")
            )
            ids, cent = SIM._kmeans_centroids(spark, emb, SIM.IVF_TRAIN_ITERS)
            # epoch 0: the accumulated corpus (bulk ingest, untimed)
            ingest_gann_epoch(spark, emb, 0, postings, edges_dir, ids, cent)
            # epoch 1: one small arriving batch (ids shifted clear)
            batch = emb.orderBy("vec_id").limit(16).select(
                (F.col("vec_id") + 10**9).alias("vec_id"), "e"
            )
            t0 = time.perf_counter()
            ingest_gann_epoch(spark, batch, 1, postings, edges_dir, ids, cent)
            dt = round(time.perf_counter() - t0, 3)
            bcells = [
                r[0]
                for r in SIM._probe_assign(
                    batch, ids, cent, SIM.GANN_BUILD_PROBE
                ).select("cell").distinct().collect()
            ]
            post = spark.read.parquet(postings)
            scanned = post.filter(
                (F.col("epoch") <= 1) & F.col("cell").isin(bcells)
            ).count()
            total = post.count()
            entry[label] = {
                "sec_epoch": dt,
                "store_rows": total,
                "scanned_rows": scanned,
                "scan_frac": round(scanned / total, 4) if total else None,
                "cells": n_cells,
            }
            print(
                f"# gannprobe stream_incremental_gann {label}: {entry[label]}",
                file=sys.stderr, flush=True,
            )
            import shutil as _sh

            _sh.rmtree(base, ignore_errors=True)
    finally:
        SIM.IVF_CELLS = old_cells
    r1, r10 = entry["1x"], entry["10x"]
    results["stream_incremental_gann@probe"] = {
        **{f"{k}_1x": v for k, v in r1.items()},
        **{f"{k}_10x": v for k, v in r10.items()},
        "scanned_ratio": (
            round(r10["scanned_rows"] / r1["scanned_rows"], 2)
            if r1["scanned_rows"]
            else None
        ),
        "store_ratio": (
            round(r10["store_rows"] / r1["store_rows"], 2)
            if r1["store_rows"]
            else None
        ),
        "note": "fixed 16-vector batch vs 1x/10x postings store, cells "
        "scaled with the corpus (constant occupancy): scanned_ratio ~1 = "
        "insertion reads the arrivals' probe buckets, not the store",
    }

    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in results.items() if k.endswith("probe")}))


def run(spark, specs, sf_dir: str, name: str) -> float:
    # Scale exponents measure each query's FULL cost: clear EVERY
    # session memo (pair graphs, quantizers, splits, store ingests)
    # before the timed run. Every memo lives in the one memos._MEMO
    # dict, so one clear reaches all of them
    # (tests/test_memo_registry.py locks that there is no other).
    from aws_lambda_redshift_loader_spark.memos import clear_session_memos

    clear_session_memos()
    t0 = time.perf_counter()
    specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    spark.catalog.clearCache()
    for tbl in spark.catalog.listTables():
        if tbl.name.startswith("stream_result_"):
            spark.catalog.dropTempView(tbl.name)
    return round(dt, 3)


def main() -> None:
    if "--longdoc" in sys.argv:
        run_longdoc()
        return
    if "--mid" in sys.argv:
        run_midpoint()
        return
    if "--probe" in sys.argv:
        run_probe()
        return
    # Optional query-name args: re-measure a subset (results merge into an
    # existing BENCH_SCALE.json instead of replacing it). --warm adds an
    # untimed 1x warm-up run per query before the timed pair: the
    # session-level pricing_summary warmer does not JIT every plan
    # shape, and on cheap queries the cold 1x run inflates the
    # denominator enough to produce spurious sub-zero exponents (the
    # r16 survival family) or, run warm-last, spurious >1 exponents
    # (community_modularity's 1.08-in-a-warm-sweep-tail artifact).
    warm = "--warm" in sys.argv
    subset = [a for a in sys.argv[1:] if a in QUERIES]
    unknown = [
        a for a in sys.argv[1:] if not a.startswith("--") and a not in QUERIES
    ]
    if unknown:
        # A typo'd subset name silently fell through to a FULL sweep
        # before this guard — fail loud instead.
        sys.exit(f"scale_bench: unknown query names {unknown}")
    build_fixture()

    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    from aws_lambda_redshift_loader_spark.plans.registry import load_all
    from aws_lambda_redshift_loader_spark.session import get_spark

    spark = get_spark("scale-bench")
    specs = load_all()

    # Warm JVM + Python worker daemon.
    specs["pricing_summary"].fn(spark, SRC).write.format("noop").mode("overwrite").save()

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json")
    results: dict[str, dict] = {}
    if subset and os.path.exists(path):
        with open(path) as fh:
            results = json.load(fh).get("queries", {})
    # LSH geometry override runs record under a suffixed key so the
    # default-geometry entry and the scaled-geometry entry coexist.
    key_suffix = (
        f"@bits={os.environ['ALRS_LSH_BITS']}" if os.environ.get("ALRS_LSH_BITS") else ""
    )
    for name in subset or QUERIES:
        if warm:
            print(f"# scale-bench {name} warm-up", file=sys.stderr, flush=True)
            run(spark, specs, SRC, name)
        print(f"# scale-bench {name} @1x", file=sys.stderr, flush=True)
        t1 = run(spark, specs, SRC, name)
        print(f"# scale-bench {name} @10x", file=sys.stderr, flush=True)
        t10 = run(spark, specs, DST, name)
        ratio = round(t10 / t1, 2) if t1 > 0 else None
        results[name + key_suffix] = {
            "sec_1x": t1,
            "sec_10x": t10,
            "ratio": ratio,
            # time ~ size^e  =>  e = log10(t10/t1) for a 10x size step.
            "exponent": round(math.log10(ratio), 2) if ratio and ratio > 0 else None,
        }
        if warm:
            results[name + key_suffix]["warmed"] = True
        print(f"# {name}: {t1}s -> {t10}s (ratio {ratio})", file=sys.stderr, flush=True)

    # The union-find fast path absorbs every fixture-scale edge list, so
    # ALSO measure connected components with the gate disabled — the
    # Pregel loop is the 100 TB path and must keep a scale datapoint.
    if "dedup_connected_components" in (subset or QUERIES):
        from aws_lambda_redshift_loader_spark.operators import dedup as _dd

        old_gate = _dd.CC_LOCAL_EDGE_MAX
        _dd.CC_LOCAL_EDGE_MAX = -1
        try:
            t1 = run(spark, specs, SRC, "dedup_connected_components")
            t10 = run(spark, specs, DST, "dedup_connected_components")
        finally:
            _dd.CC_LOCAL_EDGE_MAX = old_gate
        ratio = round(t10 / t1, 2) if t1 > 0 else None
        results["dedup_connected_components@loop"] = {
            "sec_1x": t1,
            "sec_10x": t10,
            "ratio": ratio,
            "exponent": round(math.log10(ratio), 2) if ratio and ratio > 0 else None,
            "note": "gate disabled: distributed min-label loop (the 100 TB path)",
        }
        print(
            f"# dedup_connected_components@loop: {t1}s -> {t10}s (ratio {ratio})",
            file=sys.stderr, flush=True,
        )

    out = {
        "src": SRC,
        "scale_dir": DST,
        "replicas": REPLICAS,
        "queries": results,
        "note": (
            "10x fixture derived from sf0.1 with replica-disjoint transforms; "
            "expected scaling is linear (exponent ~1); fixed per-query overhead "
            "deflates exponents below 1 on cheap queries"
        ),
    }
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: v.get("ratio") for k, v in results.items()}))


if __name__ == "__main__":
    main()

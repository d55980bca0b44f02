"""Generate PLANS.md: the physical plans representative queries ran.

The scale claims in README §Scale design are plan properties — filters
pushed to the parquet scan, dims broadcast, LSH joins on bucket keys,
no cartesian anywhere. This tool runs one representative query
per family at sf0.1 and dumps the final adaptive plan of every SQL
execution it ran, read from Spark's status store, so a reader can
check the claims against the plans without running anything.

Usage: python tools/gen_plans_md.py   (rewrites PLANS.md)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"

#: query -> what to look for in its plan.
SHOWCASE = {
    "q6_revenue_forecast": (
        "Predicate pushdown: all four filters reach the scan "
        "(PushedFilters), only 4 of 11 columns read (ReadSchema)."
    ),
    "q3_shipping_priority": (
        "Dim broadcast: the filtered customer side becomes a "
        "BroadcastHashJoin; top-10 is TakeOrderedAndProject, not a "
        "global sort."
    ),
    "ref_incremental_antijoin": (
        "The reference's driver-side PK set as a distributed "
        "left-anti join."
    ),
    "dd_minhash_lsh_pairs": (
        "LSH blocking: candidate pairs come from an equi-join on "
        "(band_id, band_key); the exact-Jaccard verify joins touch "
        "candidates only — no corpus×corpus product anywhere."
    ),
    "sim_ivf_topk": (
        "IVF: KB-scale codebook broadcast (the allowlisted BNLJ), "
        "cell-key equi-join for candidates, cosine on candidates only."
    ),
    "txt_unigram_lm_score": (
        "Tokenize→explode feeds the vocabulary aggregate; scoring "
        "rejoins on the token key (broadcast at this scale)."
    ),
    "win_sessionize_events": (
        "Sessionization: one shuffle on user_id shared by the lag "
        "window and the session aggregate."
    ),
    "jn_salted_priority_revenue": (
        "Skew salting: the join key is (orderkey, salt); the salt "
        "explode replicates only the dim side."
    ),
    "txt_bm25_search": (
        "BM25: broadcast semi-join restricts the token stream to the "
        "query terms; the 1-row (N, A) total is the only BNLJ; top-k "
        "is TakeOrderedAndProject."
    ),
    "sim_ivfpq_search": (
        "IVFADC: the encoding distance table is reused as the ADC "
        "lookup — scoring is one equi-join on (query, subspace, code) "
        "plus a partial-aggregated sum; candidate raw vectors never "
        "reload."
    ),
    "graph_kcore": (
        "k-core peel round: two id-only semi-joins against the cached "
        "edge list and a map-side-combinable degree count; "
        "localCheckpoint truncates lineage per round."
    ),
    "smp_curriculum_phases": (
        "Tercile banding WITHOUT a global NTILE sort: value-histogram "
        "aggregate, small-window rank-crossing, 1-row boundary "
        "broadcast back onto the doc stream."
    ),
    "asof_nearest_order_to_event": (
        "Nearest as-of: ONE user_id shuffle + sort feeds both the "
        "carry-back and carry-forward window passes — never an "
        "inequality join."
    ),
    "ld_zorder_code": (
        "Morton interleave is pure codegen'd integer bit-arithmetic — "
        "a single WholeStageCodegen over the scan, zero exchanges."
    ),
    "flt_bloom_prefilter": (
        "Bloom probe: two BroadcastHashJoins against the 64-row word "
        "table; the filter build aggregates bit_or map-side."
    ),
    "jn_basket_brand_pairs": (
        "Market-basket pairs via the array rewrite: one groupBy builds "
        "per-order baskets, pairs explode from each basket's own "
        "greater-than suffix — no basket-table self-join anywhere."
    ),
    "sk_countmin_heavy_hitters": (
        "Count-min census: the (seed, bucket) tables are map-side-"
        "combined aggregates re-joined as broadcasts; the token scan "
        "happens once."
    ),
    "sim_matryoshka_audit": (
        "Multi-resolution retrieval audit: all four prefix cosines are "
        "computed on ONE broadcast-join pass over the corpus; the four "
        "top-1 windows read the persisted scored table, not the scan."
    ),
    "smp_dsir_importance": (
        "DSIR weights: target and corpus unigram models come from one "
        "tokenize pass (conditional count in a single groupBy); scoring "
        "is a token-to-vocab equi-join, AQE-broadcastable at scale."
    ),
    "sim_pq_audit": (
        "Product quantization: the KB-scale subspace codebook re-joins "
        "as a broadcast; encoding is one narrow pass and the distortion "
        "audit is map-side-combinable — the corpus never self-joins."
    ),
    "graph_link_prediction": (
        "Blocked link prediction: wedges explode from per-node in-block "
        "adjacency arrays (bounded by block density), candidates "
        "anti-join the edge list; no unblocked wedge space anywhere."
    ),
    "ts_interval_union_coverage": (
        "Interval union as windows: one shuffle on user_id serves the "
        "running-max flag, the island numbering, and the final "
        "aggregate — no interval self-join."
    ),
    "agg_bitmap_distinct_users": (
        "Bitmap distinct: bit_or words partial-aggregate map-side; no "
        "distinct value set ever crosses the exchange."
    ),
    "win_attribution_last_touch": (
        "Attribution in one window pass: ignore-nulls last() over "
        "(user, time) replaces the as-of self-join; one user_id "
        "shuffle, then a channel-census reduce."
    ),
    # -- round 4 ----------------------------------------------------------
    "sim_ann_band_lsh": (
        "Capped band-LSH: one explode to (band, code) structs, the "
        "md5-ranked hot-bucket cap as a window on the SAME (band, code) "
        "key the candidate self-join shuffles on (no extra exchange), "
        "cosine on candidates only."
    ),
    "sim_ivfpq_residual": (
        "Residual IVFADC: broadcast Lloyd codebook for assignment, "
        "residuals via zip_with (no exploded dim join), the per-cell "
        "ADC table from one broadcast codeword join + hash aggregate, "
        "candidate scoring as an equi-join on (query, cell, m, k)."
    ),
    "graph_connected_components": (
        "Hash-to-min CC round: label vector joins the checkpointed "
        "edge list on src, min-per-dst is a map-side-combinable hash "
        "aggregate; no window, no sort."
    ),
    "txt_bpe_merge_census": (
        "BPE pair census: corpus collapses to the word vocabulary "
        "FIRST (hash aggregate), pair expansion runs over vocab rows "
        "only; top-N is TakeOrderedAndProject, not a global sort."
    ),
    "sk_kmv_distinct": (
        "KMV sketch: distinct (event_type, user_id) reduce, then a "
        "per-group top-k window over hash order statistics — "
        "partition-local min-k merge at scale."
    ),
    "agg_variance_decomposition": (
        "ANOVA from sufficient statistics: one map-side-combinable "
        "pass to a |groups|-row (n, S, Q) census, scalar decimal "
        "arithmetic after; the fact is scanned exactly once."
    ),
    "jn_time_range_join": (
        "Bin-and-refine interval join: the incident windows explode "
        "into hour bins and join as an EQUI key (BroadcastHashJoin "
        "with the exact range predicate as a residual filter) — no "
        "BroadcastNestedLoopJoin anywhere in the plan."
    ),
    "agg_mann_whitney_u": (
        "Distributed tie-aware ranking: no unpartitioned window over "
        "the fact stream — shard partial sums, an exclusive prefix on "
        "the shard-grain frame, broadcast offsets, per-shard "
        "cumulative windows; U/R/tie sums are one partial-aggregated "
        "pass."
    ),
    "sim_srp_lsh_pairs": (
        "Hyperplane-LSH blocking: the 16-bit SRP signature is a "
        "narrow integer map; candidates come from a self-equi-join on "
        "(band, code) with md5-ranked bucket caps — fan-out bounded "
        "by cap², never corpus²."
    ),
    "dd_containment_pairs": (
        "Pair-emission budget (round 6): qualifying directed pairs "
        "flow through one per-anchor rank window (integer sort key) "
        "that truncates to PAIR_EMIT_BUDGET rows and stamps the exact "
        "overflow — the emitted set is hard-bounded per anchor."
    ),
    "mm_video_bitrate_ladder": (
        "Literal-ladder planning: the rung pick is a CASE expression "
        "inside whole-stage codegen — a metadata-only scan plus one "
        "tiny-key aggregate; no join, payload column never read."
    ),
    # -- round 7 ----------------------------------------------------------
    "pack_token_budget": (
        "Shard-parallel prefix sum (round 7): per-(source, doc_id div "
        "4096) partials reduce map-side, the exclusive prefix runs over "
        "the shard-grain frame only, and the offsets re-join as a "
        "BROADCAST — no per-source serial window anywhere; parallelism "
        "is sources × N/span."
    ),
    "fn_sql_table_function": (
        "SQL table function through LATERAL: the correlated aggregate "
        "body decorrelates into a LeftOuter hash join against the "
        "grouped orders — the TVF costs the same as the hand-written "
        "join; no nested loop, no per-row re-scan."
    ),
    # -- round 8 ----------------------------------------------------------
    "win_customer_spend_quartiles": (
        "Value-sharded global ranking (round 8): ntile/percent_rank/"
        "cume_dist derive from a row_number computed with the two-pass "
        "prefix plan — the big window partitions by _shard, the only "
        "single-task stage is the N/span shard-grain offsets frame, "
        "offsets return via BroadcastExchange, and the scalar n is a "
        "1-row broadcast; no unpartitioned window over the "
        "fact-proportional customer grain. This dump FORCES the sharded "
        "path (SPARK_GRAFT_SMALL_FRAME_ROWS=0): since round 9 a runtime "
        "probe takes the plain-window fast path when the frame fits one "
        "task (sf0.1's 15k customers would), with identical output."
    ),
    "fn_variant_shred": (
        "VARIANT shredding: parse_json + four typed path extractions "
        "run inside one WholeStageCodegen project over the scan — no "
        "shuffle, no UDF, heterogeneous shapes handled by missing-path "
        "NULLs rather than a fixed schema."
    ),
    # -- round 11/12 ------------------------------------------------------
    "graph_label_propagation": (
        "LPA round plans (round 11 rework; each round is its own "
        "checkpointed execution): the decimal-packed argmax keeps BOTH aggregations in "
        "whole-stage-codegen HashAggregate (no SortAggregate anywhere) "
        "and ONE repartition(src) exchange per round satisfies both "
        "groupBys; pinned by "
        "test_plan_audit.py::test_lpa_rounds_stay_hashaggregate_single_exchange."
    ),
    "sk_hash_sample_quantiles": (
        "Mergeable hash-sample quantile sketch: the sample side is the "
        "same rank window over an 8x smaller frame behind a pushed-down "
        "deterministic md5 filter; both windows ride one event_type "
        "partitioning."
    ),
    "rng_type_burst_neighbors": (
        "Symmetric band join: bounded 3-bucket explode + (type, bucket) "
        "equi-join with the exact microsecond predicate — never a theta "
        "join; DECIMAL-exact neighbor value mass."
    ),
    "asof_next_purchase_tolerance": (
        "Forward as-of with tolerance (round 12): union-merge — ONE "
        "user_id shuffle + per-user sort, first(ignorenulls) over the "
        "FOLLOWING frame; no inequality join, tolerance is a "
        "post-window projection."
    ),
    "scd2_rebuild_fold_audit": (
        "SCD2 fold-rebuild audit (round 12): the folded dimension "
        "(RDD scan — 7 localCheckpoint-ed key-partitioned merges) "
        "unions the one-shot windowed build into one groupBy census; "
        "the comparison itself adds a single exchange."
    ),
}


def main() -> None:
    # force the sharded rank plan in the dumps: the round-9 small-frame
    # fast path would otherwise replace it at sf0.1 (read at call time
    # since round 10, so import order no longer matters)
    os.environ["SPARK_GRAFT_SMALL_FRAME_ROWS"] = "0"
    from python_sql_etl_project_spark import registry
    from python_sql_etl_project_spark.session import build_spark, ran_plans

    spark = build_spark(app_name="gen-plans", master="local[8]")
    registry.load_all()

    out = [
        "# PLANS — representative physical plans (auto-generated)\n",
        "Regenerate with `python tools/gen_plans_md.py` (sf0.1 inputs). Each\n"
        "query runs to a `noop` sink. For each of its SQL executions\n"
        "(checkpointed rounds included) the plan shown is the\n"
        "final adaptive plan that ran, read from Spark's status store.\n",
    ]
    for name, note in SHOWCASE.items():

        def run():
            df = registry.QUERIES[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            return df

        ran = [p for _, p in ran_plans(spark, run)[1][:-1]]
        blocks = []
        for i, plan in enumerate(ran, 1):
            # trim huge expression lists for readability, keep structure
            lines = [ln if len(ln) <= 320 else ln[:317] + "..." for ln in plan.splitlines()]
            text = "\n".join(lines[:60])
            if len(lines) > 60:
                text += f"\n... ({len(lines) - 60} more lines)"
            blocks.append(f"-- execution {i} of {len(ran)} --\n{text}" if len(ran) > 1 else text)
        plan = "\n\n".join(blocks)
        out.append(f"\n## {name}\n\n{note}\n\n```\n{plan}\n```\n")
        spark.catalog.clearCache()
        print(f"dumped {name}", flush=True)

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()

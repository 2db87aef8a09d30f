"""Regenerate docs/PLANS.md: physical-plan snapshots for headline queries.

Evidence for the scale audit: per query, the simple-mode physical plan plus
the plan-health counters (shuffles, codegen stages, scan schema width).  Run
after plan-affecting changes:

    python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

HEADLINE = [
    "o5_range_flagship",
    "o6_grouped_rows",
    "summarise_pricing",
    "grouping_sets",
    "star_join",
    "topk_per_group",
    "sessionize",
    "asof_join",
    "dedup_minhash",
    "dedup_simhash",
    "cosine_topk",
    "lsh_topk",
    "corpus_clean",
    "sketch_distinct",
    "salted_agg",
    "frame_apply_wmean",
    "tpch_q3",
    "tpch_q5",
    "tpch_q18",
    "contamination",
    "repeated_spans",
    "dup_regions",
    "pipeline_e2e",
    "classifier_score",
    "quantile_prune",
    "budget_mix",
    "bpe_subwords",
    "repetition_signals",
    "salient_terms",
    "merge_upsert",
    "session_agg",
    "hash_split",
    "pack_sequences",
    "dup_clusters",
    "semantic_dedup",
    "slice_prop",
    "profile_events",
    "tpch_q1",
    "tpch_q7",
    "tpch_q10",
    "funnel",
    "ewma_smooth",
    "scd2_history",
    "bm25_topk",
    "hybrid_rrf",
    "pagerank_dups",
    "quantiles_global_coarse",
    "dup_clusters_star",
    "sketch_quantiles",
    "length_buckets",
    "robust_outliers",
    "asof_tolerance",
    "bpe_encode",
    "time_weighted",
    "kmeans_clusters",
    "perceptron",
    "overlap_join",
    "attribution_linear",
    "lm_bigram",
    "winsorize",
    "label_centroids",
    "pii_scrub",
    "histogram",
    "det_sample",
    "tpch_q4",
    "tpch_q6",
    "tpch_q8",
    "tpch_q13",
    "tpch_q19",
    "tpch_q21",
    "tpch_q22",
    "chunk_docs",
    "weighted_sample",
    "shuffle_rows",
    "dedup_against",
    "cohort_retention",
    "ivf_topk_full",
    "tpch_q2",
    "tpch_q9",
    "o4_frame_scale",
    "o5_range_scale",
    "token_entropy",
    "kl_drift",
    "vocab_jaccard",
    "rolling_hll",
    "stream_hll",
    "tpch_q11",
    "tpch_q16",
    "tpch_q20",
    "interval_join",
    "asof_forward",
    "sketch_kll",
    "sketch_theta",
    "skew_join",
    "sketch_topk",
    "scale_features",
    "across_agg",
    "lm_surprisal",
    "incremental_rollup",
    "stratified_mix",
    "ivf_topk",
    "dedup_embedding_lsh",
    "fk_orphans",
    "interval_merge",
    "window_distinct",
    "mode_per_key",
    "rolling_corr",
    "bucketed_join",
    "regr_by_key",
    "schema_evolution",
    "pricing_decimal",
    "temperature_mix",
    "eval_auc",
    "calibration_bins",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from tidier_spark.plans import (
        codegen_stage_count,
        count_exchanges,
        explain_str,
        read_schema,
    )
    from tidier_spark.session import session

    spark = session(
        cpus=8,
        app_name="dump-plans",
        extra_conf={
            # AQE re-plans at runtime (and is ON in prod configs); for the
            # SNAPSHOT we want the static plan with visible codegen spans.
            "spark.sql.adaptive.enabled": "false",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    lines = [
        "# PLANS — physical-plan snapshots (auto-generated)",
        "",
        f"Generated by `python scripts/dump_plans.py {sf_dir}`. Per headline",
        "query: shuffle count, whole-stage-codegen stage count, columns read",
        "from the first scan, and the simple-mode physical plan.  The scale",
        "argument per operator lives in docs/SCALE.md; this file is the",
        "evidence that the plans actually have the claimed shape.",
        "",
    ]
    for name in HEADLINE:
        fn = qs.get(name)
        if fn is None:
            continue
        try:
            df = fn(spark, sf_dir)
        except Exception as e:  # pragma: no cover — keep the doc generable
            lines += [f"## {name}", "", f"ERROR building plan: {e}", ""]
            continue
        plan = explain_str(df, "simple").rstrip()
        lines += [
            f"## {name}",
            "",
            f"- shuffles (Exchange): **{count_exchanges(df)}**",
            f"- whole-stage codegen stages: **{codegen_stage_count(df)}**",
            f"- first-scan columns: `{', '.join(read_schema(df)) or '(non-scan root)'}`",
            "",
            "```",
            plan,
            "```",
            "",
        ]
    out = "docs/PLANS.md"
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(lines)} lines)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

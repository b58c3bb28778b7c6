"""Per-query profile of the 84 ``bench.py`` headline queries, and the
stratified subset that ``query_suite`` runs.

    python3 perfbench/profile_queries.py          # profile, then select
    python3 perfbench/profile_queries.py --select # select from the saved profile

Profiling runs every headline query on the tables ``query_suite``
generates (``gen.query_tables`` at ``queries.LINEITEM_ROWS``), in one
session with the engine's defaults: once cold, once under a profiler
that records which ``operators.*`` modules the query's Python code
reaches, then twice warm (the faster kept), each with its own job
group, so the status store gives its jobs, stages and Python-worker
time. The profile is written to ``perfbench/query_profile.json``.

Selection (``select``): the 84, ordered by warm time, slowest first,
are split into ``STRATA`` strata of equal count. Each stratum keeps one
query, chosen greedily, stratum by stratum: first the query that
reaches the most ``operators.*`` modules no kept query reaches yet,
then the one whose Python-boundary status keeps the subset's boundary
share closest to the 84's, then the one closest to the stratum's
median warm time; names break ties. The control query is never kept.
``STRATA`` is set by the run budget (README.md). The result is frozen
in ``queries.QUERIES``; rerunning the selection on a new profile shows
whether it still holds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
if __name__ == "__main__":
    sys.path[0] = os.path.dirname(HERE)

from perfbench import gen, queries  # noqa: E402

PROFILE = os.path.join(HERE, "query_profile.json")
STRATA = 4

# The 84 bench.py headline queries, frozen here. The last four are the
# bench-only callables of queries.llmdata; the rest are registered.
HEADLINE = (
    "pricing_summary", "regional_revenue", "warehouse_metrics", "latest_per_key",
    "snapshot_join", "union_dedup_keeplast", "tumbling_window_agg", "session_windows",
    "asof_join", "ewma_per_key", "dedup_exact", "text_stats", "ngram_jaccard_pairs",
    "dedup_minhash_lsh", "dedup_simhash", "cosine_topk", "sequence_packing",
    "shard_assignment", "corpus_curation", "min_cost_supplier", "unigram_logprob",
    "dup_cluster_keep", "forecast_revenue", "market_share", "waiting_suppliers",
    "incident_window_join", "char_entropy", "tfidf_topterms", "heavy_hitters",
    "data_quality_report", "incremental_agg_merge", "snapshot_diff_feed",
    "winsorized_stats", "duplicated_spans", "pii_redact", "quarantine_rows",
    "image_decode_stats", "audio_decode_stats", "image_resize_stats",
    "stream_stream_join_twin", "decontaminate", "decontaminate_bloom",
    "bigram_logprob", "embedding_quantize", "scd2_history", "fuzzy_levenshtein_pairs",
    "oov_rate", "mixture_rebalance", "feature_hashing", "dedup_keep_best",
    "anomaly_mad", "semantic_dedup", "source_overlap", "event_transitions",
    "pmi_collocations", "decayed_engagement", "beta_per_key", "containment_pairs",
    "decontaminate_fuzzy", "ohlc_bars", "psi_drift", "ks_drift", "bpe_merge_pairs",
    "negative_sampling", "acf_per_key", "k_anonymity", "temperature_mix",
    "source_quota_cap", "key_skew_audit", "video_frame_stats", "reservoir_per_group",
    "dataset_split", "ngram_novelty", "lang_mismatch_audit", "table_profile",
    "benford_audit", "percentile_normalize", "gini_per_key", "png_decode_stats",
    "dedup_minhash_cross",
    "cosine_ann_lsh_raw", "cosine_ann_ivf_raw", "corpus_dedup_pipeline",
    "media_curation_pipeline",
)


def headline_fns() -> dict:
    from b3_analytics_engine_spark.queries import llmdata, registry

    reg = registry()
    return {n: reg[n].fn if n in reg else getattr(llmdata, n) for n in HEADLINE}


def operator_modules(spark, fn, tables: str) -> list[str]:
    """``operators.*`` modules whose functions run in this process while
    the query is built and forced."""
    import b3_analytics_engine_spark.operators as ops

    root = os.path.dirname(ops.__file__) + os.sep
    seen = set()

    def prof(frame, event, arg):
        if event == "call" and frame.f_code.co_filename.startswith(root):
            seen.add(os.path.basename(frame.f_code.co_filename)[:-3])

    sys.setprofile(prof)
    try:
        fn(spark, tables).write.format("noop").mode("overwrite").save()
    finally:
        sys.setprofile(None)
    seen.discard("__init__")
    return sorted(seen)


def profile(work: str) -> dict:
    from b3_analytics_engine_spark.session import get_spark

    from perfbench.accounting import SparkAccounting

    tables = os.path.join(work, "tables")
    gen.query_tables(tables, queries.LINEITEM_ROWS)
    spark = get_spark(app_name="perfbench-profile")
    acct = SparkAccounting(spark)
    sc = spark.sparkContext
    fns = headline_fns()

    def timed(name, fn, tag):
        group = f"{tag}:{name}"
        sc.setJobGroup(group, group, False)
        try:
            t = time.perf_counter()
            fn(spark, tables).write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tot = acct.totals(group)
        py = acct.python_worker_s(group)
        return {"wall_s": wall, "jobs": tot["jobs"], "stages": tot["stages"],
                "python_run_s": py["run"]}

    try:
        timed(queries.CONTROL, fns[queries.CONTROL], "warmup")
        queries.release_caches(spark)
        out = {}
        for name in HEADLINE:
            fn = fns[name]
            cold = timed(name, fn, "cold")
            mods = operator_modules(spark, fn, tables)
            warm = min((timed(name, fn, f"warm{i}") for i in range(2)),
                       key=lambda r: r["wall_s"])
            queries.release_caches(spark)
            out[name] = {
                "cold_s": round(cold["wall_s"], 3),
                "warm_s": round(warm["wall_s"], 3),
                "jobs": warm["jobs"],
                "stages": warm["stages"],
                "python_boundary": cold["python_run_s"] > 0 or warm["python_run_s"] > 0,
                "operators": mods,
            }
            print(name, out[name], flush=True)
    finally:
        spark.stop()
    return {"lineitem_rows": queries.LINEITEM_ROWS, "spark_version": spark.version,
            "nproc": len(os.sched_getaffinity(0)), "queries": out}


def select(prof: dict) -> dict:
    """The stratified subset and what it covers (module docstring)."""
    q = prof["queries"]
    names = sorted(q, key=lambda n: (-q[n]["warm_s"], n))
    total = sum(q[n]["warm_s"] for n in names)
    strata = [names[i * len(names) // STRATA:(i + 1) * len(names) // STRATA]
              for i in range(STRATA)]
    boundary_share = sum(q[n]["python_boundary"] for n in names) / len(names)
    kept: list[str] = []
    for stratum in strata:
        med = sorted(q[n]["warm_s"] for n in stratum)[len(stratum) // 2]
        covered = {m for k in kept for m in q[k]["operators"]}
        n_b = sum(q[k]["python_boundary"] for k in kept)

        def key(n):
            share = (n_b + q[n]["python_boundary"]) / (len(kept) + 1)
            return (-len(set(q[n]["operators"]) - covered),
                    abs(share - boundary_share),
                    abs(q[n]["warm_s"] - med), n)

        kept.append(min((n for n in stratum if n != queries.CONTROL), key=key))
    all_mods = sorted({m for n in names for m in q[n]["operators"]})
    kept_mods = sorted({m for n in kept for m in q[n]["operators"]})
    return {
        "queries": kept,
        "strata": strata,
        "warm_share": sum(q[n]["warm_s"] for n in kept) / total,
        "cold_share": sum(q[n]["cold_s"] for n in kept) / sum(q[n]["cold_s"] for n in names),
        "python_boundary_share": {"headline": boundary_share,
                                  "kept": sum(q[n]["python_boundary"] for n in kept) / len(kept)},
        "operators": {"headline": all_mods, "kept": kept_mods,
                      "not_reached": sorted(set(all_mods) - set(kept_mods))},
        "warm_total_s": total,
        "cold_total_s": sum(q[n]["cold_s"] for n in names),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--select", action="store_true",
                    help="only select, from the saved profile")
    args = ap.parse_args(argv)
    if not args.select:
        from perfbench.run import isolate_scratch

        work = os.path.join(HERE, ".work", f"profile-{os.getpid()}")
        os.makedirs(work)
        try:
            isolate_scratch(work)
            prof = profile(work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        with open(PROFILE, "w") as f:
            json.dump(prof, f, indent=1, sort_keys=True)
    with open(PROFILE) as f:
        prof = json.load(f)
    sel = select(prof)
    print(json.dumps(sel, indent=1))
    if tuple(sel["queries"]) != queries.QUERIES:
        print(f"selection differs from queries.QUERIES {queries.QUERIES}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())

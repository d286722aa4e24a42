"""Benchmark harness — prints ONE JSON line for the driver.

Times (a) each headline query from the registry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and (b) the end-to-end
parse→match→enrich→route→aggregate pipeline over a deterministically
generated corpus (SPARK_GRAFT_BENCH_DOCS docs, default 500k ≈ 4.5M
lines), reporting docs/sec. Every timing goes through
loganalyzer_spark/measure.py.

Runs on local[$SPARK_GRAFT_CPUS] (default all cores).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pipeline_routed",
    "pipeline_sink_ecm",
    "template_occurrences",
    "parse_mask",
    "sliding_window_counts",
    "tumbling_window_stats",
    "sessionize_events",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "region_revenue",
    "topk_orders_per_priority",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # 500k docs ≈ 4.5M lines: big enough that the measured pass (~7 s)
    # dominates fixed per-job overheads, small enough to stay quick.
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "500000"))

    from pyspark.sql import DataFrame

    from loganalyzer_spark import measure, pipeline
    from loganalyzer_spark import queries as qmod
    from loganalyzer_spark.session import get_spark
    from tools.ladder import ensure_corpus

    # End-to-end input: the input_hint-shaped pages corpus (url,
    # warc_ts, html, text, lang), staged once before this JVM starts;
    # synthesis cost is excluded from the measured DAG.
    corpus = ensure_corpus("pages", n_docs)
    spark = get_spark(app="loganalyzer_spark_bench")
    probe_cold, probe_start, warm_wait_s = measure.wait_healthy()

    registry = qmod.queries()
    timings: dict[str, float] = {}
    q_probe_min: dict[str, float] = {}
    q_policy: dict[str, str] = {}
    # ONE shared warm for the whole bench: the flagship DAG touches
    # every dim table, the fact scans, and the session's first-job
    # costs (hadoop conf broadcast, scan codegen, JIT ramp). Per-plan
    # cold-compile of the OTHER queries lands in each query's first
    # timed rep, which the timing policy discards.
    registry[HEADLINE[0]](spark, sf_dir).count()
    for name in HEADLINE:
        if name not in registry:
            continue
        # count(), not materialize: the headline number must stay
        # comparable round over round, and these queries' expensive
        # columns feed joins/aggregates the count still requires
        t = measure.timed(lambda: registry[name](spark, sf_dir), DataFrame.count)
        timings[name] = round(t.wall, 3)
        q_probe_min[name] = min(t.probes)
        q_policy[name] = "median" if t.healthy else "best_of_one_sided_noise"

    pages = spark.read.parquet(corpus)

    def build_agg():
        routed = pipeline.routed_from_pages(spark, pages)
        return pipeline.sink_aggregates(routed, "1 minute")

    e2e = measure.timed(build_agg, DataFrame.count)
    timings["pipeline_e2e"] = round(e2e.wall, 3)
    # Fully materialized e2e (hash every output column): count() on the
    # final aggregate prunes the aggregate VALUE expressions, so the
    # count-based headline slightly understates the full-output cost.
    # Published alongside, not in the headline total.
    mat = measure.timed(build_agg)

    total = sum(timings.values())
    out = {
        "metric": "headline_queries_plus_e2e_pipeline_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "e2e_docs": n_docs,
        "e2e_docs_per_sec": round(n_docs / e2e.wall, 1),
        "e2e_docs_per_sec_materialized": round(n_docs / mat.wall, 1),
        "e2e_wall_materialized_sec": round(mat.wall, 3),
        "e2e_mat_run_walls_sec": [round(w, 3) for w in mat.walls],
        "e2e_mat_run_probes_mb_s": mat.probes,
        "e2e_mat_policy": "median3" if mat.healthy else "best_of_runs_one_sided_noise",
        "e2e_agg_groups": e2e.rows,
        "cores": os.environ.get("SPARK_GRAFT_CPUS", "all"),
        "host": measure.host_stamp(),
        # Probe sampled before AND after: the hazard can strike mid-run
        # (observed: 2114 MB/s at launch, 26 MB/s at the end), so the
        # headline health field is the conservative min of the two.
        "host_first_touch_mb_s": min(probe_start, probe_end := measure.first_touch_mb_s()),
        # the first reading, before wait_healthy waited out a degraded host
        "host_first_touch_mb_s_cold": probe_cold,
        "host_first_touch_mb_s_start": probe_start,
        "host_warm_wait_s": warm_wait_s,
        "host_first_touch_mb_s_end": probe_end,
        "e2e_run_walls_sec": [round(w, 3) for w in e2e.walls],
        "e2e_run_probes_mb_s": e2e.probes,
        "e2e_policy": "median3" if e2e.healthy else "best_of_runs_one_sided_noise",
        # Per-headline-query health: min per-run probe + settle policy,
        # so a slow reading is attributable to host paging vs the plan.
        "query_probe_min_mb_s": q_probe_min,
        "query_policy": q_policy,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()

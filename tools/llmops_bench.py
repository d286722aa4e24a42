"""Scale-behavior timings for the LLM training-data operator tier.

Times the registered dedup / quality / web-prep / packing queries at a
given SF dir (default sf0.1 — 10x the correctness-gate corpus) with
``measure.timed``'s probe-gated fresh-plan policy, and rewrites
BENCH/LLMOPS.md. These queries are NOT in bench.py's headline set (the
driver's round-over-round number must stay comparable), so this file
is their published scale evidence.

Usage: python tools/llmops_bench.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "dedup_exact",
    "minhash_lsh_near_dups",
    "near_dup_survivors",
    "simhash_fingerprints",
    "repeated_passages",
    "embedding_near_dups_lsh",
    "embedding_cosine_topk_ivf",
    "quality_filter",
    "lang_id",
    "doc_fingerprints",
    "pii_redaction",
    "latest_crawl_per_url",
    "benchmark_decontam",
    "lm_perplexity",
    "dsir_importance_weights",
    "c4_clean_docs",
    "sequence_packing",
    "corpus_sample_rows",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from loganalyzer_spark import measure
    from loganalyzer_spark import queries as qmod
    from loganalyzer_spark.session import get_spark

    spark = get_spark(app="llmops_bench")
    registry = qmod.queries()

    # shared warm: touch the two fact tables the tier reads
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    # the host's first-touch rate is routinely degraded for the first
    # minute of a session; wait it out before the first row is timed
    probe_start = measure.wait_healthy()[1]

    rows = []
    for name in QUERIES:
        # materialize, not count(): count() lets Catalyst prune the
        # operator under test
        t = measure.timed(lambda: registry[name](spark, sf_dir))
        r = {
            "query": name,
            "wall_s": round(t.wall, 3),
            "rows": t.rows,
            "policy": "median3" if t.healthy else "best_of_one_sided_noise",
            "probe_min_mb_s": min(t.probes),
            "all_walls_s": [round(w, 3) for w in t.walls],
        }
        rows.append(r)
        print(f"{name}: {r['wall_s']:.3f}s rows={r['rows']} ({r['policy']})",
              flush=True)

    out = {
        "sf_dir": sf_dir,
        "host_probe_start_mb_s": probe_start,
        "host_probe_end_mb_s": measure.first_touch_mb_s(),
        "results": rows,
    }
    spark.stop()

    md = [
        "# BENCH/LLMOPS — training-data operator tier at "
        + sf_dir.rstrip("/").rsplit("/", 1)[-1],
        "",
        "Probe-gated fresh-plan timings (measure.timed: median of 3 on",
        "healthy per-run probes, best-of under the one-sided host paging",
        "hazard; every rep's wall published). Timed action hashes every",
        "output column (measure.materialize) so Catalyst cannot prune",
        "the operator under test — plain count() timings lied for the",
        "scan-shaped ops (ADVICE r4). These operators are the",
        "dedup / quality / web-prep / packing tier the headline bench",
        "doesn't cover; correctness for each is the exact-hash oracle",
        "gate (COVERAGE.md).",
        "",
        "| query | wall (s) | rows | policy | probe min (MB/s) | all walls (s) |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        md.append(
            f"| {r['query']} | {r['wall_s']} | {r['rows']} | {r['policy']} "
            f"| {r['probe_min_mb_s']} | {r['all_walls_s']} |"
        )
    md += ["", "```json", json.dumps(out), "```", ""]
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "LLMOPS.md",
    )
    with open(path, "w") as f:
        f.write("\n".join(md))
    print("wrote", path)


if __name__ == "__main__":
    main()

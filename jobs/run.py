"""spark-submit entry point: time one target on a fresh JVM.

    spark-submit --master local[N] --py-files dist/loganalyzer_spark.zip \
        jobs/run.py <target> <input>

Targets over a staged parquet ``<input>`` (see tools/ladder.py):
  pipeline  pages → parse → mask → match → enrich → route → sink ECM
  routed    the same chain without the aggregate (no exchange)
  c4        C4 lines → c4_clean
  dsir      docs → dsir_weights
  pack      (doc_id, n_tok) → pack_sequences
  minhash   docs → MinHash LSH candidate pairs
Bare-kernel targets (no project operators; ``<input>`` is a row
count), the host's own scaling ceiling:
  md5       md5 over spark.range (ALU-bound)
  regex     regexp_replace over generated strings (memory-bound)

Runs one settle action, then ``measure.timed``, and prints one
``RESULT {json}`` line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def builder(spark, target: str, inp: str):
    """(build, rows_in): a fresh-plan factory and its input row count."""
    from loganalyzer_spark import pipeline
    from loganalyzer_spark.operators import dedup, pack, parse, web

    if target in ("md5", "regex"):
        n = int(inp)
        ids = spark.range(0, n, 1, spark.sparkContext.defaultParallelism * 8)
        if target == "md5":
            return lambda: ids.select(F.md5(F.col("id").cast("string"))), n
        s = F.concat(
            F.lit("usr="), F.col("id").cast("string"),
            F.lit(" ip=10.0."), (F.col("id") % 255).cast("string"),
            F.lit(".7 path=/a/b/c?q="), F.md5(F.col("id").cast("string")),
        )
        t = F.regexp_replace(
            F.regexp_replace(s, r"\d+\.\d+\.\d+\.\d+", "<ip>"), r"[0-9a-f]{32}", "<hash>"
        )
        return lambda: ids.select(t.alias("t")), n
    src = spark.read.parquet(inp)
    ops = {
        "pipeline": lambda: pipeline.sink_aggregates(pipeline.routed_from_pages(spark, src)),
        "routed": lambda: pipeline.routed_from_pages(spark, src),
        "c4": lambda: web.c4_clean(src),
        "dsir": lambda: web.dsir_weights(src),
        "pack": lambda: pack.pack_sequences(src, ctx_len=2048, shards=64),
        "minhash": lambda: dedup.lsh_candidate_pairs(dedup.minhash_signatures(src)),
    }
    if target not in ops:
        raise SystemExit(f"unknown target {target!r}")
    return ops[target], src.count()


def main() -> None:
    target, inp = sys.argv[1], sys.argv[2]
    spark = SparkSession.builder.appName(f"run_{target}").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    from loganalyzer_spark import measure

    build, rows_in = builder(spark, target, inp)
    sc = spark.sparkContext
    # settle: every executor runs a task, so the status tracker lists
    # the full roster (registration precedes getExecutorInfos)
    spark.range(0, 1_000_000, 1, sc.defaultParallelism * 4).agg(F.max("id")).collect()
    # local-cluster executors register asynchronously: a run can execute
    # on fewer executors than configured, so record how many it had
    n_exec = max(0, len(sc._jsc.sc().statusTracker().getExecutorInfos()) - 1)
    t = measure.timed(build)
    print("RESULT " + json.dumps({
        "target": target,
        "rows_in": rows_in,
        "rows_out": t.rows,
        "wall_s": round(t.wall, 3),
        "rows_in_per_sec": round(rows_in / t.wall, 1),
        "walls_s": [round(w, 3) for w in t.walls],
        "probes_mb_s": t.probes,
        "healthy": t.healthy,
        "executors_at_run": n_exec,
        # the true task-slot count (local[N] / local-cluster[n,c,m]);
        # defaultParallelism echoes spark.default.parallelism instead
        "master": sc.master,
    }))
    spark.stop()


if __name__ == "__main__":
    main()

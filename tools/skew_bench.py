"""Skew evidence: salted vs naive fan-out sink writes.

The routed stream is heavily skewed (most rows land in the 'normal'
sink; event_ids are Zipfian). A naive repartition("sink_class") before
the per-class write serializes each sink into one writer task — the hot
sink becomes a single-threaded bottleneck. `enrich.write_sinks` salts
the shuffle key so each sink's rows spread over N writer tasks.

Usage: python tools/skew_bench.py [n_docs]
Prints one JSON line with both walls and the speedup.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    from pyspark.sql import functions as F

    from loganalyzer_spark import measure, pipeline
    from loganalyzer_spark.operators import enrich
    from loganalyzer_spark.session import get_spark
    from tools.ladder import ensure_corpus

    corpus = ensure_corpus("pages", n_docs)
    spark = get_spark(app="skew_bench")
    routed = pipeline.routed_from_pages(
        spark, spark.read.parquet(corpus)
    ).select("doc_id", "line_no", "event_id", "severity", "sink_class")
    routed = routed.localCheckpoint(eager=True)  # isolate write cost

    dist = {
        r["sink_class"]: r["count"]
        for r in routed.groupBy("sink_class").count().collect()
    }

    out = "/tmp/loganalyzer_bench/skew_out"

    def naive(df):
        # one writer task per sink: repartition on the raw key
        shutil.rmtree(out, ignore_errors=True)
        df.repartition("sink_class").write.mode("overwrite").partitionBy(
            "sink_class"
        ).parquet(out)

    def salted(df):
        shutil.rmtree(out, ignore_errors=True)
        enrich.write_sinks(df, out, salt_buckets=16)

    results = {
        name: round(measure.timed(lambda: routed, write).wall, 3)
        for name, write in (("naive", naive), ("salted", salted))
    }

    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "rows": sum(dist.values()),
                "sink_distribution": dist,
                "naive_wall_s": results["naive"],
                "salted_wall_s": results["salted"],
                "speedup": round(results["naive"] / results["salted"], 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

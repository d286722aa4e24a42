"""Traced run: per-layer self times and counts, plus Spark's event log.

Spark is lazy, so a span around a call into a layer measures only plan
building. Instead each span runs one action on the cumulative prefix
that ends at its layer and forces only that layer's own output columns;
the layer's self time is the span's duration minus the duration of the
prefix it extends (its parent span). Outputs that branch off the routed
DataFrame (sinks, aggregates, vectors) extend the ``enrich`` prefix;
``scoring`` extends ``aggregate.ecm_vectors``; ``web.dsir`` starts from
the corpus.

Every span sets a Spark job group, so the event log attributes jobs,
tasks, shuffle, spill and GC to it. Spans stay in memory and are
written to one JSON file when the run ends.

The profile covers the whole layer table on every workload's corpus, so
every per-layer metric is measured on every workload. ``spark.*`` come
from one traced run of the workload itself, and ``trace.layer_sum_gap``
sums only the self times of the workload's own layers.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from loganalyzer_spark import datagen, lineage
from loganalyzer_spark.operators import enrich, match, parse, web

from perfbench import corpus as C
from perfbench.workloads import RouteBatch, batch_plans, dsir_docs, score_summary

# Spans whose self time is published, in profile order.
LAYERS = ("parse.scan", "parse.wash", "parse.mask", "match", "enrich",
          "aggregate.sink_ecm", "lineage.sinks", "aggregate.event_counts",
          "aggregate.sliding_counts", "aggregate.ecm_vectors", "scoring", "web.dsir")

# Every per-layer metric with its unit.
METRICS = {
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "parse.wash.drop_ratio": "ratio",
    "match.hit_ratio": "ratio",
    "match.new_templates": "count",
    **{f"enrich.rows_per_sink.{c}": "count" for c in lineage.SINK_CLASSES},
    "aggregate.sink_ecm.groups": "count",
    "scoring.docs_scored": "count",
    "lineage.sinks.bytes_written": "bytes",
    "lineage.sinks.files": "count",
    "web.dsir.jobs": "count",
    "web.dsir.kept": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_disk_bytes": "bytes",
    "spark.gc_s": "s",
    "trace.overhead_s": "s",
    "trace.layer_sum_gap": "s",
}


class Tracer:
    """In-memory spans; each span tags its Spark jobs with the job group
    ``<trace_id>:<span name>``."""

    def __init__(self, spark, trace_id: str):
        self.spark = spark
        self.trace_id = trace_id
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        sc = self.spark.sparkContext
        sc.setJobGroup(self.group(name), name)
        rec = {"trace_id": self.trace_id, "name": name, "parent": parent,
               "start": time.time()}
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def group(self, name: str) -> str:
        return f"{self.trace_id}:{name}"

    def dur(self, name: str) -> float:
        return next(s["dur_s"] for s in self.spans if s["name"] == name)

    def self_s(self, name: str) -> float:
        s = next(s for s in self.spans if s["name"] == name)
        return s["dur_s"] - (self.dur(s["parent"]) if s["parent"] else 0.0)


def _force(df: DataFrame, col: str, *extra) -> dict:
    """Materialize ``col`` of ``df`` (and ``extra`` aggregates)."""
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({col}))").alias("h"),
        *extra,
    ).collect()[0].asDict()


def _dir_bytes_files(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(os.path.getsize(f) for f in files), len(files)


def _chain(tr: Tracer, pages: DataFrame) -> tuple[DataFrame, dict]:
    """The prefix spans scan → wash → mask → match → enrich/route, each
    forcing the one column its layer adds; returns (routed, counts)."""
    spark = pages.sparkSession
    with tr.span("parse.scan"):
        lines = parse.pages_to_lines(pages)
        scanned = _force(lines, "raw")["n"]
    with tr.span("parse.wash", "parse.scan"):
        washed = parse.wash(lines)
        kept = _force(washed, "content")["n"]
    with tr.span("parse.mask", "parse.wash"):
        masked = parse.mask(washed)
        _force(masked, "masked")
    with tr.span("match", "parse.mask"):
        matched = match.match_templates(masked, datagen.templates_df(spark))
        r = _force(matched, "event_id", F.sum(1 - F.col("is_new")).alias("hits"))
    with tr.span("enrich", "match"):
        routed = enrich.route(enrich.enrich_kb(matched, datagen.kb_df(spark)))
        e = _force(routed, "sink_class", *[
            F.sum((F.col("sink_class") == c).cast("long")).alias(c)
            for c in lineage.SINK_CLASSES])
    counts = {
        "parse.wash.drop_ratio": 1.0 - kept / scanned,
        "match.hit_ratio": r["hits"] / r["n"],
        **{f"enrich.rows_per_sink.{c}": e[c] for c in lineage.SINK_CLASSES},
    }
    return routed, counts


def profile(ctx, tr: Tracer, exp: dict) -> tuple[dict, list[str]]:
    """Run every layer span; return (counts, oracle mismatches).

    The prefix chain runs twice and only the second is kept: its plans
    are new to the session, and the first pass pays their code
    generation."""
    bad: list[str] = []

    def check(key: str, got: list[int]) -> None:
        if key in exp and got != exp[key]:
            bad.append(f"trace {key}: got {got} expected {exp[key]}")

    pages = ctx.pages()
    _chain(Tracer(ctx.spark, "warm"), pages)
    routed, counts = _chain(tr, pages)

    RouteBatch().setup(ctx)  # weights trained once per process, bound here
    p = batch_plans(routed, ctx.state["scorer"])
    with tr.span("aggregate.sink_ecm", "enrich"):
        ecm = C.collect_fingerprint(p["ecm"])
    check("ecm", ecm)
    counts["aggregate.sink_ecm.groups"] = ecm[0]
    sink_dir = os.path.join(ctx.work_dir, "trace-sinks")
    with tr.span("lineage.sinks", "enrich"):
        enrich.write_sinks(routed, sink_dir)
    nbytes, nfiles = _dir_bytes_files(sink_dir)
    counts["lineage.sinks.bytes_written"] = nbytes
    counts["lineage.sinks.files"] = nfiles
    with tr.span("aggregate.event_counts", "enrich"):
        check("occurrences", C.collect_fingerprint(p["occurrences"]))
    with tr.span("aggregate.sliding_counts", "enrich"):
        check("sliding", C.collect_fingerprint(p["sliding"]))
    with tr.span("aggregate.ecm_vectors", "enrich"):
        _force(p["vectors"], "vec")
    with tr.span("scoring", "aggregate.ecm_vectors"):
        n_scored, nonfinite, _ = score_summary(p["scores"])
    if nonfinite:
        bad.append(f"trace scoring: {nonfinite} non-finite scores")
    counts["scoring.docs_scored"] = n_scored

    with tr.span("trace.counters", "enrich"):
        counts["match.new_templates"] = routed.agg(
            F.countDistinct(F.when(F.col("is_new") == 1, F.col("event_id")))
        ).collect()[0][0]

    with tr.span("web.dsir"):
        out = web.dsir_weights(dsir_docs(pages))
        row = out.selectExpr(*C.fingerprint_exprs(C.DSIR_COLS, "spark"),
                             "sum(cast(keep AS long)) AS kept").collect()[0]
    check("dsir", [int(row["n"]), int(row["h"])])
    counts["web.dsir.kept"] = row["kept"]
    ctx.spark.catalog.clearCache()
    return counts, bad


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, shuffle write bytes, disk spill, GC."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(group, {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0,
                                      "spill_disk_bytes": 0, "gc_s": 0.0})

    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    acc(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    a = acc(stage_group.get(ev.get("Stage ID"), ""))
                    a["tasks"] += 1
                    a["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                    a["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    return out


def per_layer_metrics(tr: Tracer, counts: dict, groups: dict, own_layers,
                      untraced_wall_s: float) -> dict[str, float]:
    m: dict[str, float] = {f"{name}.self_s": tr.self_s(name) for name in LAYERS}
    m.update(counts)
    m["web.dsir.jobs"] = groups.get(tr.group("web.dsir"), {}).get("jobs", 0)
    wl = groups.get(tr.group("workload"), {})
    for k in ("jobs", "tasks", "shuffle_write_bytes", "spill_disk_bytes", "gc_s"):
        m[f"spark.{k}"] = wl.get(k, 0)
    m["trace.overhead_s"] = tr.dur("workload") - untraced_wall_s
    m["trace.layer_sum_gap"] = sum(tr.self_s(n) for n in own_layers) - untraced_wall_s
    return {k: m[k] for k in METRICS}

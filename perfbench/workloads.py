"""The three benchmark workloads, driven through the package's public API.

Each workload has a corpus size, the oracle outputs it is checked
against, a set-up step, the timed run and the check of a run's result.
A run builds its plan inside the timed window and ends with every
output fully materialized: each result is a fingerprint over all output
columns, never a ``count()`` that Catalyst could prune to the keys.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loganalyzer_spark import datagen, lineage, pipeline, scoring
from loganalyzer_spark.operators import aggregate, enrich, web

from perfbench import corpus as C


@dataclass
class Ctx:
    spark: SparkSession
    pages_dir: str
    work_dir: str
    doc_window: tuple[int, int]
    state: dict = field(default_factory=dict)

    def pages(self, head: bool = False) -> DataFrame:
        """The corpus; ``head`` reads only its first quarter."""
        df = self.spark.read.parquet(self.pages_dir)
        if head:
            lo, hi = self.doc_window
            df = df.filter(F.col("doc_id") < lo + (hi - lo) // 4)
        return df

    @property
    def sink_dir(self) -> str:
        return os.path.join(self.work_dir, "sinks")


def doc_vectors(routed: DataFrame) -> DataFrame:
    """Per-document event-count vectors over the template vocabulary."""
    spark = routed.sparkSession
    return aggregate.ecm_vectors(
        routed.withColumn("cnt", F.lit(1).cast("long")),
        datagen.vocab_df(spark),
        datagen.VOCAB_SIZE,
        keys=("doc_id",),
    )


def batch_plans(routed: DataFrame, scorer) -> dict[str, DataFrame]:
    """route_batch's outputs over one routed DataFrame (sinks aside)."""
    vectors = doc_vectors(routed)
    return {
        "ecm": C.fingerprint_df(aggregate.sink_ecm(routed), C.ECM_COLS),
        "occurrences": C.fingerprint_df(aggregate.event_counts(routed), C.OCC_COLS),
        "sliding": C.fingerprint_df(
            aggregate.sliding_counts(routed, ts="warc_ts", key="event_id"),
            C.SLIDING_COLS,
        ),
        "vectors": vectors,
        "scores": scorer(vectors),
    }


def dsir_docs(pages: DataFrame) -> DataFrame:
    """DSIR input: English pages are the target distribution."""
    return pages.select("doc_id", "text", (F.col("lang") == "en").alias("is_target"))


def score_summary(scored: DataFrame) -> list[int]:
    """[rows, non-finite scores, hash of (doc_id, score)]."""
    row = scored.selectExpr(
        *C.fingerprint_exprs(C.SCORE_COLS, "spark"),
        "sum(CASE WHEN isnan(score_raw) OR abs(score_raw) = double('inf') "
        "OR score_raw IS NULL THEN 1 ELSE 0 END) AS bad",
    ).collect()[0]
    return [int(row["n"]), int(row["bad"] or 0), int(row["h"])]


class Workload:
    """A run fingerprints every plan of ``plans`` and compares each
    fingerprint with the oracle's."""

    name: str
    n_docs: int
    outputs: tuple[str, ...]  # oracle outputs the run is checked against
    layers: tuple[str, ...]  # trace spans this workload itself runs

    def setup(self, ctx: Ctx) -> None:
        pass

    def plans(self, ctx: Ctx) -> dict[str, DataFrame]:
        raise NotImplementedError

    def run(self, ctx: Ctx) -> dict:
        return {k: C.collect_fingerprint(df) for k, df in self.plans(ctx).items()}

    def check(self, ctx: Ctx, got: dict, exp: dict) -> list[str]:
        return _diff(got, exp, self.outputs)


class EcmFlagship(Workload):
    """pages → routed → per-sink ECM: the job every user runs."""

    name = "ecm_flagship"
    n_docs = 40_000
    outputs = ("ecm",)
    layers = ("parse.scan", "parse.wash", "parse.mask", "match", "enrich",
              "aggregate.sink_ecm")

    def plans(self, ctx: Ctx) -> dict[str, DataFrame]:
        routed = pipeline.routed_from_pages(ctx.spark, ctx.pages())
        return {"ecm": C.fingerprint_df(pipeline.sink_aggregates(routed), C.ECM_COLS)}


class RouteBatch(Workload):
    """One production run over one routed DataFrame: sinks, three
    aggregates and per-document scores. Each output re-plans the routed
    pass."""

    name = "route_batch"
    n_docs = 4_000
    outputs = ("ecm", "occurrences", "sliding", "sinks", "docs_scored")
    layers = ("parse.scan", "parse.wash", "parse.mask", "match", "enrich",
              "lineage.sinks", "aggregate.sink_ecm", "aggregate.event_counts",
              "aggregate.sliding_counts", "aggregate.ecm_vectors", "scoring")

    def setup(self, ctx: Ctx) -> None:
        """Train the scorer's weights on the corpus head (once per
        process) and bind them to the current session."""
        if "weights" not in ctx.state:
            routed = pipeline.routed_from_pages(ctx.spark, ctx.pages(head=True))
            labels = routed.groupBy("doc_id").agg(F.max("is_abn").alias("label"))
            train = (
                doc_vectors(routed).join(labels, "doc_id")
                .orderBy("doc_id").select("vec", "label").toPandas()
            )
            ctx.state["weights"] = scoring.train_logreg(
                np.vstack(train["vec"].to_numpy()), train["label"].to_numpy()
            )
        ctx.state["scorer"] = scoring.make_logreg_scorer(ctx.spark, *ctx.state["weights"])

    def plans(self, ctx: Ctx) -> dict[str, DataFrame]:
        routed = pipeline.routed_from_pages(ctx.spark, ctx.pages())
        return {"routed": routed, **batch_plans(routed, ctx.state["scorer"])}

    def run(self, ctx: Ctx) -> dict:
        p = self.plans(ctx)
        enrich.write_sinks(p["routed"], ctx.sink_dir)
        out = {k: C.collect_fingerprint(p[k]) for k in ("ecm", "occurrences", "sliding")}
        out["scores"] = score_summary(p["scores"])
        return out

    def check(self, ctx: Ctx, got: dict, exp: dict) -> list[str]:
        bad = _diff(got, exp, ("ecm", "occurrences", "sliding"))
        sinks = _sink_fingerprints(ctx)
        exp_sinks = {c: exp["sinks"].get(c, [0, 0]) for c in lineage.SINK_CLASSES}
        if sinks != exp_sinks:
            bad.append(f"sinks: got {sinks} expected {exp_sinks}")
        n, nonfinite, h = got["scores"]
        if n != exp["docs_scored"] or nonfinite:
            bad.append(f"scores: {n} rows ({nonfinite} non-finite), "
                       f"expected {exp['docs_scored']}")
        first = ctx.state.setdefault("score_hash", h)
        if h != first:
            bad.append(f"scores: hash {h} differs from the first run's {first}")
        return bad


def _sink_fingerprints(ctx: Ctx) -> dict[str, list[int]]:
    back = ctx.spark.read.parquet(ctx.sink_dir)
    rows = back.groupBy("sink_class").agg(
        *[F.expr(e) for e in C.fingerprint_exprs(C.SINK_COLS, "spark")]
    ).collect()
    got = {r["sink_class"]: [int(r["n"]), int(r["h"])] for r in rows}
    return {c: got.get(c, [0, 0]) for c in lineage.SINK_CLASSES}


class DsirSelect(Workload):
    """DSIR importance weights with English as the target: many short
    driver-controlled jobs over a persisted projection."""

    name = "dsir_select"
    n_docs = 10_000
    outputs = ("dsir",)
    layers = ("web.dsir",)

    def plans(self, ctx: Ctx) -> dict[str, DataFrame]:
        return {"dsir": C.fingerprint_df(web.dsir_weights(dsir_docs(ctx.pages())),
                                         C.DSIR_COLS)}


WORKLOADS = {w.name: w for w in (EcmFlagship(), RouteBatch(), DsirSelect())}


def _diff(got: dict, exp: dict, keys) -> list[str]:
    return [f"{k}: got {got[k]} expected {exp[k]}" for k in keys if got[k] != exp[k]]

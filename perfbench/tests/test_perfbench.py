"""Checks on the benchmark itself, at a few hundred documents per corpus.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import time

import pytest

from perfbench import corpus, host
from perfbench import run as R

N_DOCS = 300


@pytest.fixture(scope="module")
def work():
    # inside the checkout, like every file the benchmark writes
    path = os.path.join(R.WORK, "tests")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


@pytest.fixture(scope="module")
def spark(work):
    host.fit_env(work)
    sp = R._session()
    yield sp
    sp.stop()


def _ctx(spark, work, name, seed):
    from perfbench.workloads import WORKLOADS, Ctx

    wl = WORKLOADS[name]
    pages, exp = corpus.prepare(work, name, seed, N_DOCS, wl.outputs)
    ctx = Ctx(spark, pages, work, tuple(exp["doc_window"]))
    wl.setup(ctx)
    return wl, ctx, exp


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


# Operators each layer leaves in the optimized plan.
LAYER_MARKS = {
    "parse.scan": "posexplode",
    "parse.wash": "regexp_extract",
    "parse.mask": "regexp_replace",
    "match": "zip_with",
    "enrich": "CASE WHEN",
}


@pytest.mark.parametrize("name,output,cols,layers", [
    ("ecm_flagship", "ecm", corpus.ECM_COLS, [*LAYER_MARKS, "window"]),
    ("route_batch", "ecm", corpus.ECM_COLS, [*LAYER_MARKS, "window"]),
    ("route_batch", "occurrences", corpus.OCC_COLS, list(LAYER_MARKS)),
    ("route_batch", "sliding", corpus.SLIDING_COLS, [*LAYER_MARKS, "window"]),
    ("route_batch", "scores", corpus.SCORE_COLS, [*LAYER_MARKS, "MapInPandas"]),
    ("dsir_select", "dsir", corpus.DSIR_COLS, ["InMemoryRelation"]),
])
def test_timed_plan_keeps_materialize_and_layers(spark, work, name, output, cols, layers):
    wl, ctx, _ = _ctx(spark, work, name, 1)
    df = wl.plans(ctx)[output]
    if output == "scores":  # summarised by score_summary, not fingerprint_df
        df = corpus.fingerprint_df(df, cols)
    plan = _plan(df)
    # the fingerprint hashes every output column, so none can be pruned
    head, _, hashed = plan.partition("concat_ws(|")
    assert head.startswith("Aggregate") and "md5(" in head
    for col, _ in cols:
        assert col in hashed.split(" AS h#", 1)[0], col
    for layer in layers:
        mark = LAYER_MARKS.get(layer, layer)
        assert mark in plan, f"{name}/{output}: {layer} ({mark}) missing from the plan"
    spark.catalog.clearCache()


def test_no_cached_relation_at_window_start(spark, work):
    wl, ctx, exp = _ctx(spark, work, "dsir_select", 1)
    cache = spark._jsparkSession.sharedState().cacheManager()
    wl.run(ctx)  # dsir persists its per-document projection
    assert not cache.isEmpty()

    starts = []

    class Probe:
        def run(self, c):
            starts.append(cache.isEmpty())
            return wl.run(c)

        def check(self, c, got, e):
            return wl.check(c, got, e)

    walls, failures = R._timed_reps(Probe(), ctx, exp, 0, time.perf_counter(), min_reps=2)
    assert len(walls) == 2 and not failures
    assert starts == [True, True]


@pytest.mark.parametrize("name", ["ecm_flagship", "route_batch", "dsir_select"])
def test_two_seeds_differ_and_pass_oracle(spark, work, name):
    fingerprints = []
    for seed in (1, 2):
        wl, ctx, exp = _ctx(spark, work, name, seed)
        got = wl.run(ctx)
        assert wl.check(ctx, got, exp) == []
        fingerprints.append({k: exp[k] for k in wl.outputs})
    assert fingerprints[0] != fingerprints[1]
    spark.catalog.clearCache()


def test_fingerprint_is_order_independent_and_content_sensitive(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, event_id string")
    cols = [("doc_id", "int"), ("event_id", "str")]
    def fp(d):
        return corpus.collect_fingerprint(corpus.fingerprint_df(d, cols))

    same = fp(df.orderBy(df.doc_id.desc()))
    assert fp(df) == same
    other = spark.createDataFrame([(1, "a"), (2, "c")], "doc_id long, event_id string")
    assert fp(other) != same

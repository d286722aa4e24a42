"""Log-pipeline benchmark: one workload per process, closed loop.

    python3 perfbench/run.py --workload ecm_flagship --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py            # every workload, each in its own process

One client runs one job at a time on local[<cpus>]. A run builds the
seeded corpus and its DuckDB oracle (cached in ``.perfbench/``), sets up
(session start, the workload's set-up, one warm pass), then repeats the
workload for ``--seconds`` and checks every repetition against the
oracle. The last line of
stdout is one JSON object: the end-to-end metrics with ``--trace 0``,
the per-layer metrics of a separate traced pass with ``--trace 1``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# Timed repetitions per run, however short --seconds is.
MIN_REPS = 2
# A run starts no repetition that would end after this much wall.
BUDGET_S = 150.0

END_TO_END_UNITS = {
    "docs_per_s": "1/s",
    "wall_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "success_rate": "ratio",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", help="one workload; all of them when omitted")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=30.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _session(trace_dir: str | None = None):
    from loganalyzer_spark.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false"}
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": trace_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    return get_spark(app="perfbench", extra=extra)


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    from perfbench import host

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    tree = host.process_tree(gw.proc.pid)
    gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree[1:]):
        time.sleep(0.1)


def _clear_cache(spark) -> None:
    spark.catalog.clearCache()
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        raise RuntimeError("cached relations left at the start of a timed window")


def _setup(wl, ctx) -> None:
    """Session start, the workload's set-up and one warm pass."""
    ctx.spark = _session()
    wl.setup(ctx)
    wl.run(ctx)


def _timed_reps(wl, ctx, exp, seconds, t_start, min_reps=MIN_REPS):
    walls, failures = [], []
    t_window = time.perf_counter()
    while len(walls) < min_reps or time.perf_counter() - t_window < seconds:
        if walls and time.perf_counter() - t_start + statistics.median(walls) > BUDGET_S:
            break
        _clear_cache(ctx.spark)
        t0 = time.perf_counter()
        try:
            got = wl.run(ctx)
            wall = time.perf_counter() - t0
            bad = wl.check(ctx, got, exp)
        except Exception:  # a failed repetition counts against success_rate
            wall = time.perf_counter() - t0
            bad = [traceback.format_exc()]
        walls.append(wall)
        if bad:
            failures.append(bad)
            print(f"[perfbench] rep {len(walls)} FAILED: {bad}", file=sys.stderr)
    return walls, failures


def _traced(wl, ctx, exp, seed, wall_s):
    """A second session with the event log on: the workload once under
    its own job group, then the layer profile."""
    from loganalyzer_spark.operators import web

    from perfbench import trace

    ctx.spark.stop()
    # dsir_weights keeps its last persisted projection in a module-level
    # list that outlives the session; the next call would unpersist it
    # through the stopped context.
    web._DSIR_CACHE.clear()
    log_dir = os.path.join(WORK, "eventlog", f"{wl.name}-s{seed}-{os.getpid()}")
    spark = ctx.spark = _session(trace_dir=log_dir)
    wl.setup(ctx)
    tr = trace.Tracer(spark, f"{wl.name}-s{seed}")
    _clear_cache(spark)
    with tr.span("workload"):
        got = wl.run(ctx)
    bad = wl.check(ctx, got, exp)
    counts, trace_bad = trace.profile(ctx, tr, exp)
    bad += trace_bad
    _shutdown(spark)
    groups = trace.read_event_log(log_dir)
    metrics = trace.per_layer_metrics(tr, counts, groups, wl.layers, wall_s)
    out_path = os.path.join(WORK, "trace", f"{wl.name}-s{seed}.json")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump({"spans": tr.spans, "job_groups": groups, "metrics": metrics}, f, indent=1)
    print(f"[perfbench] spans and event-log summary: {out_path}", file=sys.stderr)
    return metrics, bad


def run_workload(name: str, seed: int, seconds: float, trace: int) -> dict:
    t_start = time.perf_counter()
    from perfbench import corpus, host

    env = host.fit_env(WORK)
    from perfbench.workloads import WORKLOADS, Ctx

    wl = WORKLOADS[name]
    pages_dir, exp = corpus.prepare(WORK, name, seed, wl.n_docs, wl.outputs)
    stamp = host.stamp(ROOT, env)
    stamp["probe_before_mb_s"] = host.first_touch_mb_s()
    stamp["cpu_probe_before_s"] = host.cpu_probe_s()

    ctx = Ctx(None, pages_dir, WORK, tuple(exp["doc_window"]))
    t0 = time.perf_counter()
    _setup(wl, ctx)
    setup_s = time.perf_counter() - t0
    # The traced run needs only the untraced wall to compare against.
    walls, failures = _timed_reps(wl, ctx, exp, 0 if trace else seconds, t_start,
                                  1 if trace else MIN_REPS)
    peak_rss = host.peak_rss_mb(_jvm_pid())
    stamp["probe_after_mb_s"] = host.first_touch_mb_s()
    stamp["cpu_probe_after_s"] = host.cpu_probe_s()
    wall_s = statistics.median(walls)
    attempted, failed = len(walls), len(failures)

    if trace:
        from perfbench.trace import METRICS

        metrics, bad = _traced(wl, ctx, exp, seed, wall_s)
        attempted += 1
        if bad:
            failed += 1
            print(f"[perfbench] traced run FAILED: {bad}", file=sys.stderr)
        units = METRICS
    else:
        _shutdown(ctx.spark)
        metrics = {
            "docs_per_s": wl.n_docs / wall_s,
            "wall_s": wall_s,
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss,
            "success_rate": (attempted - failed) / attempted,
        }
        units = END_TO_END_UNITS
    stamp.update(
        workload=name, seed=seed, docs=wl.n_docs, doc_window=exp["doc_window"],
        walls_s=walls, error_rate=failed / attempted,
        run_s=time.perf_counter() - t_start,
    )
    print("[perfbench] " + json.dumps(stamp))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units[k]}
            for k, v in metrics.items()
        },
    }


def run_all(args) -> int:
    """Each workload in its own process; print one table."""
    from perfbench.workloads import WORKLOADS

    results, rc = {}, 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"{name}: exited {proc.returncode}", file=sys.stderr)
            rc = 1
            continue
        r = results[name] = json.loads(lines[-1])
        rows = [(k, m["value"], m["unit"]) for k, m in r["metrics"].items()]
        rows.append(("error_rate", r["failed"] / r["attempted"], "ratio"))
        for k, v, unit in rows:
            print(f"{name:14s} {k:36s} {v:>16.6g} {unit}")
    print(json.dumps(results))
    return rc


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "loganalyzer_spark")):
        print("perfbench: loganalyzer_spark not found beside perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload is None:
        return run_all(args)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run_workload(args.workload, args.seed, args.seconds, args.trace)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

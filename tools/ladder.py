"""Scaling ladder: one jobs/run.py target at several parallelism rungs,
each rung a separate spark-submit JVM on the identical staged input.

    python tools/ladder.py --mode threads --rungs 1,2,4 --target pipeline 200000
    python tools/ladder.py --mode executors --rungs 1,2 --target md5 50000000

``--mode threads`` runs ``local[rung]``. ``--mode executors`` runs
``local-cluster[rung,2,EXEC_MB]``: separate executor JVMs, each with
its own heap, GC and JIT, so per-executor resources stay constant while
the executor count scales — the closest single-host model of an N→4N
cluster. Targets are jobs/run.py's; ``md5`` and ``regex`` are bare
kernels that measure the host's own ceiling (``n`` is then a row
count, else a document count).

Each rung keeps the best of ``--reps`` runs: host paging noise is
one-sided (see loganalyzer_spark/measure.py), so the fastest run is the
closest estimate of the plan's own speed; every run is published.
Writes BENCH/LADDER_<mode>_<target>.md, stamped with the host.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from loganalyzer_spark import measure  # noqa: E402
from loganalyzer_spark.session import default_heap_mb  # noqa: E402

CORES_PER_EXEC = 2
EXEC_MB = 2048  # constant per executor, so rungs differ only in count
DRIVER_MB_EXECUTORS = 1024  # the driver only schedules in executors mode
# staged input per target; md5/regex take the row count instead
TARGET_INPUT = {
    "pipeline": "pages",
    "routed": "pages",
    "c4": "c4_lines",
    "dsir": "docs",
    "minhash": "docs",
    "pack": "pack_docs",
}
TARGETS = [*TARGET_INPUT, "md5", "regex"]


def _stage(kind: str, n: int, path: str) -> None:
    from pyspark.sql import functions as F

    from loganalyzer_spark import datagen
    from loganalyzer_spark.session import get_spark

    spark = get_spark(app=f"stage_{kind}")
    pages = datagen.gen_web_pages(spark, n)
    if kind == "docs":
        df = pages.select("doc_id", "text", (F.col("lang") == "en").alias("is_target"))
    elif kind == "pack_docs":
        # pack reads only (doc key, token count): 20x rows, so its walls
        # measure the operator, not scheduling overhead
        df = spark.range(0, n * 20).select(
            F.col("id").alias("doc_id"), (50 + F.col("id") % 300).alias("n_tok")
        )
    elif kind == "c4_lines":
        pages.select("doc_id").createOrReplaceTempView("__c4_docs")
        df = spark.sql(datagen.c4_lines_sql("spark", "__c4_docs"))
    else:
        df = pages
    df.repartition(64).write.mode("overwrite").parquet(path)
    spark.stop()


def ensure_corpus(kind: str, n: int) -> str:
    """Stage a seeded input once; the path keys on a hash of datagen.py,
    so a generator change invalidates it. Generated in a child process:
    an in-process JVM has been seen to outlive spark.stop() and contend
    for cores with the first measured run."""
    with open(os.path.join(REPO, "loganalyzer_spark", "datagen.py"), "rb") as f:
        gen_v = hashlib.md5(f.read()).hexdigest()[:8]
    path = f"/tmp/loganalyzer_bench/{kind}_{n}_{gen_v}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        code = f"import ladder; ladder._stage({kind!r}, {n}, {path!r})"
        subprocess.run([sys.executable, "-c", code], check=True,
                       cwd=os.path.dirname(os.path.abspath(__file__)), timeout=3600)
    return path


def make_zip() -> str:
    """Rebuild dist/loganalyzer_spark.zip, the --py-files artifact."""
    zpath = os.path.join(REPO, "dist", "loganalyzer_spark.zip")
    os.makedirs(os.path.dirname(zpath), exist_ok=True)
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(os.path.join(REPO, "loganalyzer_spark")):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, REPO))
    return zpath


def heaps_mb(mode: str, rung: int) -> tuple[int, int]:
    """(driver, per-executor) heap in MB; refuses a rung whose heaps do
    not fit the budget get_spark would take (half of MemAvailable)."""
    budget = default_heap_mb()
    if mode == "threads":
        return budget, 0
    need = DRIVER_MB_EXECUTORS + rung * EXEC_MB
    if need > budget:
        raise SystemExit(
            f"rung {rung}: driver {DRIVER_MB_EXECUTORS} MB + {rung} x {EXEC_MB} MB "
            f"executor heaps = {need} MB exceeds the {budget} MB heap budget "
            "(half of MemAvailable); drop the rung or free memory"
        )
    return DRIVER_MB_EXECUTORS, EXEC_MB


def submit_cmd(mode: str, rung: int, target: str, inp: str, zpath: str) -> list[str]:
    driver_mb, exec_mb = heaps_mb(mode, rung)
    slots = rung * (CORES_PER_EXEC if mode == "executors" else 1)
    conf = {
        "spark.sql.shuffle.partitions": max(8, slots),
        "spark.default.parallelism": max(8, slots),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": f"{driver_mb}m",
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        # 4 MB splits: default bin-packing gives one task wave per rung
        "spark.sql.files.maxPartitionBytes": 4 << 20,
        "spark.sql.files.openCostInBytes": 512 << 10,
        "spark.ui.enabled": "false",
    }
    master = f"local[{rung}]"
    if mode == "executors":
        master = f"local-cluster[{rung},{CORES_PER_EXEC},{exec_mb}]"
        conf |= {
            "spark.executor.memory": f"{exec_mb}m",
            # executor JVMs size GC/JIT pools to the machine's cores and
            # thrash unless pinned; pre-touching the heap (which
            # heaps_mb has checked fits) moves its page faults to JVM
            # start, outside the timed window
            "spark.executor.extraJavaOptions": "-XX:+UseParallelGC "
            f"-XX:ParallelGCThreads={CORES_PER_EXEC} -XX:CICompilerCount=2 "
            f"-Xms{exec_mb}m -XX:+AlwaysPreTouch",
            # standalone mode starts jobs as soon as ANY executor is up;
            # the ratio is computed against cores.max
            "spark.cores.max": slots,
            "spark.scheduler.minRegisteredResourcesRatio": "1.0",
            "spark.scheduler.maxRegisteredResourcesWaitingTime": "600s",
            # no real locality on a local FS: the 3 s wait idles cores
            "spark.locality.wait": "0",
        }
    cmd = ["spark-submit", "--master", master, "--py-files", zpath]
    for k, v in conf.items():
        cmd += ["--conf", f"{k}={v}"]
    return cmd + [os.path.join(REPO, "jobs", "run.py"), target, inp]


def run_job(cmd: list[str]) -> dict:
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO, timeout=3600)
    m = re.search(r"^RESULT (\{.*\})$", out.stdout, re.M)
    if not m:
        sys.stderr.write(out.stdout[-3000:] + "\n" + out.stderr[-3000:])
        raise RuntimeError(f"no RESULT line from: {' '.join(cmd[:3])}")
    return json.loads(m.group(1))


def best_of(mode: str, rung: int, cmd: list[str], reps: int) -> dict:
    runs = []
    for _ in range(reps):
        probe = measure.wait_healthy()[1]
        r = run_job(cmd) | {"probe_mb_s": probe}
        if mode == "executors" and r["executors_at_run"] < rung:
            print(f"rung {rung}: REJECTED run on {r['executors_at_run']} executors", flush=True)
            continue
        runs.append(r)
        print(f"rung {rung}: {r['rows_in_per_sec']} rows/s, wall {r['wall_s']} s, "
              f"probe {probe} MB/s", flush=True)
    if not runs:
        raise SystemExit(f"rung {rung}: every run had fewer executors than configured")
    return max(runs, key=lambda r: r["rows_in_per_sec"]) | {
        "runs_wall_s": [r["wall_s"] for r in runs],
        "runs_probe_mb_s": [r["probe_mb_s"] for r in runs],
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--mode", choices=["threads", "executors"], default="threads")
    ap.add_argument("--rungs", default="1,2,4")
    ap.add_argument("--target", choices=TARGETS, default="pipeline")
    ap.add_argument("--reps", type=int, default=2, help="spark-submit runs per rung")
    ap.add_argument("n", type=int, help="documents (rows for md5/regex)")
    a = ap.parse_args()
    rungs = [int(x) for x in a.rungs.split(",")]
    for r in rungs:
        heaps_mb(a.mode, r)  # refuse an unfit rung before any work
    inp = ensure_corpus(TARGET_INPUT[a.target], a.n) if a.target in TARGET_INPUT else str(a.n)
    zpath = make_zip()
    res = {r: best_of(a.mode, r, submit_cmd(a.mode, r, a.target, inp, zpath), a.reps)
           for r in rungs}
    lo = rungs[0]

    def eff(r: int) -> float:
        return round(res[r]["rows_in_per_sec"] / res[lo]["rows_in_per_sec"] / (r / lo), 3)

    print(json.dumps({"mode": a.mode, "target": a.target, "n": a.n,
                      **{f"rows_in_per_sec_{r}": res[r]["rows_in_per_sec"] for r in rungs},
                      **{f"eff_{lo}_to_{r}": eff(r) for r in rungs[1:]}}))
    unit = "executors x 2 cores" if a.mode == "executors" else "threads"
    rows = "\n".join(
        f"| {r} | {res[r]['master']} | {res[r]['rows_in']} | {res[r]['rows_out']} "
        f"| {res[r]['wall_s']} | {res[r]['rows_in_per_sec']} | {eff(r)} "
        f"| {res[r]['runs_wall_s']} | {res[r]['runs_probe_mb_s']} |"
        for r in rungs
    )
    path = os.path.join(REPO, "BENCH", f"LADDER_{a.mode}_{a.target}.md")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(f"""# Ladder: `{a.target}`, {a.mode} mode, n = {a.n}

Host: {measure.host_stamp()}.

Each row is the best of {a.reps} spark-submit runs of `jobs/run.py {a.target}`
(one-sided host noise). Inside each run `measure.timed` publishes the
median of 3 fresh-plan reps when every probe is healthy, else the
best-of. Efficiency = (rows/s ÷ rows/s at {lo}) ÷ (rung ÷ {lo}).

| {unit} | master | rows in | rows out | wall (s) | rows in/s | efficiency | walls of runs (s) | pre-run probes (MB/s) |
|---|---|---|---|---|---|---|---|---|
{rows}

Regenerate: `python tools/ladder.py --mode {a.mode} --rungs {a.rungs} --target {a.target} --reps {a.reps} {a.n}`.
""")
    print("wrote", path)


if __name__ == "__main__":
    main()

"""One measurement core for every timing tool (bench.py, tools/, jobs/).

It lives in the package so spark-submit jobs get it from ``--py-files``.

Host hazard: on a VM with virtio free-page-reporting, freed guest pages
are discarded by the host, and re-faulting them (JVM heap growth, Arrow
buffers, any fresh mmap) goes through the hypervisor at a rate that
has been seen to swing from >1 GB/s to <10 MB/s within minutes. A wall timed in a
degraded phase measures the host, not the plan. The hazard is
ONE-SIDED — it can only slow a run — so a timed run is probed after
each rep and, when any probe is degraded, the best (min) wall is the
closest estimate of the plan's own speed.
"""

from __future__ import annotations

import os
import subprocess
import time
from time import perf_counter
from typing import Any, Callable, NamedTuple

# Below this first-touch rate a wall measures host paging, not the code.
MIN_PROBE_MB_S = 500.0


def first_touch_mb_s() -> float:
    """First-touch page-fault throughput of 200 MB of never-touched
    pages (a fresh mmap, one write per page)."""
    import numpy as np

    t0 = perf_counter()
    a = np.zeros(200_000_000 // 8)
    a[:: 4096 // 8] = 1.0
    dt = perf_counter() - t0
    del a
    return round(200.0 / dt, 1)


def host_stamp() -> str:
    """One line naming the host a run was measured on: cpus, MemTotal,
    driver-heap budget, Spark version, git revision of the checkout
    this module lives in, UTC time."""
    import pyspark

    from loganalyzer_spark.session import default_heap_mb

    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sha = subprocess.run(["git", "describe", "--always", "--dirty"], capture_output=True,
                         text=True, cwd=repo).stdout.strip()
    return (f"{os.cpu_count()} cpus, MemTotal {mem_gb:.1f} GB, "
            f"heap budget {default_heap_mb()} MB, Spark {pyspark.__version__}, "
            f"git {sha or '?'}, {time.strftime('%Y-%m-%d %H:%M UTC', time.gmtime())}")


def wait_healthy(budget_s: float = 90.0) -> tuple[float, float, float]:
    """Probe until the first-touch rate clears MIN_PROBE_MB_S or the
    budget runs out. Each probe touches 200 MB of fresh pages, which is
    what heals a degraded host, so probing is the wait. Returns
    (cold, final, waited_s): the first reading, the last one, and the
    seconds spent."""
    t0 = perf_counter()
    cold = probe = first_touch_mb_s()
    while probe < MIN_PROBE_MB_S and perf_counter() - t0 < budget_s:
        time.sleep(2.0)
        probe = first_touch_mb_s()
    return cold, probe, round(perf_counter() - t0, 1)


def materialize(df) -> int:
    """Run ``df`` in full and return its row count. Not ``count()``:
    count lets Catalyst prune every column it does not need (a counted
    sequence_packing plan collapsed to Filter+Range, c4_clean to a bare
    groupBy count). Hashing every output column forces all of them."""
    from pyspark.sql import functions as F

    # bit_xor, not sum: summing 64-bit hashes overflows under ANSI mode.
    row = (
        df.select(F.xxhash64(*[F.col(c) for c in df.columns]).alias("_h"))
        .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(_h)").alias("h"))
        .collect()[0]
    )
    return int(row["n"])


class Timing(NamedTuple):
    wall: float  # the published wall: median if healthy, else best-of
    rows: Any  # the last action's return value
    walls: list[float]
    probes: list[float]
    healthy: bool  # every probe >= MIN_PROBE_MB_S


def timed(
    build: Callable[[], Any],
    action: Callable[[Any], Any] = materialize,
    reps: int = 3,
) -> Timing:
    """Time ``reps`` fresh plans: clear cache → build → action → probe.

    The plan is built INSIDE the window and the cache is cleared first:
    an operator that persists internally and runs driver-side jobs at
    build time (dsir's cutoff select) would otherwise do its work before
    t0, and the CacheManager would hand the timed action the previous
    rep's InMemoryRelation. A fresh plan per rep also stops AQE reusing
    materialized stages.

    The first rep is the cold one (JIT, codegen); the policy discards
    it. Publishes the median wall when every probe is healthy, else the
    best-of. A round with any degraded probe is retried once after
    :func:`wait_healthy`: a healthy probe does not certify its
    neighbours, since the hazard strikes mid-run.
    """
    from pyspark.sql import SparkSession

    walls: list[float] = []
    probes: list[float] = []
    rows = None
    for attempt in range(2):
        if attempt:
            wait_healthy(budget_s=30.0)
        for _ in range(reps):
            if (s := SparkSession.getActiveSession()) is not None:
                s.catalog.clearCache()
            t0 = perf_counter()
            rows = action(build())
            walls.append(perf_counter() - t0)
            probes.append(first_touch_mb_s())
        if min(probes[-reps:]) >= MIN_PROBE_MB_S:
            break
    healthy = min(probes) >= MIN_PROBE_MB_S
    wall = sorted(walls)[len(walls) // 2] if healthy else min(walls)
    return Timing(wall, rows, walls, probes, healthy)

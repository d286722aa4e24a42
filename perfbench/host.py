"""Host fitting and host stamps for the benchmark process.

``fit_env`` sizes the Spark driver to the host through the environment
variables ``loganalyzer_spark.session.get_spark`` already reads, so the
package itself is left untouched. The remaining helpers read /proc:
the result stamp (cpus, memory, heap, versions), the first-touch page
fault probe and the peak RSS of the Spark JVM and its Python workers.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import time

# Upper bound on the driver heap. Inputs are sized in tens of thousands
# of documents; a larger heap only adds resident pages on a shared host.
MAX_HEAP_MB = 3072


def meminfo_kb() -> dict[str, int]:
    out: dict[str, int] = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, _, rest = line.partition(":")
            out[key] = int(rest.split()[0])
    return out


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def fit_env(work_dir: str) -> dict[str, str]:
    """Set the session's environment knobs before the first get_spark.

    Heap: at most half of MemAvailable (and at most MAX_HEAP_MB), with
    -Xms equal to it so heap growth does not move the peak RSS from run
    to run, and no AlwaysPreTouch (pre-touching a heap larger than free
    memory kills the JVM at launch). Scratch and temporary files live
    under ``work_dir``.
    """
    avail_mb = meminfo_kb()["MemAvailable"] // 1024
    heap_mb = max(1024, min(MAX_HEAP_MB, avail_mb // 2))
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_DRIVER_JAVA_OPTS": f"-Xms{heap_mb}m",
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_LOCAL_DIRS": local,
        # keep Python's and every JVM's temporary files in the work dir
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def first_touch_mb_s(mb: int = 64) -> float:
    """Page-fault throughput over ``mb`` MB of never-touched memory.

    On hosts whose hypervisor reclaims freed guest pages this rate
    swings by orders of magnitude and every Spark wall follows it, so
    each result records it before and after the timed window.
    """
    import numpy as np

    t0 = time.perf_counter()
    a = np.zeros(mb * 1024 * 1024 // 8)
    a[:: 4096 // 8] = 1.0
    dt = time.perf_counter() - t0
    del a
    return mb / dt


def cpu_probe_s(n: int = 1_000_000) -> float:
    """Wall of a fixed single-threaded loop: on a shared host the same
    work can take twice as long from one minute to the next, so each
    result records it before and after the timed window."""
    t0 = time.perf_counter()
    s = 0
    for i in range(n):
        s += i * i
    return time.perf_counter() - t0


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return kids


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of peak RSS (VmHWM) over the JVM and its Python workers."""
    return sum(_status_kb(p, "VmHWM") for p in process_tree(jvm_pid)) / 1024.0


def source_sha(repo_root: str) -> str:
    """Content hash of the package sources (the checkout has no .git)."""
    h = hashlib.sha256()
    pkg = os.path.join(repo_root, "loganalyzer_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, repo_root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_sha(repo_root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=repo_root, capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def stamp(repo_root: str, env: dict[str, str]) -> dict:
    import pyspark

    mem = meminfo_kb()
    return {
        "cpus": cpus(),
        "mem_total_mb": mem["MemTotal"] // 1024,
        "mem_available_mb": mem["MemAvailable"] // 1024,
        "driver_heap": env["SPARK_DRIVER_MEM"],
        "spark_version": pyspark.__version__,
        "git_sha": git_sha(repo_root),
        "source_sha": source_sha(repo_root),
    }

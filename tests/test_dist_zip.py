"""Staleness guard for the committed --py-files artifact.

``dist/loganalyzer_spark.zip`` ships with the repo so spark-submit
consumers (jobs/run.py) can ``--py-files`` it directly;
a stale member import-fails only at executor time on a real cluster
(VERDICT r4 item 4: ``streaming/evolve.py`` was committed after the
last rebuild and was silently absent from the zip). The bench tools
rebuild via ``tools/ladder.py::make_zip`` on every run — this
test covers the direct-consumption path. Content comparison, not
mtime: a git checkout resets mtimes, so mtime would both false-pass
and false-fail.
"""

from __future__ import annotations

import pathlib
import zipfile

REPO = pathlib.Path(__file__).resolve().parents[1]


def test_dist_zip_matches_package_tree():
    zpath = REPO / "dist" / "loganalyzer_spark.zip"
    assert zpath.exists(), (
        "dist/loganalyzer_spark.zip missing — rebuild via "
        "tools/ladder.py::make_zip()"
    )
    with zipfile.ZipFile(zpath) as z:
        members = set(z.namelist())
        stale = []
        for f in sorted((REPO / "loganalyzer_spark").rglob("*.py")):
            rel = f.relative_to(REPO).as_posix()
            if rel not in members:
                stale.append(f"missing from zip: {rel}")
            elif z.read(rel) != f.read_bytes():
                stale.append(f"content differs: {rel}")
        extra = [
            m
            for m in members
            if m.endswith(".py") and not (REPO / m).exists()
        ]
        stale.extend(f"deleted on disk but still in zip: {m}" for m in extra)
    assert not stale, (
        "dist/loganalyzer_spark.zip is STALE — rebuild via "
        "tools/ladder.py::make_zip():\n  " + "\n  ".join(stale)
    )

"""The session's Python worker daemon (hdfs_mapreduce_spark/pydaemon.py):
its stat guard on ``zipimporter.invalidate_caches``, that every task runs
under it, and that a session started outside the repo still finds it."""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GUARD = "_stat_guarded_invalidate_caches"

GUARD_SCRIPT = """
import importlib, os, sys, zipfile, zipimport
sys.path.insert(0, {repo!r})
from hdfs_mapreduce_spark import pydaemon

archive = sys.argv[1]
sys.path.insert(0, archive)
import pkg.a

reads = []
stock_read = zipimport._read_directory
zipimport._read_directory = lambda path: reads.append(path) or stock_read(path)

# the stock method re-reads the archive once per importer, on every call
importlib.invalidate_caches()
assert len(reads) == 2, reads

pydaemon.install()
importlib.invalidate_caches()  # records each importer's stat key
reads.clear()
for _ in range(5):
    importlib.invalidate_caches()
assert reads == [], reads

with zipfile.ZipFile(archive, "a") as z:
    z.writestr("pkg/b.py", "B = 2\\n")
importlib.invalidate_caches()
assert reads == [archive, archive], reads
root = sys.path_importer_cache[archive]
inner = sys.path_importer_cache[archive + "/pkg"]
assert root is not inner
for imp in (root, inner):
    assert "pkg/b.py" in imp._files, imp
import pkg.b
assert pkg.b.B == 2

# an archive that cannot be stat'ed is always re-read (here: emptied)
os.remove(archive)
importlib.invalidate_caches()
assert root._files == {{}} and inner._files == {{}}
print("GUARD-OK")
"""

OUTSIDE_SCRIPT = """
import os, sys
sys.path.insert(0, {repo!r})
from hdfs_mapreduce_spark.session import get_spark


def tag(batches):
    import zipimport

    for pdf in batches:
        name = zipimport.zipimporter.invalidate_caches.__name__
        yield pdf.assign(guard=name)


spark = get_spark("pydaemon-outside", master="local[2]")
spark.sparkContext.setLogLevel("ERROR")
rows = spark.range(0, 8, 1, 2).mapInPandas(tag, "id long, guard string").collect()
spark.stop()
assert sorted(r.id for r in rows) == list(range(8)), rows
print("OUTSIDE-OK", ",".join(sorted({{r.guard for r in rows}})))
"""


def test_guard_rereads_an_archive_only_when_it_changes(tmp_path):
    import zipfile

    archive = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pkg/__init__.py", "")
        z.writestr("pkg/a.py", "A = 1\n")
    proc = subprocess.run(
        [sys.executable, "-c", GUARD_SCRIPT.format(repo=REPO), archive],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "GUARD-OK" in proc.stdout


def test_every_task_runs_under_the_guard(spark):
    def probe(batches):
        import zipimport

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"guard": [zipimport.zipimporter.invalidate_caches.__name__]}
        )

    rows = spark.range(0, 4, 1, 4).mapInPandas(probe, "guard string").collect()
    assert [r.guard for r in rows] == [GUARD] * 4


def test_session_outside_the_repo_runs_a_main_defined_udf(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", OUTSIDE_SCRIPT.format(repo=REPO)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert f"OUTSIDE-OK {GUARD}" in proc.stdout, proc.stdout

"""The PySpark worker daemon (``openmsistream_spark.worker_daemon``):
before Python 3.13 every task's ``importlib.invalidate_caches()`` made
each ``zipimporter`` on the worker's ``sys.path`` re-parse its archive;
the daemon re-reads only an archive that changed."""

import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script, cwd, env=None, timeout=60):
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        capture_output=True,
        text=True,
        cwd=cwd,
        env=env or {**os.environ, "PYTHONPATH": REPO},
        timeout=timeout,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.splitlines()[-1])


def test_install_rereads_only_changed_archives(tmp_path):
    """Runs in a subprocess so this test process stays unpatched."""
    got = _run(
        """
import importlib, json, os, sys, zipfile, zipimport
from openmsistream_spark import worker_daemon

def count_reads():  # zipimport._read_directory calls in one invalidate_caches()
    reads = []
    orig = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or orig(path)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = orig
    return reads

def write(archive, mods):
    with zipfile.ZipFile(os.path.abspath(archive), "w") as zf:
        for m in mods:
            zf.writestr(f"{m}.py", f"NAME = {m!r}\\n")

write("first.zip", ["a"])
sys.path.insert(0, os.path.abspath("first.zip"))
import a
stock = count_reads()
worker_daemon.install()
unchanged = count_reads()
# an importer made after install() records its archive too
write("second.zip", ["c"])
sys.path.insert(0, os.path.abspath("second.zip"))
import c
late = count_reads()
write("first.zip", ["a", "b"])  # size and mtime change
changed = count_reads()
import b
print(json.dumps({"stock": stock, "unchanged": unchanged, "late": late,
                  "changed": changed, "names": [a.NAME, b.NAME, c.NAME]}))
""",
        cwd=tmp_path,
    )
    assert len(got["stock"]) == 1 and got["stock"][0].endswith("first.zip")
    assert got["unchanged"] == [] and got["late"] == []
    assert len(got["changed"]) == 1 and got["changed"][0].endswith("first.zip")
    assert got["names"] == ["a", "b", "c"]


def test_install_is_a_noop_from_python_3_13(tmp_path):
    got = _run(
        """
import json, sys, zipimport
from openmsistream_spark import worker_daemon
before = dict(vars(zipimport.zipimporter))
sys.version_info = (3, 13, 0, "final", 0)
worker_daemon.install()
print(json.dumps(dict(vars(zipimport.zipimporter)) == before))
""",
        cwd=tmp_path,
    )
    assert got is True


def test_worker_does_not_reread_zips_per_task(spark):
    """Inside a Python worker of the shared session, one
    invalidate_caches() re-reads no zip (stock PySpark on Python 3.11:
    16 re-reads, one per zipimporter, on every task)."""

    def probe(_):
        import importlib
        import sys
        import zipimport

        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        reads = []
        orig = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or orig(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        yield importers, len(reads)

    [(importers, reads)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    assert importers > 0
    assert reads == 0


def test_daemon_starts_outside_the_checkout(tmp_path):
    """A driver whose cwd is outside the checkout and whose PYTHONPATH is
    unset reaches the package only through its own sys.path; the worker
    daemon must still start, for RDD and pandas-UDF tasks alike. A
    caller's executor PYTHONPATH is kept behind the package's."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    got = _run(
        f"""
import json, sys
sys.path.insert(0, {REPO!r})
import pandas as pd
from pyspark.sql.functions import pandas_udf
from openmsistream_spark.session import get_spark

spark = get_spark(master="local[1]", shuffle_partitions=1,
                  extra_conf={{"spark.executorEnv.PYTHONPATH": {str(tmp_path)!r}}})

@pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

squares = spark.sparkContext.parallelize(range(6), 2).map(lambda x: x * x).collect()
plus = sorted(r.x for r in spark.range(4).select(plus_one("id").alias("x")).collect())
conf = spark.sparkContext.getConf()
daemon = conf.get("spark.python.daemon.module")
path = conf.get("spark.executorEnv.PYTHONPATH")
spark.stop()
print(json.dumps({{"squares": squares, "plus": plus, "daemon": daemon, "path": path}}))
""",
        cwd=tmp_path,
        env=env,
        timeout=300,
    )
    assert got == {
        "squares": [0, 1, 4, 9, 16, 25],
        "plus": [1, 2, 3, 4],
        "daemon": "openmsistream_spark.worker_daemon",
        "path": os.pathsep.join([REPO, str(tmp_path)]),
    }

"""The Python worker daemon the engine session sets
(``session.PYTHON_DAEMON_MODULE``): workers run warm and frozen, from the
interpreter's own pyspark when it matches the JVM's, and the daemon
module is importable wherever the JVM starts it."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import zipfile

import pyspark
from pyspark.sql import functions as F

from pinterest_data_pipeline400_spark import pyworker
from pinterest_data_pipeline400_spark.session import PYTHON_DAEMON_MODULE


def _spark_python_zips() -> list[str]:
    """The zips the JVM puts first on a worker's PYTHONPATH."""
    lib = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")
    return sorted(glob.glob(os.path.join(lib, "*.zip")))


def test_udf_runs_in_warm_frozen_worker(spark):
    @F.udf("struct<frozen:int, file:string, version:string>")
    def probe(_):
        import gc

        import pyspark as ps

        return (gc.get_freeze_count(), ps.__file__, ps.__version__)

    row = spark.range(1).select(probe("id").alias("p")).first().p
    assert row.frozen > 0
    assert row.version == pyspark.__version__
    unzipped = os.path.dirname(pyspark.__file__)
    zips = [z for z in _spark_python_zips() if os.path.basename(z) == "pyspark.zip"]
    if all(pyworker.pyspark_root(z, unzipped) == unzipped for z in zips):
        assert ".zip" not in row.file, row.file


def _fake_pyspark(tmp_path, zipped: str, unzipped: str) -> tuple[str, str]:
    pdir = tmp_path / "site" / "pyspark"
    pdir.mkdir(parents=True)
    (pdir / "version.py").write_text(f"__version__: str = '{unzipped}'\n")
    zpath = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("pyspark/version.py", f'__version__: str = "{zipped}"\n')
    return zpath, str(pdir)


def test_pyspark_root_keeps_zip_unless_versions_match(tmp_path):
    zpath, pdir = _fake_pyspark(tmp_path / "same", "4.1.2", "4.1.2")
    assert pyworker.pyspark_root(zpath, pdir) == pdir
    zpath, pdir = _fake_pyspark(tmp_path / "other", "4.1.2", "4.0.1")
    assert pyworker.pyspark_root(zpath, pdir) == zpath
    assert pyworker.pyspark_root(zpath, None) == zpath
    assert pyworker.pyspark_root(zpath, str(tmp_path / "missing")) == zpath


def test_daemon_starts_from_any_cwd(spark, tmp_path):
    """The JVM runs ``python -m <daemon module>`` in its own working
    directory with the Spark zips, then the executor env's PYTHONPATH.
    From a directory that does not hold the package, the daemon must
    still start: it prints its port (4 bytes) and, when its stdin
    closes, shuts down (with pyspark's exit code 1) without a traceback."""
    path = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = os.pathsep.join(_spark_python_zips() + [path])
    proc = subprocess.run(
        [sys.executable, "-m", PYTHON_DAEMON_MODULE],
        cwd=str(tmp_path),
        env=env,
        stdin=subprocess.DEVNULL,
        capture_output=True,
        timeout=120,
    )
    err = proc.stderr.decode()
    assert len(proc.stdout) == 4, err[-2000:]
    assert "Traceback" not in err, err[-2000:]

"""Python worker daemon: pyspark's own, started warm and frozen.

The JVM runs it as ``python -m pinterest_data_pipeline400_spark.pyworker``
(``spark.python.daemon.module``, set by ``session.build_session``). Before
the first fork it does three things, then hands over to the unchanged
``pyspark.daemon.manager()``:

* serves pyspark from the interpreter's own unzipped install when that is
  the same version as ``$SPARK_HOME/python/lib/pyspark.zip``, which the
  JVM puts first on the workers' path. Every task calls
  ``importlib.invalidate_caches()``, and Python 3.11's zipimporter then
  re-reads the zip's 1,328-entry directory in pure Python: 32-36 ms a task;
* imports the worker, pandas, pyarrow and the Arrow serializers once, so
  no forked worker imports them again;
* ``gc.freeze()``: a reused worker runs ``gc.collect()`` after every task,
  which walks the ~73k import-time objects in 10-28 ms; frozen, ~0.
"""

from __future__ import annotations

import gc
import importlib.machinery
import os
import re
import sys
import zipfile

_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""")


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def pyspark_root(zip_path: str, unzipped_dir: str | None) -> str:
    """``unzipped_dir`` when its pyspark has the zip's version, else
    ``zip_path``: a different install may not speak this JVM's protocol."""
    if unzipped_dir is None:
        return zip_path
    try:
        with zipfile.ZipFile(zip_path) as zf:
            zipped = _version(zf.read("pyspark/version.py").decode())
        with open(os.path.join(unzipped_dir, "version.py")) as fh:
            unzipped = _version(fh.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return zip_path
    return unzipped_dir if zipped is not None and zipped == unzipped else zip_path


def _prefer_unzipped_pyspark() -> None:
    zips = [p for p in sys.path if os.path.basename(p) == "pyspark.zip"]
    spec = importlib.machinery.PathFinder.find_spec(
        "pyspark", [p for p in sys.path if not p.endswith(".zip")]
    )
    unzipped = spec.submodule_search_locations[0] if spec else None
    for z in zips:
        if pyspark_root(z, unzipped) != z:
            sys.path.remove(z)
            sys.path_importer_cache.pop(z, None)


def main() -> None:
    _prefer_unzipped_pyspark()
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401
    from pyspark import daemon

    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()

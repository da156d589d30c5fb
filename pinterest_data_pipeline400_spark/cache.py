"""One disk cache for every derived frame and on-disk layout.

A generation is a directory ``<SCRATCH_ROOT>/<family>/<sf>/<name>_<stamp>``
that holds one deterministic derivation of fixture files: a trained
model, a shared intermediate frame, or a layout that a scan reads as
its index (day partitions, a Z-ordered copy, bucketed tables, one file
per image). :func:`generation_dir` owns the whole policy, so every
cache follows the same rules:

* **Stamp.** A hash of each source file's path, mtime and size plus
  :func:`code_token`, a sha256 of every ``*.py`` in this package and the
  pyspark version. A regenerated fixture or any edit to the engine
  misses the cache; no hand-kept version string can be forgotten.
  Trade-off: an edit anywhere in the package, even a comment, rebuilds
  each cache once.
* **Publish.** The writer fills a per-call staging dir, the helper marks
  it with ``_SUCCESS`` and ``os.rename``s it into place. The rename is
  the single publish point, so two sessions that both miss never
  interleave files in one directory, and a writer that raises publishes
  nothing.
* **Gate.** Only a directory holding ``_SUCCESS`` is served. A leftover
  directory without it (an interrupted prune, a crash between writes in
  an older layout) is deleted and replaced.
* **Prune and touch.** A rebuild deletes sibling generations of the same
  name that no reader opened for :data:`PRUNE_GRACE_SEC`; each open
  bumps the directory's mtime, so the grace window counts from last use.

:func:`cached_frame` is the frame-shaped case: a parquet write of a
lazily built DataFrame, read back.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import shutil
import time
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from . import session

#: The package whose source keys every generation.
PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))

#: Grace age before a sibling generation is pruned. A concurrent
#: session pinned to the previous stamp may still be scanning the old
#: tree; deleting it under that reader would turn a disk leak into a
#: cross-session query failure. New readers already compute the new
#: stamp, so pruning can wait for in-flight ones.
PRUNE_GRACE_SEC = 600

#: Hex digits of the stamp in a generation's directory name.
STAMP_LEN = 16


def code_token() -> str:
    """sha256 of every ``*.py`` under :data:`PACKAGE_DIR`, in sorted
    relative-path order, plus ``pyspark.__version__``. Computed on first
    use and memoised, so a process that never opens a cache never reads
    its own source."""
    return _tree_hash(PACKAGE_DIR)


@functools.cache
def _tree_hash(root: str) -> str:
    import pyspark

    h = hashlib.sha256()
    for rel in sorted(
        os.path.relpath(p, root)
        for p in glob.glob(os.path.join(root, "**", "*.py"), recursive=True)
    ):
        with open(os.path.join(root, rel), "rb") as fh:
            data = fh.read()
        h.update(f"{rel}\0{len(data)}\0".encode())
        h.update(data)
    h.update(pyspark.__version__.encode())
    return h.hexdigest()


def _stamp(src_paths: Sequence[str]) -> str:
    h = hashlib.sha256(code_token().encode())
    for p in src_paths:
        st = os.stat(p)
        h.update(f"\0{os.path.abspath(p)}\0{st.st_mtime_ns}\0{st.st_size}".encode())
    return h.hexdigest()[:STAMP_LEN]


def _complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _prune_siblings(root: str, name: str, keep: str) -> None:
    """Delete generations (and abandoned staging dirs) of ``name`` under
    ``root``, except ``keep`` and any opened within the grace window."""
    now = time.time()
    for stale in glob.glob(os.path.join(root, f"{name}_{'?' * STAMP_LEN}*")):
        if stale == keep:
            continue
        try:
            age = now - os.path.getmtime(stale)
        except OSError:
            continue  # vanished concurrently
        if age > PRUNE_GRACE_SEC:
            shutil.rmtree(stale, ignore_errors=True)


def _publish(base: str, write: Callable[[str], None]) -> None:
    staging = f"{base}.staging.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    try:
        write(staging)
        os.makedirs(staging, exist_ok=True)
        open(os.path.join(staging, "_SUCCESS"), "w").close()
        try:
            os.rename(staging, base)
        except OSError:
            # Either a concurrent session published first (keep theirs),
            # or an incomplete directory blocks the rename and would
            # block every later publish too. Re-check the gate right
            # before deleting: a concurrent session may have published
            # since the failed rename, and deleting its generation
            # would fail its readers.
            if not _complete(base):
                shutil.rmtree(base, ignore_errors=True)
                try:
                    os.rename(staging, base)
                except OSError:
                    pass
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    if not _complete(base):
        # Reading on would raise an opaque error on a missing or
        # partial path; say what happened instead.
        raise RuntimeError(
            f"cache publish failed for {base}: both rename attempts lost "
            "and no complete generation (_SUCCESS) exists; delete the "
            "directory and retry"
        )


def generation_dir(
    sf_dir: str,
    family: str,
    name: str,
    src_paths: Sequence[str],
    write: Callable[[str], None],
) -> str:
    """The published generation of ``name`` derived from ``src_paths``,
    built by ``write(staging_dir)`` on a miss. ``write`` fills a
    directory that does not exist yet; the helper marks, publishes,
    prunes and touches it."""
    root = os.path.join(
        session.SCRATCH_ROOT, family, os.path.basename(os.path.normpath(sf_dir))
    )
    base = os.path.join(root, f"{name}_{_stamp(src_paths)}")
    if not _complete(base):
        os.makedirs(root, exist_ok=True)
        _prune_siblings(root, name, keep=base)
        _publish(base, write)
    try:
        os.utime(base, None)  # last use, for the grace window
    except OSError:
        pass
    return base


def cached_frame(
    spark: SparkSession,
    sf_dir: str,
    family: str,
    name: str,
    src_path: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """``build()``'s frame, written once per generation and read back.
    The cached frame is the deterministic output of the same build, so
    a consumer reads the same rows either way.

    ``SPARK_GRAFT_FRAME_CACHE=cold`` skips the cache (no read, no
    publish, no stamp) and returns the lazy build plan, so a timed run
    measures the operator rather than one parquet read of its output."""
    if os.environ.get("SPARK_GRAFT_FRAME_CACHE", "") == "cold":
        return build()
    return spark.read.parquet(
        generation_dir(
            sf_dir, family, name, [src_path], lambda d: build().write.parquet(d)
        )
    )

"""The disk cache's generation policy (``cache.py``): the code token
follows the engine's source, a failed write publishes nothing, and only
a ``_SUCCESS``-gated generation is served."""

from __future__ import annotations

import os
import shutil

import pytest

from pinterest_data_pipeline400_spark import cache
from pinterest_data_pipeline400_spark import session as sess


@pytest.fixture
def scratch(tmp_path, monkeypatch):
    """A private scratch root and a one-file source to stamp."""
    monkeypatch.setattr(sess, "SCRATCH_ROOT", str(tmp_path / "scratch"))
    monkeypatch.delenv("SPARK_GRAFT_FRAME_CACHE", raising=False)
    src = tmp_path / "src.parquet"
    src.write_bytes(b"fixture")
    return tmp_path, str(src)


def _copy_package(dst, edit=None):
    shutil.copytree(
        cache.PACKAGE_DIR, dst, ignore=shutil.ignore_patterns("__pycache__")
    )
    if edit:
        rel, old, new = edit
        path = os.path.join(dst, rel)
        with open(path) as fh:
            text = fh.read()
        assert old in text, (rel, old)
        with open(path, "w") as fh:
            fh.write(text.replace(old, new, 1))
    return str(dst)


@pytest.mark.parametrize(
    "edit",
    [
        # a layout constant no hand-kept version string ever carried
        ("plans/events_queries.py", "n_files=32", "n_files=16"),
        # a line of a trained model's build
        (
            "plans/training_data.py",
            "def _pc_power_train(spark: SparkSession, sf_dir: str) -> DataFrame:\n",
            "def _pc_power_train(spark: SparkSession, sf_dir: str) -> DataFrame:\n"
            "    sf_dir = str(sf_dir)\n",
        ),
    ],
    ids=["zorder_n_files", "pc_power_train"],
)
def test_code_token_follows_engine_source(spark, scratch, monkeypatch, edit):
    """An edited copy of the package has a new token and misses the
    cache; an unedited copy has the installed package's token."""
    from pinterest_data_pipeline400_spark.plans.training_data import cached_frame

    tmp_path, src = scratch
    installed = cache.code_token()
    same = _copy_package(tmp_path / "same")
    edited = _copy_package(tmp_path / "edited", edit)

    calls = []

    def build():
        calls.append(1)
        return spark.range(3).selectExpr("id AS v")

    def read():
        return sorted(
            r.v
            for r in cached_frame(
                spark, str(tmp_path), "fam", "nm", src, build
            ).collect()
        )

    monkeypatch.setattr(cache, "PACKAGE_DIR", same)
    assert cache.code_token() == installed
    assert read() == [0, 1, 2] and calls == [1]
    assert read() == [0, 1, 2] and calls == [1]  # served from disk
    monkeypatch.setattr(cache, "PACKAGE_DIR", edited)
    assert cache.code_token() != installed
    assert read() == [0, 1, 2] and calls == [1, 1]  # new code, rebuilt


def test_failed_write_publishes_nothing(scratch):
    """A ``write`` that raises leaves no generation and no staging dir
    behind, and the next call builds the generation afresh."""
    tmp_path, src = scratch

    def broken(d):
        os.makedirs(d)
        with open(os.path.join(d, "part-0"), "w") as fh:
            fh.write("half")
        raise OSError("disk full")

    with pytest.raises(OSError, match="disk full"):
        cache.generation_dir(str(tmp_path), "fam", "layout", [src], broken)
    root = os.path.join(sess.SCRATCH_ROOT, "fam", os.path.basename(str(tmp_path)))
    assert os.listdir(root) == []

    def good(d):
        os.makedirs(d)
        with open(os.path.join(d, "part-0"), "w") as fh:
            fh.write("whole")

    base = cache.generation_dir(str(tmp_path), "fam", "layout", [src], good)
    assert os.listdir(root) == [os.path.basename(base)]
    assert sorted(os.listdir(base)) == ["_SUCCESS", "part-0"]
    with open(os.path.join(base, "part-0")) as fh:
        assert fh.read() == "whole"


def test_generation_without_success_is_replaced(spark, scratch):
    """A leftover ``<name>_<stamp>`` dir without ``_SUCCESS`` (a crash
    or an interrupted prune) is rebuilt, not served."""
    from pinterest_data_pipeline400_spark.plans.training_data import cached_frame

    tmp_path, src = scratch
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).selectExpr("id AS v")

    def read():
        return sorted(
            r.v
            for r in cached_frame(
                spark, str(tmp_path), "fam", "nm", src, build
            ).collect()
        )

    assert read() == [0, 1, 2]
    (base,) = [
        os.path.join(dp, d)
        for dp, dirs, _ in os.walk(sess.SCRATCH_ROOT)
        for d in dirs
        if d.startswith("nm_")
    ]
    # leave a partial generation: stale rows, no _SUCCESS
    shutil.rmtree(base)
    spark.range(100, 105).selectExpr("id AS v").write.parquet(base)
    os.remove(os.path.join(base, "_SUCCESS"))

    assert read() == [0, 1, 2] and calls == [1, 1]
    assert os.path.exists(os.path.join(base, "_SUCCESS"))


def test_benchmark_entries_never_hash_the_source(spark, monkeypatch):
    """The entries the benchmark times (pin_etl's cleans and pq queries,
    stream_ingest's drains) open no cache, so none of them pays for
    reading and hashing the package."""
    import __spark_entry__ as em
    from perfbench.workloads import DRAINS, pin_entries

    from tests.conftest import TEST_SF_DIR

    def refuse(*_args, **_kwargs):
        raise AssertionError("code token computed")

    monkeypatch.setattr(cache, "code_token", refuse)
    queries = em.queries()
    for name in [*pin_entries(queries), *DRAINS]:
        queries[name](spark, TEST_SF_DIR).toPandas()

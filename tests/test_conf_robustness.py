"""Results must not depend on runtime tuning confs: whole-stage codegen
off (interpreted evaluation), AQE off (static planning), and an awkward
shuffle partition count must all produce value-identical frames — the
engine's determinism rules (integer arithmetic, rounding before
comparison, explicit tiebreaks) are what guarantee this, and this suite
is what proves the guarantee instead of asserting it in docstrings.

These are exactly the knobs that differ between a laptop test run and a
tuned 1000-executor cluster, so conf-sensitivity here would mean
scale-up changes answers."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from tests.conftest import TEST_SF_DIR, assert_frames_match

def _representatives():
    """Raw plan functions, NOT the registry wrappers: the wrapper
    re-pins spark.sql.shuffle.partitions on every call (by design, for
    foreign driver sessions), which would silently undo the
    weird_shuffle override and make that case vacuous. The pytest
    session already carries the engine's base confs."""
    from pinterest_data_pipeline400_spark.plans import (
        events_queries,
        relational_extra,
        tpch_queries,
        training_data,
    )

    return {
        # join -> group -> window top-1 (the flagship spine)
        "q1_top_priority_per_nation": tpch_queries.q1_top_priority_per_nation,
        # banded LSH self-join + verify (the dedup spine)
        "docs_dup_minhash_pairs": training_data.docs_dup_minhash_pairs,
        # exact-cents fact rollup with pushed filter
        "q_pricing_summary": relational_extra.q_pricing_summary,
        # RANGE-frame window over a partitioned key
        "orders_rolling_90d_spend": relational_extra.orders_rolling_90d_spend,
        # broadcast-threshold bucketing (1-row agg broadcast back)
        "ev_value_deciles_bounded": events_queries.ev_value_deciles_bounded,
        # decorrelated multi-EXISTS: per-order count-distinct aggregate
        # + exactly-one argmax recovery + bounded top-N (round-6 shape)
        "q_waiting_suppliers": relational_extra.q_waiting_suppliers,
        # micro-integer zip_with distance folds + struct-min argmin
        # (the PQ/ANN integer-arithmetic discipline, round-6 late)
        "emb_pq_error": training_data.emb_pq_error,
        # orderkey-co-partitioned self-join + broadcast margins + one
        # double lift expression per bounded pair (round-6 late)
        "q_basket_lift_pairs": relational_extra.q_basket_lift_pairs,
    }


REPRESENTATIVES = sorted(_representatives())

HOSTILE_CONFS = {
    "codegen_off": {"spark.sql.codegen.wholeStage": "false"},
    "aqe_off": {"spark.sql.adaptive.enabled": "false"},
    "weird_shuffle": {"spark.sql.shuffle.partitions": "7"},
}


@contextmanager
def _confs(spark, overrides: dict):
    saved = {}
    for k, v in overrides.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def test_rfm_medians_honor_percentile_scale_switch(spark, monkeypatch):
    """orders_rfm_segments must route its three median thresholds
    through config.percentile_exact() like every other percentile
    entry: approx mode swaps the plan to the bounded-memory
    percentile_approx sketch (no exact-percentile buffer in the final
    aggregate task) while segmentation stays sane — same segment
    labels, same total customer count, per-segment counts within the
    sketch tolerance of the exact run."""
    from pinterest_data_pipeline400_spark.plans import relational_extra

    exact = {
        r["segment"]: r["n_customers"]
        for r in relational_extra.orders_rfm_segments(spark, TEST_SF_DIR).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_PERCENTILE_MODE", "approx")
    approx_df = relational_extra.orders_rfm_segments(spark, TEST_SF_DIR)
    plan = approx_df._jdf.queryExecution().optimizedPlan().toString()
    assert "percentile_approx" in plan
    assert "percentile(" not in plan.replace("percentile_approx(", "")
    approx = {r["segment"]: r["n_customers"] for r in approx_df.collect()}
    total = sum(exact.values())
    assert sum(approx.values()) == total  # every customer still lands once
    assert set(approx) <= set(exact) | {"new", "hibernating"}
    for seg, n in exact.items():
        # thresholds shift by at most the sketch error -> counts close
        assert abs(approx.get(seg, 0) - n) <= max(5, 0.05 * total), (seg, n, approx)


@pytest.mark.parametrize("conf_name", sorted(HOSTILE_CONFS))
@pytest.mark.parametrize("entry", REPRESENTATIVES)
def test_results_invariant_under_runtime_confs(spark, entry, conf_name):
    fn = _representatives()[entry]
    baseline = fn(spark, TEST_SF_DIR).toPandas()
    with _confs(spark, HOSTILE_CONFS[conf_name]):
        assert spark.conf.get(list(HOSTILE_CONFS[conf_name])[0]) == list(
            HOSTILE_CONFS[conf_name].values()
        )[0]
        hostile = fn(spark, TEST_SF_DIR).toPandas()
    assert_frames_match(baseline, hostile, f"{entry}[{conf_name}]")


def test_psi_thresholds_honor_percentile_scale_switch(spark, monkeypatch):
    """ev_psi_value_drift's reference deciles ride the same
    exact<->sketch switch as ev_value_deciles_bounded: approx mode
    swaps the plan to percentile_approx while the drift verdict stays
    sane (window totals identical, PSI within the bin-wobble of the
    exact run)."""
    from pinterest_data_pipeline400_spark.plans import events_queries as eq

    exact = {
        r["event_type"]: r for r in eq.ev_psi_value_drift(spark, TEST_SF_DIR).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_PERCENTILE_MODE", "approx")
    approx_df = eq.ev_psi_value_drift(spark, TEST_SF_DIR)
    plan = approx_df._jdf.queryExecution().optimizedPlan().toString()
    assert "percentile_approx" in plan
    assert "percentile(" not in plan.replace("percentile_approx(", "")
    for r in approx_df.collect():
        e = exact[r["event_type"]]
        assert (r["n_ref"], r["n_cur"]) == (e["n_ref"], e["n_cur"])
        # sketchy thresholds wobble bin populations, not the verdict:
        # identical halves of one distribution stay far under the gate
        assert abs(r["psi_nano"] - e["psi_nano"]) < 100_000_000
        assert r["drifted"] == e["drifted"]


def test_frame_cache_cold_flag_bypasses_disk(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_FRAME_CACHE=cold (the switch that lets a timed run
    measure the operator, not one parquet read of its cached output)
    returns the lazy build plan without reading
    OR publishing the disk cache — and the same call without the flag
    publishes a generation as before."""
    import os

    from pinterest_data_pipeline400_spark import session as sess
    from pinterest_data_pipeline400_spark.plans.training_data import cached_frame

    src = tmp_path / "src.parquet"
    spark.range(5).toPandas().to_parquet(src)
    monkeypatch.setattr(sess, "SCRATCH_ROOT", str(tmp_path / "scratch"))
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).selectExpr("id AS v")

    monkeypatch.setenv("SPARK_GRAFT_FRAME_CACHE", "cold")
    out = cached_frame(spark, str(tmp_path), "fam", "nm", str(src), build)
    assert out.count() == 3 and calls == [1]
    # cold mode never touches disk: no generation dir exists
    assert not (tmp_path / "scratch").exists()
    # a second cold call rebuilds (no hidden memoization)
    cached_frame(spark, str(tmp_path), "fam", "nm", str(src), build)
    assert calls == [1, 1]

    monkeypatch.delenv("SPARK_GRAFT_FRAME_CACHE")
    warm = cached_frame(spark, str(tmp_path), "fam", "nm", str(src), build)
    assert warm.count() == 3 and calls == [1, 1, 1]
    # warm path published a _SUCCESS-gated generation…
    import glob

    gens = glob.glob(str(tmp_path / "scratch" / "fam" / "*" / "nm_*"))
    assert gens and os.path.exists(os.path.join(gens[0], "_SUCCESS"))
    # …and a repeat warm call serves it without rebuilding
    cached_frame(spark, str(tmp_path), "fam", "nm", str(src), build)
    assert calls == [1, 1, 1]

"""Foreign-session regression tests: the driver builds ITS OWN
SparkSession (entry()/queries() contract) with none of this engine's
builder defaults — a non-UTC time zone and 200 shuffle partitions being
the dangerous ones. The registry wrapper must pin the
correctness-critical confs per call (session.ensure_runtime_confs);
these tests run timestamp-sensitive entries through a hostile session
and require oracle equality, so a regression in the wrapper fails HERE
rather than in the driver's harness.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import TEST_SF_DIR, assert_frames_match, rewrite_oracle_sf

#: timestamp/date-heavy entries — the ones a wrong session TZ breaks —
#: plus the stateful streaming entries: those pin their state-store
#: partition count from SESSION conf at first checkpoint
#: (session.scoped_state_partitions), and with the round-4 registration
#: rotation the driver's own session executes them for the first time,
#: so the mis-configured sibling must prove the pinning holds when the
#: session arrives with 200 shuffle partitions and a non-UTC zone.
SENSITIVE = [
    "ev_windowed_counts",
    "ev_sessionization",
    "ev_rollup_multigrain",
    "ev_hll_distinct_rollup",
    "ev_partition_pruned_scan",
    "pq2_category_count_per_year",
    "q7_median_acctbal_by_year",
    "stream_stateful_user_counts",
    "stream_dedup_watermarked",
    "stream_stateful_counts_rocksdb",
    "stream_clean_pin",
    # theta keys on concat(user_id, to_date(ts)) and KLL groups by
    # to_date(ts) — both shift under a non-UTC session zone unless the
    # wrapper pins UTC
    "ev_theta_user_overlap",
    "ev_kll_quantile_rollup",
    # round-4 behavioral entries: retention emits date-string cohorts
    # (date_trunc + date_format — the most TZ-fragile shape in the
    # repo), hopping/session windows bucket wall-clock time, and the
    # set-ops entry filters on timestamp literals
    "ev_retention_cohorts",
    "ev_hopping_counts",
    "ev_session_window_native",
    "ev_rolling_hourly_zscore",
    "ev_set_ops_users",
    "ev_funnel_stages",
    # round-4 late additions: both gap-fill spines cast ts -> date and
    # emit ISO day strings (TZ-fragile on both ends); SCD-2 casts
    # o_orderdate -> date and formats interval bounds
    "ev_daily_gapfill",
    "ev_daily_gapfill_seq",
    "orders_priority_scd2",
    # cube grains bucket by ISO day string from ts — TZ-fragile
    "ev_cube_day_type",
    # the z-ordered copy derives its day strings (and the Morton key)
    # from ts at WRITE time and caches the layout across sessions
    "ev_zorder_pruned_scan",
    # round-9 additions touching event time or streaming state: the
    # hourly HW spine derives epoch hours from ts (unix_micros is
    # TZ-free by construction — this pins that), user PageRank orders
    # the transition window by ts, and the band-owner dedup is a
    # stateful streaming pipeline whose state partition count must
    # pin against the hostile 200-partition session
    "ev_holt_winters_forecast",
    "ev_pagerank_users",
    "stream_neardup_dedup",
    # registers the kinesis_envelope Python data source on the session
    # it runs in; the fixture registers it on the engine session first,
    # as a run of the registry does before the driver's session arrives
    "pyds_stream_envelope_user",
]


@pytest.fixture(scope="module")
def hostile(spark):
    """A sibling session sharing the SparkContext but with its own SQL
    conf, deliberately mis-set the way a naive driver session would be.
    The engine session has registered the envelope connector already."""
    from pinterest_data_pipeline400_spark.sources.envelope_datasource import (
        register_envelope_source,
    )

    register_envelope_source(spark)
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    s.conf.set("spark.sql.shuffle.partitions", "200")
    return s


@pytest.mark.parametrize("name", SENSITIVE)
def test_entry_survives_foreign_session(hostile, duck, name):
    fn = entrymod.queries()[name]
    got = fn(hostile, TEST_SF_DIR).toPandas()
    want = duck.execute(
        rewrite_oracle_sf(entrymod.oracle_sql()[name])
    ).fetchdf()
    assert_frames_match(got, want, name)

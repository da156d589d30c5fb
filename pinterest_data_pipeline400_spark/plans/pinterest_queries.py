"""Pinterest-literal pipelines and queries (SURVEY.md §2.10) over the
seeded dirty fixtures, each with a DuckDB oracle over the SAME parquet.

This is the compat API surface: the three cleaning pipelines
(mount.py:96-174, 178-199, 203-223) plus the eight canonical queries
(mount.py:227-445), re-expressed as declarative DataFrame plans. The
oracle SQL strings reconstruct the identical semantics as DuckDB CTEs
reading the same fixture parquet — so the driver's value-hash compare
covers the *whole* pipeline, cleaning included.

Determinism rules (SURVEY.md §7 hard parts 3-4), applied on BOTH sides:
  * every row_number window carries a deterministic tiebreak column
    (the reference's bare ``ORDER BY count DESC`` ties are engine-luck);
  * medians default to exact interpolated percentile (Spark
    ``percentile`` == DuckDB ``quantile_cont``); the scale path
    (``percentile_approx`` sketch) is behind ``config.percentile_exact``;
  * the imputation median is unique by fixture construction (odd count
    of parseable values — generator.py), so approxQuantile(rel=0.0),
    ``percentile`` and ``quantile_cont`` all agree.

Scale notes: the three cleaned tables are checkpointed per (session,
fixture) — clean once, query many — and so are the two joins the
queries read: the pin⋈geo⋈user join (pq1-pq5) and the pin⋈user join
(pq7/pq8), each projected to the columns its consumers read. Joins use
``on='ind'`` (single key column; SURVEY.md §2.10 quirk 4 fix); at
fixture scale geo and user broadcast into pin's scan, and every query's
groupBy then shuffles the checkpointed join on its own key. pq3b is
orderBy+limit (TakeOrderedAndProject), never a one-partition window.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..generator import fixture_dir_for
from ..operators.analytics import bucketize, global_top, median_expr, top_per_group
from ..operators.clean import clean_geo, clean_pin, clean_user
from ..schemas import PIN_CLEAN_COLUMNS
from .pin_oracle import ORACLE_FX, _ctes  # noqa: F401 — re-exported compat names
from .registry import REGISTRY

# --------------------------------------------------------------------------
# Spark side: raw loads + per-session memo of the cleaned tables and joins
# --------------------------------------------------------------------------

# The clean-once memo lives ON the session object ({(fixture dir, kind)
# → tables or join} under this attribute), so its lifetime is exactly
# the session's. A module-global dict keyed by id(spark) would be wrong
# twice over: a dead session's entry never leaves, and CPython can
# reuse the freed id for a NEW session, serving it another session's
# checkpointed DataFrames. (A WeakKeyDictionary doesn't work either:
# the cached DataFrames reference their session, and values that refer
# to their key keep WeakKeyDictionary entries alive forever.)
_CACHE_ATTR = "_pdp400_cleaned_cache"


def _session_memo(spark: SparkSession, key: tuple, build):
    """``build()`` once per (session, ``key``); later calls return the
    same object."""
    memo = getattr(spark, _CACHE_ATTR, None)
    if memo is None:
        memo = {}
        setattr(spark, _CACHE_ATTR, memo)
    if key not in memo:
        memo[key] = build()
    return memo[key]


def raw_tables(spark: SparkSession, fx_dir: str) -> dict[str, DataFrame]:
    return {
        name: spark.read.parquet(os.path.join(fx_dir, f"{name}.parquet"))
        for name in ("pin_raw", "geo_raw", "user_raw")
    }


def cleaned_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Clean-once-query-many: the cleaned pin/geo/user tables,
    materialized once per (session, fixture dir). ``sf_dir`` is the
    driver's testdata dir; it maps to the same-scale pinterest fixture
    dir.

    Materialization is ``localCheckpoint`` rather than ``persist``:
    the registry defensively ``clearCache()``s at the start of every
    query call (see registry.py), which would evict a persisted clean
    and force every pq entry to re-run the whole ETL.
    Checkpointed RDD blocks live outside the SQL cache manager, so the
    clean truly runs once per session. This mirrors production shape:
    cleaned tables are an ETL *output* a real deployment writes to
    storage (sources/sinks.py) and re-reads — on a cluster, replace the
    localCheckpoint (non-replicated executor blocks) with a parquet
    write-and-read-back or a reliable checkpoint dir (the
    ``cleaned_tables_roundtrip`` entry proves that substitution
    result-identical)."""
    fx_dir = fixture_dir_for(sf_dir)

    def build() -> dict[str, DataFrame]:
        raw = raw_tables(spark, fx_dir)
        return {
            "pin": clean_pin(raw["pin_raw"]).localCheckpoint(),
            "geo": clean_geo(raw["geo_raw"]).localCheckpoint(),
            "user": clean_user(raw["user_raw"]).localCheckpoint(),
        }

    return _session_memo(spark, (fx_dir, "cleaned"), build)


def _joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-way join (mount.py:233-234), checkpointed once per
    (session, fixture) like :func:`cleaned_tables`, and projected to
    the only columns its seven consumers (pq1, pq2, pq3a, pq3b, pq4,
    pq5 and pq5_manual_median, plus their SQL twins) read. Without the
    memo each of them re-scanned the wide cleaned pin table (title,
    description and tag text included) and launched its own broadcast
    jobs for geo and user. On a cluster this becomes a
    write-and-read-back too (see :func:`cleaned_tables`)."""

    def build() -> DataFrame:
        t = cleaned_tables(spark, sf_dir)
        return (
            t["pin"]
            .join(t["geo"], on="ind", how="inner")
            .join(t["user"], on="ind", how="inner")
            .select(
                "country", "category", "poster_name", "follower_count",
                F.col("timestamp").alias("ts"), "age",
            )
            .localCheckpoint()
        )

    return _session_memo(spark, (fixture_dir_for(sf_dir), "joined"), build)


def _pin_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pin⋈user (no geo — the reference's pin_user_age_group view,
    mount.py:389-391), memoised like :func:`_joined` and projected to
    the columns pq7/pq8 and their twins read."""

    def build() -> DataFrame:
        t = cleaned_tables(spark, sf_dir)
        return (
            t["pin"]
            .join(t["user"], on="ind", how="inner")
            .select("follower_count", "user_name", "age", "date_joined")
            .localCheckpoint()
        )

    return _session_memo(spark, (fixture_dir_for(sf_dir), "pin_user"), build)


def _median(col: str, alias: str) -> F.Column:
    """Exact percentile for oracle runs, percentile_approx sketch for
    scale — the engine-wide env switch (see operators.analytics)."""
    return median_expr(col).alias(alias)


# Age buckets, batch form: mount.py:313-318 ('+50' / 'Unknown' labels).
# between() bounds are inclusive on both sides, exactly like the
# reference's chained when(between) — bucketize shares that semantic.
_AGE_EDGES = [
    (18, 24, "18-24"),
    (25, 35, "25-35"),
    (36, 50, "36-50"),
    (51, 2_147_483_647, "+50"),  # age > 50 on an int column
]


def _age_group_batch() -> F.Column:
    return bucketize(F.col("age"), _AGE_EDGES, otherwise="Unknown")


# Age buckets, SQL-view form: mount.py:393-398 ('50+' label, NO else → NULL).
_AGE_GROUP_SQL_FORM = (
    "CASE WHEN age BETWEEN 18 AND 24 THEN '18-24' "
    "WHEN age BETWEEN 25 AND 35 THEN '25-35' "
    "WHEN age BETWEEN 36 AND 50 THEN '36-50' "
    "WHEN age > 50 THEN '50+' END"
)

_AGE_GROUP_BATCH_SQL = (
    "CASE WHEN age BETWEEN 18 AND 24 THEN '18-24' "
    "WHEN age BETWEEN 25 AND 35 THEN '25-35' "
    "WHEN age BETWEEN 36 AND 50 THEN '36-50' "
    "WHEN age > 50 THEN '+50' ELSE 'Unknown' END"
)


# --------------------------------------------------------------------------
# Oracle side: DuckDB CTEs reconstructing the cleaned tables
# (shared helpers live in pin_oracle.py so streaming/source plan modules
# can build their oracles without registering this module's entries)
# --------------------------------------------------------------------------


def _oracle(body: str) -> str:
    return f"WITH {_ctes(ORACLE_FX)}\n    {body}"


# 3-way join (mount.py:233-234), single `ind` key on both sides.
_JOINED_SQL = (
    "SELECT p.*, g.country, g.ts, u.user_name, u.age, u.date_joined "
    "FROM pin p JOIN geo g USING (ind) JOIN usr u USING (ind)"
)


def _register_views(spark: SparkSession, sf_dir: str) -> None:
    """Temp views over the two memoised joins and the cleaned user
    table — the S9/§3.3 SQL entry point (mount.py:389-391 registered
    its joined view the same way). Every pq*_sql twin parses through
    Spark's SQL front end and reads the same checkpointed join (or
    table) as its DataFrame original, so both land on the same
    Catalyst plans."""
    cleaned_tables(spark, sf_dir)["user"].createOrReplaceTempView("user_v")
    _joined(spark, sf_dir).createOrReplaceTempView("pin_geo_user_v")
    _pin_user(spark, sf_dir).createOrReplaceTempView("pin_user_v")


def _median_sql(col: str) -> str:
    """SQL-string form of :func:`median_expr` honoring the same
    exact-vs-sketch engine switch."""
    from ..config import PERCENTILE_ACCURACY, percentile_exact

    if percentile_exact():
        return f"percentile({col}, 0.5)"
    return f"percentile_approx({col}, 0.5, {PERCENTILE_ACCURACY})"


def _shared_oracle(name: str) -> str:
    """The oracle of an already-registered entry — SQL twins share their
    DataFrame original's oracle verbatim, so the two can never drift."""
    return REGISTRY.specs[name].oracle


# --------------------------------------------------------------------------
# cleaning pipelines as registry entries
# --------------------------------------------------------------------------

@REGISTRY.register(
    "pin_clean",
    oracle=_oracle(
        "SELECT " + ", ".join(PIN_CLEAN_COLUMNS) + " FROM pin"
    ),
    doc="pin cleaning pipeline (mount.py:96-174): na.replace, native "
    "follower_count parse, median imputation, fills, dedup, rename, "
    "regexp prefix strip",
)
def pin_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cleaned_tables(spark, sf_dir)["pin"]


@REGISTRY.register(
    "geo_clean",
    oracle=_oracle(
        'SELECT ind, country, latitude AS coord_lat, longitude AS coord_lon, '
        'ts AS "timestamp" FROM geo'
    ),
    doc="geo cleaning pipeline (mount.py:178-199): array(lat,lon) "
    "coordinates, timestamp cast. Compared via array elements (driver "
    "hash needs scalar columns); the array itself is asserted in pytest.",
)
def geo_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    geo = cleaned_tables(spark, sf_dir)["geo"]
    return geo.select(
        "ind",
        "country",
        F.col("coordinates")[0].alias("coord_lat"),
        F.col("coordinates")[1].alias("coord_lon"),
        "timestamp",
    )


@REGISTRY.register(
    "user_clean",
    oracle=_oracle("SELECT ind, user_name, age, date_joined FROM usr"),
    doc="user cleaning pipeline (mount.py:203-223): concat_ws user_name, "
    "timestamp cast, explicit int age (quirk 5)",
)
def user_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cleaned_tables(spark, sf_dir)["user"]


# --------------------------------------------------------------------------
# the eight canonical queries
# --------------------------------------------------------------------------

@REGISTRY.register(
    "pq1_top_category_per_country",
    oracle=_oracle(f"""
    , joined AS ({_JOINED_SQL}),
    counted AS (SELECT country, category, count(category) AS category_count
                FROM joined GROUP BY country, category),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY country
                 ORDER BY category_count DESC, category ASC) AS rn
               FROM counted)
    SELECT country, category, category_count FROM ranked WHERE rn = 1"""),
    doc="Q1 (mount.py:227-248): most popular category per country — "
    "3-way join → groupBy-count → window top-1 (deterministic tiebreak)",
)
def pq1_top_category_per_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    counted = (
        _joined(spark, sf_dir)
        .groupBy("country", "category")
        .agg(F.count("category").alias("category_count"))
    )
    return top_per_group(
        counted, ["country"], [F.col("category_count").desc(), F.col("category").asc()]
    ).select("country", "category", "category_count")


@REGISTRY.register(
    "pq2_category_count_per_year",
    oracle=_oracle(f"""
    , joined AS ({_JOINED_SQL})
    SELECT CAST(year(ts) AS INT) AS post_year, category,
           count(category) AS category_count
    FROM joined
    WHERE year(ts) BETWEEN 2018 AND 2022
    GROUP BY 1, 2"""),
    doc="Q2 (mount.py:250-268): category post counts per year 2018-2022",
)
def pq2_category_count_per_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _joined(spark, sf_dir)
        .withColumn("post_year", F.year("ts"))
        .filter(F.col("post_year").between(2018, 2022))
        .groupBy("post_year", "category")
        .agg(F.count("category").alias("category_count"))
    )


@REGISTRY.register(
    "pq3a_top_user_per_country",
    oracle=_oracle(f"""
    , joined AS ({_JOINED_SQL}),
    summed AS (SELECT country, poster_name,
                      CAST(sum(follower_count) AS BIGINT) AS follower_count
               FROM joined GROUP BY country, poster_name),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY country
                 ORDER BY follower_count DESC, poster_name ASC) AS rn
               FROM summed)
    SELECT country, poster_name, follower_count FROM ranked WHERE rn = 1"""),
    doc="Q3a (mount.py:270-289): user with most followers per country — "
    "groupBy-sum → window top-1",
)
def pq3a_top_user_per_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    summed = (
        _joined(spark, sf_dir)
        .groupBy("country", "poster_name")
        .agg(F.sum("follower_count").alias("follower_count"))
    )
    return top_per_group(
        summed, ["country"], [F.col("follower_count").desc(), F.col("poster_name").asc()]
    ).select("country", "poster_name", "follower_count")


@REGISTRY.register(
    "pq3b_top_country_overall",
    oracle=_oracle(f"""
    , joined AS ({_JOINED_SQL}),
    summed AS (SELECT country, poster_name,
                      CAST(sum(follower_count) AS BIGINT) AS follower_count
               FROM joined GROUP BY country, poster_name),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY country
                 ORDER BY follower_count DESC, poster_name ASC) AS rn
               FROM summed),
    top_user AS (SELECT country, follower_count FROM ranked WHERE rn = 1)
    SELECT country, follower_count FROM top_user
    ORDER BY follower_count DESC, country ASC LIMIT 1"""),
    doc="Q3b (mount.py:292-300): country of the globally top user. The "
    "reference's one-partition window (W2) is replaced by orderBy+limit "
    "(TakeOrderedAndProject) — same result, scale-safe. The per-country "
    "window of the reference's two-step (q3a then global max) is "
    "dropped entirely: the global argmax over the per-(country, poster) "
    "sums IS its own country's argmax, so one TakeOrderedAndProject "
    "over the aggregate replaces shuffle+window+argmax — the oracle "
    "keeps the literal two-step shape and hash-agrees.",
)
def pq3b_top_country_overall(spark: SparkSession, sf_dir: str) -> DataFrame:
    summed = (
        _joined(spark, sf_dir)
        .groupBy("country", "poster_name")
        .agg(F.sum("follower_count").alias("follower_count"))
    )
    return global_top(
        summed,
        [
            F.col("follower_count").desc(),
            F.col("country").asc(),
            F.col("poster_name").asc(),
        ],
    ).select("country", "follower_count")


@REGISTRY.register(
    "pq4_top_category_per_age_group",
    oracle=_oracle(f"""
    , joined AS ({_JOINED_SQL}),
    bucketed AS (SELECT {_AGE_GROUP_BATCH_SQL} AS age_group, category FROM joined),
    counted AS (SELECT age_group, category, count(category) AS category_count
                FROM bucketed GROUP BY age_group, category),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY age_group
                 ORDER BY category_count DESC, category ASC) AS rn
               FROM counted)
    SELECT age_group, category, category_count FROM ranked WHERE rn = 1"""),
    doc="Q4 (mount.py:302-331): most popular category per age group — "
    "CASE bucket → groupBy-count → window top-1",
)
def pq4_top_category_per_age_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    counted = (
        _joined(spark, sf_dir)
        .withColumn("age_group", _age_group_batch())
        .groupBy("age_group", "category")
        .agg(F.count("category").alias("category_count"))
    )
    return top_per_group(
        counted, ["age_group"], [F.col("category_count").desc(), F.col("category").asc()]
    ).select("age_group", "category", "category_count")


@REGISTRY.register(
    "pq4_sql",
    oracle=_oracle(f"""
    , joined AS ({_JOINED_SQL}),
    bucketed AS (SELECT {_AGE_GROUP_BATCH_SQL} AS age_group, category FROM joined),
    counted AS (SELECT age_group, category, count(category) AS category_count
                FROM bucketed GROUP BY age_group, category),
    ranked AS (SELECT *, row_number() OVER (
                 PARTITION BY age_group
                 ORDER BY category_count DESC, category ASC) AS rn
               FROM counted)
    SELECT age_group, category, category_count FROM ranked WHERE rn = 1"""),
    doc="Q4 as pure SQL over temp views (S9 + §3.3 SQL entry point, "
    "mount.py:389-398 pattern; expr-string window = W3). Same oracle as "
    "pq4 — the parity test asserts SQL twin ≡ DataFrame plan.",
)
def pq4_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    return spark.sql(f"""
        WITH counted AS (
          SELECT {_AGE_GROUP_BATCH_SQL} AS age_group, category,
                 count(category) AS category_count
          FROM pin_geo_user_v GROUP BY 1, 2
        ),
        ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY age_group
            ORDER BY category_count DESC, category ASC) AS rn
          FROM counted
        )
        SELECT age_group, category, category_count FROM ranked WHERE rn = 1
    """)


@REGISTRY.register(
    "pq5_median_followers_per_age_group",
    oracle=_oracle(f"""
    , joined AS ({_JOINED_SQL}),
    bucketed AS (SELECT {_AGE_GROUP_BATCH_SQL} AS age_group, follower_count FROM joined)
    SELECT age_group, quantile_cont(follower_count, 0.5) AS median_follower_count
    FROM bucketed GROUP BY age_group"""),
    doc="Q5 (mount.py:333-363): median follower count per age group. "
    "Defined as the percentile over the FULL group (SURVEY §2.10 quirk 2 "
    "decision — matches Q7/Q8 semantics); the reference's manual "
    "row_number scaffolding survives verbatim as pq5_manual_median.",
)
def pq5_median_followers_per_age_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucketed = _joined(spark, sf_dir).withColumn("age_group", _age_group_batch())
    return bucketed.groupBy("age_group").agg(
        _median("follower_count", "median_follower_count")
    )


@REGISTRY.register(
    "pq5_manual_median",
    oracle=_oracle(f"""
    , joined AS ({_JOINED_SQL}),
    bucketed AS (SELECT {_AGE_GROUP_BATCH_SQL} AS age_group, follower_count FROM joined),
    windowed AS (SELECT age_group, follower_count,
                        row_number() OVER (PARTITION BY age_group
                                           ORDER BY follower_count) AS rn,
                        count(*) OVER (PARTITION BY age_group) AS total_count
                 FROM bucketed),
    middle AS (SELECT * FROM windowed
               WHERE rn = total_count / 2 OR rn = total_count / 2 + 1)
    SELECT age_group, quantile_cont(follower_count, 0.5) AS median_follower_count
    FROM middle GROUP BY age_group"""),
    doc="The reference's manual-median scaffolding, reproduced faithfully "
    "(mount.py:347-363): expr-string row_number (W3) + windowed count(*) "
    "(W4) + disjunctive rank filter (P9), then percentile of the <=2 "
    "middle rows. Quirk preserved: odd-sized groups select NO rows "
    "(total/2 is fractional) and vanish from the output — both engines "
    "agree because the arithmetic is identical. SCALE WARNING: this is "
    "compat-only — the window partitions ALL pre-aggregation rows by a "
    "5-value key (5 giant partitions at 100 TB). pq5 proper (grouped "
    "percentile, sketch-switched) is the scale path; keep this one for "
    "API compatibility, not production.",
)
def pq5_manual_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucketed = _joined(spark, sf_dir).withColumn("age_group", _age_group_batch())
    windowed = bucketed.withColumn(
        "rn", F.expr("row_number() OVER (PARTITION BY age_group ORDER BY follower_count)")
    ).withColumn("total_count", F.expr("count(*) OVER (PARTITION BY age_group)"))
    middle = windowed.filter(
        (F.col("rn") == F.col("total_count") / 2)
        | (F.col("rn") == F.col("total_count") / 2 + 1)
    )
    return middle.groupBy("age_group").agg(
        F.percentile("follower_count", 0.5).alias("median_follower_count")
    )


@REGISTRY.register(
    "pq6_users_joined_per_year",
    oracle=_oracle("""
    SELECT CAST(year(date_joined) AS INT) AS post_year,
           count(*) AS number_users_joined
    FROM usr
    WHERE year(date_joined) BETWEEN 2015 AND 2020
    GROUP BY 1"""),
    doc="Q6 (mount.py:365-381): users joined per year 2015-2020",
)
def pq6_users_joined_per_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    user = cleaned_tables(spark, sf_dir)["user"]
    return (
        user.withColumn("post_year", F.year("date_joined"))
        .filter(F.col("post_year").between(2015, 2020))
        .groupBy("post_year")
        .agg(F.count(F.lit(1)).alias("number_users_joined"))
    )


@REGISTRY.register(
    "pq6b_users_joined_distinct",
    oracle=_oracle("""
    , dedup AS (SELECT DISTINCT user_name, age, date_joined,
                       CAST(year(date_joined) AS INT) AS post_year
                FROM usr)
    SELECT post_year, count(user_name) AS number_users_joined
    FROM dedup GROUP BY post_year"""),
    doc="Q6 distinct variant (mount.py:412-421): drop ind → distinct → "
    "count(user_name) — no year filter in the reference's code",
)
def pq6b_users_joined_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    user = cleaned_tables(spark, sf_dir)["user"]
    return (
        user.withColumn("post_year", F.year("date_joined"))
        .drop("ind")
        .distinct()
        .groupBy("post_year")
        .agg(F.count("user_name").alias("number_users_joined"))
    )


@REGISTRY.register(
    "pq7_median_followers_by_join_year",
    oracle=_oracle(f"""
    , pin_user AS (SELECT p.follower_count, u.user_name, u.date_joined
                   FROM pin p JOIN usr u USING (ind)),
    dedup AS (SELECT DISTINCT user_name, date_joined, follower_count FROM pin_user)
    SELECT CAST(year(date_joined) AS INT) AS post_year,
           quantile_cont(follower_count, 0.5) AS median_follower_count
    FROM dedup GROUP BY 1"""),
    doc="Q7 (mount.py:400-410): median follower count by joining year — "
    "pin⋈user → distinct(user_name,date_joined,follower_count) → year → "
    "median. Note: pin⋈user only (no geo), per the reference's "
    "pin_user_age_group view (mount.py:389-391).",
)
def pq7_median_followers_by_join_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _pin_user(spark, sf_dir)
        .select("user_name", "date_joined", "follower_count")
        .distinct()
        .withColumn("post_year", F.year("date_joined"))
        .groupBy("post_year")
        .agg(_median("follower_count", "median_follower_count"))
        .orderBy("post_year")
    )


@REGISTRY.register(
    "pq8_median_followers_by_year_age_group",
    oracle=_oracle(f"""
    , pin_user AS (SELECT p.follower_count, u.user_name, u.date_joined,
                          {_AGE_GROUP_SQL_FORM} AS age_group
                   FROM pin p JOIN usr u USING (ind)),
    dedup AS (SELECT DISTINCT user_name, age_group, date_joined, follower_count
              FROM pin_user)
    SELECT CAST(year(date_joined) AS INT) AS post_year, age_group,
           quantile_cont(follower_count, 0.5) AS median_follower_count
    FROM dedup GROUP BY 1, 2"""),
    doc="Q8 (mount.py:435-445): median follower count by joining year x "
    "age group. Uses the SQL-view bucket form ('50+', no ELSE → NULL "
    "group for under-18/unknown ages — mount.py:393-398) faithfully; the "
    "reference's comment mentions a 2015-2020 filter its code never "
    "applies, so neither do we.",
)
def pq8_median_followers_by_year_age_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _pin_user(spark, sf_dir)
        .withColumn("age_group", F.expr(_AGE_GROUP_SQL_FORM))
        .select("user_name", "age_group", "date_joined", "follower_count")
        .distinct()
        .withColumn("post_year", F.year("date_joined"))
        .groupBy("post_year", "age_group")
        .agg(_median("follower_count", "median_follower_count"))
        .orderBy("post_year", "age_group")
    )


# --------------------------------------------------------------------------
# SQL twins: every canonical query reachable from the SQL API as well
# (SURVEY §3.3 / §7 "DataFrame/SQL twins for each"; pq4_sql above is the
# reference's own SQL-form query, these complete the set). Each twin
# shares its DataFrame original's oracle string verbatim — a result
# divergence between the two APIs is a test failure by construction.
# --------------------------------------------------------------------------

@REGISTRY.register(
    "pq1_sql",
    oracle=_shared_oracle("pq1_top_category_per_country"),
    doc="Q1 as pure SQL over temp views — twin of pq1_top_category_per_country.",
)
def pq1_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    return spark.sql("""
        WITH counted AS (
          SELECT country, category, count(category) AS category_count
          FROM pin_geo_user_v GROUP BY country, category
        ),
        ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY country
            ORDER BY category_count DESC, category ASC) AS rn
          FROM counted
        )
        SELECT country, category, category_count FROM ranked WHERE rn = 1
    """)


@REGISTRY.register(
    "pq2_sql",
    oracle=_shared_oracle("pq2_category_count_per_year"),
    doc="Q2 as pure SQL over temp views — twin of pq2_category_count_per_year.",
)
def pq2_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    return spark.sql("""
        SELECT year(ts) AS post_year, category,
               count(category) AS category_count
        FROM pin_geo_user_v
        WHERE year(ts) BETWEEN 2018 AND 2022
        GROUP BY post_year, category
    """)


@REGISTRY.register(
    "pq3a_sql",
    oracle=_shared_oracle("pq3a_top_user_per_country"),
    doc="Q3a as pure SQL over temp views — twin of pq3a_top_user_per_country.",
)
def pq3a_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    return spark.sql("""
        WITH summed AS (
          SELECT country, poster_name, sum(follower_count) AS follower_count
          FROM pin_geo_user_v GROUP BY country, poster_name
        ),
        ranked AS (
          SELECT *, row_number() OVER (
            PARTITION BY country
            ORDER BY follower_count DESC, poster_name ASC) AS rn
          FROM summed
        )
        SELECT country, poster_name, follower_count FROM ranked WHERE rn = 1
    """)


@REGISTRY.register(
    "pq3b_sql",
    oracle=_shared_oracle("pq3b_top_country_overall"),
    doc="Q3b as pure SQL over temp views — twin of pq3b_top_country_overall "
    "(same windowless global-argmax plan: ORDER BY + LIMIT 1 over the "
    "aggregate compiles to TakeOrderedAndProject).",
)
def pq3b_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    return spark.sql("""
        WITH summed AS (
          SELECT country, poster_name, sum(follower_count) AS follower_count
          FROM pin_geo_user_v GROUP BY country, poster_name
        )
        SELECT country, follower_count FROM summed
        ORDER BY follower_count DESC, country ASC, poster_name ASC LIMIT 1
    """)


@REGISTRY.register(
    "pq5_sql",
    oracle=_shared_oracle("pq5_median_followers_per_age_group"),
    doc="Q5 as pure SQL over temp views — twin of "
    "pq5_median_followers_per_age_group; the median fragment honors the "
    "same exact-vs-sketch engine switch as median_expr.",
)
def pq5_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    return spark.sql(f"""
        WITH bucketed AS (
          SELECT {_AGE_GROUP_BATCH_SQL} AS age_group, follower_count
          FROM pin_geo_user_v
        )
        SELECT age_group,
               {_median_sql("follower_count")} AS median_follower_count
        FROM bucketed GROUP BY age_group
    """)


@REGISTRY.register(
    "pq6_sql",
    oracle=_shared_oracle("pq6_users_joined_per_year"),
    doc="Q6 as pure SQL over temp views — twin of pq6_users_joined_per_year.",
)
def pq6_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    return spark.sql("""
        SELECT year(date_joined) AS post_year,
               count(*) AS number_users_joined
        FROM user_v
        WHERE year(date_joined) BETWEEN 2015 AND 2020
        GROUP BY post_year
    """)


@REGISTRY.register(
    "pq7_sql",
    oracle=_shared_oracle("pq7_median_followers_by_join_year"),
    doc="Q7 as pure SQL over temp views — twin of "
    "pq7_median_followers_by_join_year.",
)
def pq7_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    return spark.sql(f"""
        WITH dedup AS (
          SELECT DISTINCT user_name, date_joined, follower_count FROM pin_user_v
        )
        SELECT year(date_joined) AS post_year,
               {_median_sql("follower_count")} AS median_follower_count
        FROM dedup GROUP BY post_year
    """)


@REGISTRY.register(
    "pq8_sql",
    oracle=_shared_oracle("pq8_median_followers_by_year_age_group"),
    doc="Q8 as pure SQL over temp views — twin of "
    "pq8_median_followers_by_year_age_group (SQL-view bucket form, "
    "'50+' label, no ELSE).",
)
def pq8_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    return spark.sql(f"""
        WITH dedup AS (
          SELECT DISTINCT user_name, {_AGE_GROUP_SQL_FORM} AS age_group,
                 date_joined, follower_count
          FROM pin_user_v
        )
        SELECT year(date_joined) AS post_year, age_group,
               {_median_sql("follower_count")} AS median_follower_count
        FROM dedup GROUP BY post_year, age_group
    """)


# --------------------------------------------------------------------------
# spatial near-pair join on the geo feed (grid-cell bucketing)
# --------------------------------------------------------------------------

GEO_RADIUS_MICRODEG = 500_000  # 0.5 degrees in micro-degrees
_GEO_R2 = GEO_RADIUS_MICRODEG * GEO_RADIUS_MICRODEG


@REGISTRY.register(
    "geo_near_pairs",
    oracle=f"""
    WITH g AS (SELECT ind,
                      CAST(round(latitude * 1000000) AS BIGINT) AS la,
                      CAST(round(longitude * 1000000) AS BIGINT) AS lo
               FROM read_parquet('{ORACLE_FX}/geo_raw.parquet')),
    cells AS (SELECT ind, la, lo,
                     CAST(floor(la / 1000000.0) AS BIGINT) AS cla,
                     CAST(floor(lo / 1000000.0) AS BIGINT) AS clo
              FROM g),
    probes AS (SELECT c.ind, c.la, c.lo,
                      c.cla + dx.x AS pla, c.clo + dy.y AS plo
               FROM cells c
               CROSS JOIN (SELECT unnest(range(-1, 2)) AS x) dx
               CROSS JOIN (SELECT unnest(range(-1, 2)) AS y) dy),
    pairs AS (SELECT a.ind AS ind_a, b.ind AS ind_b,
                     (a.la - b.la) * (a.la - b.la)
                     + (a.lo - b.lo) * (a.lo - b.lo) AS d2
              FROM probes a JOIN cells b
                ON b.cla = a.pla AND b.clo = a.plo AND a.ind < b.ind)
    SELECT ind_a, ind_b,
           CAST(round(sqrt(CAST(d2 AS DOUBLE)) / 1000) AS BIGINT)
             AS dist_millideg
    FROM pairs WHERE d2 <= {_GEO_R2}""",
    doc="SPATIAL NEAR-PAIR JOIN over the geo feed — the bucketed "
    "grid-cell pattern every distributed spatial join reduces to: "
    "coordinates quantize to micro-degree INTEGERS, each point hashes "
    "to its 1-degree cell, each point probes its 3x3 cell "
    "neighborhood (radius 0.5 deg <= cell size, so neighbor cells are "
    "candidate-COMPLETE by construction), candidates come from a pure "
    "cell equi-join — never an all-pairs scan — and the verify step "
    "is an exact integer squared planar distance against R^2 (one "
    "double sqrt only for the reported magnitude). Each unordered "
    "pair surfaces EXACTLY once (A probing B's home cell under "
    "ind_a < ind_b) — no dedup shuffle. Planar micro-degree distance "
    "is the deterministic candidate metric (haversine's sin/cos ride "
    "each engine's libm — the great-circle refinement belongs in a "
    "verify step at deployment, exactly like tau-verification after "
    "LSH banding); longitude wraparound at the antimeridian is "
    "documented out of scope for the fixture's degree grid. Scale "
    "shape: one narrow projection, a bounded 9x fan-out, one "
    "equi-join on the (uniform) cell key — pytest pins the pair set "
    "against a brute-force numpy recompute and the plan against "
    "nested loops.",
)
def geo_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx = fixture_dir_for(sf_dir)
    g = spark.read.parquet(f"{fx}/geo_raw.parquet").select(
        "ind",
        F.round(F.col("latitude") * 1000000).cast("long").alias("la"),
        F.round(F.col("longitude") * 1000000).cast("long").alias("lo"),
    )
    cells = g.select(
        "ind",
        "la",
        "lo",
        F.floor(F.col("la") / 1000000.0).cast("long").alias("cla"),
        F.floor(F.col("lo") / 1000000.0).cast("long").alias("clo"),
    ).persist()  # both join sides read it
    off = F.explode(
        F.expr(
            "flatten(transform(sequence(-1, 1), x ->"
            " transform(sequence(-1, 1), y -> struct(x AS x, y AS y))))"
        )
    ).alias("o")
    probes = cells.select("ind", "la", "lo", "cla", "clo", off).select(
        F.col("ind").alias("ind_a"),
        F.col("la").alias("la_a"),
        F.col("lo").alias("lo_a"),
        (F.col("cla") + F.col("o.x")).alias("pla"),
        (F.col("clo") + F.col("o.y")).alias("plo"),
    )
    b = cells.select(
        F.col("ind").alias("ind_b"),
        F.col("la").alias("la_b"),
        F.col("lo").alias("lo_b"),
        F.col("cla").alias("cla_b"),
        F.col("clo").alias("clo_b"),
    )
    d2 = (F.col("la_a") - F.col("la_b")) * (F.col("la_a") - F.col("la_b")) + (
        F.col("lo_a") - F.col("lo_b")
    ) * (F.col("lo_a") - F.col("lo_b"))
    return (
        probes.join(
            b,
            on=[
                F.col("pla") == F.col("cla_b"),
                F.col("plo") == F.col("clo_b"),
                F.col("ind_a") < F.col("ind_b"),
            ],
        )
        .select("ind_a", "ind_b", d2.alias("d2"))
        .filter(F.col("d2") <= _GEO_R2)
        .select(
            "ind_a",
            "ind_b",
            F.round(F.sqrt(F.col("d2").cast("double")) / 1000)
            .cast("long")
            .alias("dist_millideg"),
        )
    )

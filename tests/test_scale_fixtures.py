"""sf1 fixture-generator contracts (scale_fixtures.py): the 10x tables
must preserve referential integrity per replica, grow cardinality
exactly 10x, and salt document text so the dedup spine cannot
cross-match replicas. duckdb-only — no Spark session needed."""

from __future__ import annotations

import duckdb
import pytest

from pinterest_data_pipeline400_spark.scale_fixtures import (
    SF1_OFFSET,
    SF1_REPLICAS,
    SRC_SF,
    ensure_sf1,
)


@pytest.fixture(scope="module")
def sf1() -> str:
    return ensure_sf1()


def _one(sql: str):
    return duckdb.sql(sql).fetchone()


def test_cardinality_grows_exactly_10x(sf1):
    for t in ["customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        n0 = _one(f"SELECT count(*) FROM '{SRC_SF}/{t}.parquet'")[0]
        n1 = _one(f"SELECT count(*) FROM '{sf1}/{t}.parquet'")[0]
        assert n1 == SF1_REPLICAS * n0, t
    for t in ["region", "nation"]:  # bounded dimensions stay fixed
        n0 = _one(f"SELECT count(*) FROM '{SRC_SF}/{t}.parquet'")[0]
        n1 = _one(f"SELECT count(*) FROM '{sf1}/{t}.parquet'")[0]
        assert n1 == n0, t


def test_foreign_keys_stay_consistent_within_replicas(sf1):
    # every lineitem resolves to an order of the SAME replica, and
    # every order to a customer of the same replica — zero orphans
    orphans = _one(f"""
        SELECT count(*) FROM '{sf1}/lineitem.parquet' l
        LEFT JOIN '{sf1}/orders.parquet' o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IS NULL""")[0]
    assert orphans == 0
    orphans = _one(f"""
        SELECT count(*) FROM '{sf1}/orders.parquet' o
        LEFT JOIN '{sf1}/customer.parquet' c ON c.c_custkey = o.o_custkey
        WHERE c.c_custkey IS NULL""")[0]
    assert orphans == 0
    # and cross-replica joins are structurally impossible: key // OFFSET
    # identifies the replica on both sides of every FK
    mixed = _one(f"""
        SELECT count(*) FROM '{sf1}/lineitem.parquet' l
        JOIN '{sf1}/orders.parquet' o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_orderkey // {SF1_OFFSET} <> l.l_partkey // {SF1_OFFSET}""")[0]
    assert mixed == 0


def test_documents_are_salted_per_replica(sf1):
    # replica 0 is byte-identical to the source; later replicas tag
    # every 3rd token, so cross-replica shingle overlap collapses
    same = _one(f"""
        SELECT count(*) FROM '{sf1}/documents.parquet' s
        JOIN '{SRC_SF}/documents.parquet' b ON b.doc_id = s.doc_id
        WHERE s.text = b.text""")[0]
    n0 = _one(f"SELECT count(*) FROM '{SRC_SF}/documents.parquet'")[0]
    assert same == n0
    r1_tagged = _one(f"""
        SELECT count(*) FROM '{sf1}/documents.parquet'
        WHERE doc_id // {SF1_OFFSET} = 1 AND text NOT LIKE 'r1\\_%' ESCAPE '\\'""")[0]
    assert r1_tagged == 0


# ---------------------------------------------------------------------------
# sf10 second-decade builders
# ---------------------------------------------------------------------------
# The transform invariants are unit-tested cheaply here; the full sf10
# materialization (~4 GB) runs only in the opt-in stress lane, and
# `bench.py --lane scale sf1 sf10` exercises it end-to-end.

import os

import numpy as np

from pinterest_data_pipeline400_spark.scale_fixtures import (
    SF10_OFFSET,
    SF10_REPLICAS,
    SF1_ROOT,
    _replica_signs,
    _salt_all_tokens,
    ensure_sf10,
    ensure_sf10_fixtures,
)


def test_salt_all_tokens_is_structure_preserving():
    # 1:1 token map: identical texts stay identical, token-level edits
    # stay the same edits, and cross-replica token sets are disjoint
    a = "alpha beta gamma alpha"
    b = "alpha beta DELTA alpha"
    sa1, sb1 = _salt_all_tokens(a, 1), _salt_all_tokens(b, 1)
    assert sa1 == _salt_all_tokens(a, 1)  # deterministic
    assert len(sa1.split(" ")) == len(a.split(" "))  # no token splits
    # same positions differ pre- and post-salt (edit structure kept)
    diff = [i for i, (x, y) in enumerate(zip(sa1.split(" "), sb1.split(" "))) if x != y]
    assert diff == [2]
    # disjoint across replicas
    assert not set(sa1.split(" ")) & set(_salt_all_tokens(a, 2).split(" "))
    # norm_text survival: lowercase alnum token, no whitespace injected
    assert all(t.isalnum() for t in sa1.lower().split(" "))


def test_replica_signs_are_orthogonal_transforms():
    dim = 64
    for rep in range(1, SF10_REPLICAS):
        s = _replica_signs(rep, dim)
        assert set(np.unique(s)) <= {-1.0, 1.0}
        assert _replica_signs(rep, dim).tolist() == s.tolist()
    # pairwise-distinct masks: cross-replica cosine of a shared vector
    # stays far below the 0.99 near-dup verify threshold
    rng = np.random.default_rng(0)
    v = rng.standard_normal(dim)
    v /= np.linalg.norm(v)
    for a in range(1, SF10_REPLICAS):
        for b in range(a + 1, SF10_REPLICAS):
            cos = float(
                np.dot(v * _replica_signs(a, dim), v * _replica_signs(b, dim))
            )
            assert abs(cos) < 0.7, (a, b, cos)


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_STRESS"),
    reason="sf10 materialization is the opt-in stress lane (~4 GB)",
)
def test_sf10_tables_grow_10x_with_disjoint_replicas():
    sf10 = ensure_sf10()
    sf1dir = os.path.join(SF1_ROOT, "sf1")
    for t in ["lineitem", "documents", "embeddings"]:
        n1 = _one(f"SELECT count(*) FROM '{sf1dir}/{t}.parquet'")[0]
        n10 = _one(f"SELECT count(*) FROM '{sf10}/{t}.parquet/*.parquet'")[0]
        assert n10 == SF10_REPLICAS * n1, t
    orphans = _one(f"""
        SELECT count(*) FROM '{sf10}/lineitem.parquet/*.parquet' l
        LEFT JOIN '{sf10}/orders.parquet/*.parquet' o
          ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IS NULL""")[0]
    assert orphans == 0
    mixed = _one(f"""
        SELECT count(*) FROM '{sf10}/lineitem.parquet/*.parquet' l
        WHERE l_orderkey // {SF10_OFFSET} <> l_partkey // {SF10_OFFSET}""")[0]
    assert mixed == 0


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_STRESS"),
    reason="sf10 fixture replication is the opt-in stress lane",
)
def test_sf10_fixtures_preserve_planted_structure():
    fx = ensure_sf10_fixtures()
    # exact-dup groups replicate linearly: every replica contributes the
    # same number of (norm-identical) groups, none cross replicas
    groups = duckdb.sql(f"""
        SELECT doc_id // {SF10_OFFSET} AS rep, count(*) AS n FROM (
          SELECT lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS k,
                 min(doc_id) AS doc_id
          FROM '{fx}/docs_dup.parquet/*.parquet'
          GROUP BY k, doc_id // {SF10_OFFSET} HAVING count(*) > 1)
        GROUP BY rep ORDER BY rep""").fetchdf()
    assert len(groups) == SF10_REPLICAS
    assert groups.n.nunique() == 1  # identical planted count per replica
    # sentinel ids stay -1; planted src_ids stay replica-local
    bad = _one(f"""
        SELECT count(*) FROM '{fx}/docs_contain.parquet/*.parquet'
        WHERE src_id >= 0 AND src_id // {SF10_OFFSET} <> doc_id // {SF10_OFFSET}""")[0]
    assert bad == 0

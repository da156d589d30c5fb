"""sf1 driver-table fixtures: a real 10x scale jump for the scale lane.

The driver ships parquet at sf0.001/0.01/0.1 under /root/testdata (a
read-only mount), so the 10x lane materializes its own sf1 under the
repo's ``.fixtures/testdata/sf1`` by replicating sf0.1 ten times with
disjoint key spaces — the same construction the 40x stress tests use,
promoted to the full table set:

  * every synthetic key (custkey, orderkey, partkey, suppkey, event_id,
    user_id, doc_id, vec_id) offsets by ``replica * 10_000_000``, so
    foreign-key joins stay consistent within a replica and cardinality
    genuinely grows 10x (15k -> 150k customers, 600k -> 6M lineitems);
  * ``region``/``nation`` stay fixed — they are bounded dimensions at
    any scale (25 nations at 100 TB too);
  * ``documents.text`` salts every 3rd token with a replica tag for
    replicas > 0 (the stress-test perturbation): cross-replica shingle
    Jaccard lands ~0.33, far under tau 0.5, so the near-dup pair count
    scales LINEARLY with the corpus instead of exploding quadratically
    across identical copies;
  * ``embeddings`` replicate with offset vec_ids (vector content
    repeats; ANN cost depends on corpus size and bucket occupancy, not
    vector novelty — ties resolve by the deterministic id tiebreak).

Timestamps and dates are kept as-is: 10x rows in the same window is
densification, which is how real traffic scales; per-user/per-day
window sizes grow accordingly.

The pinterest-side fixtures (docs_dup, emb_dup, media) need no special
handling: ``fixture_dir_for`` maps any ``*/sf1`` dir onto
``ensure_fixtures("sf1")``, whose generator already scales by sf name
(sf_rows("sf1") = 1.1M).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

from .generator import REPO_ROOT

SF1_ROOT = os.path.join(REPO_ROOT, ".fixtures", "testdata")
SF1_VERSION = "1"
SF1_REPLICAS = 10
SF1_OFFSET = 10_000_000
SRC_SF = "/root/testdata/sf0.1"

#: key columns to offset per replica, per table
_KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
_FIXED = ["region", "nation"]


def _salt_text(text: str, rep: int, tag: str = "r") -> str:
    toks = text.split(" ")
    return " ".join(
        f"{tag}{rep}_{t}" if i % 3 == 0 else t for i, t in enumerate(toks)
    )


def ensure_sf1(src_sf: str = SRC_SF, root: str = SF1_ROOT) -> str:
    """Idempotently materialize the sf1 tables; returns the sf1 dir."""
    out_dir = os.path.join(root, "sf1")
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == SF1_VERSION:
                return out_dir
    staging = f"{out_dir}.tmp.{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging, exist_ok=True)
    for t in _FIXED:
        pd.read_parquet(os.path.join(src_sf, f"{t}.parquet")).to_parquet(
            os.path.join(staging, f"{t}.parquet"), index=False
        )
    for t, keys in _KEYED.items():
        base = pd.read_parquet(os.path.join(src_sf, f"{t}.parquet"))
        reps = []
        for rep in range(SF1_REPLICAS):
            r = base.copy()
            for k in keys:
                r[k] = r[k] + np.int64(rep * SF1_OFFSET)
            if t == "documents" and rep > 0:
                r["text"] = [_salt_text(x, rep) for x in r["text"]]
                r["n_chars"] = r["text"].str.len().astype(base["n_chars"].dtype)
            reps.append(r)
        pd.concat(reps, ignore_index=True).to_parquet(
            os.path.join(staging, f"{t}.parquet"), index=False
        )
    # Atomic publish (ADVICE r9): the marker is written INTO the staging
    # dir first, so the os.rename below is the single publish point — a
    # concurrent reader either sees the complete marked generation or
    # none at all, never a renamed-but-unmarked dir. If the rename loses
    # to a concurrent builder, re-check their marker and yield (the
    # cached_frame idiom) instead of interleaving rmtree/rename.
    with open(os.path.join(staging, "_DONE"), "w") as fh:
        fh.write(SF1_VERSION)
    shutil.rmtree(out_dir, ignore_errors=True)
    try:
        os.rename(staging, out_dir)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        with open(marker) as fh:
            if fh.read().strip() != SF1_VERSION:
                raise
    return out_dir


# ---------------------------------------------------------------------------
# sf10: the SECOND measured decade (VERDICT r12 task #3)
# ---------------------------------------------------------------------------
# The 100 TB design claims rested on one measured 10x jump (sf0.1 ->
# sf1). sf10 is 100x the default test scale — ten key-offset replicas
# of the sf1 tables — so the spine families' growth exponents get a
# second decade of evidence (sf1 -> sf10) instead of an extrapolation.
# Tables are written as PER-REPLICA part files inside a `<table>.parquet`
# DIRECTORY: pandas never holds the 10x concat (60M lineitems), and
# Spark/pyarrow read the directory natively with ten input splits.

SF10_VERSION = "1"
SF10_REPLICAS = 10
#: sf1 keys live in [0, 10 * SF1_OFFSET); the sf10 offset clears that
#: whole range per replica, so replica membership is key // SF10_OFFSET
SF10_OFFSET = 100_000_000

#: pinterest-side fixture tables the sf10 spine families read, with
#: their id column (and the -1-sentinel metadata id columns to offset
#: alongside, keeping planted-structure ids replica-local)
_PIN_SF10 = {
    "docs_dup": ("doc_id", []),
    "docs_contain": ("doc_id", ["src_id"]),
    "docs_spans": ("doc_id", ["span_id"]),
    "emb_dup": ("vec_id", []),
}


def _salt_all_tokens(text: str, rep: int) -> str:
    """Per-replica 1:1 token map: every token t -> r{rep}xt. norm_text
    only lowercases/collapses whitespace, so the salted token survives
    normalization as ONE token — the transform preserves every
    intra-replica relation the dedup fixtures plant (exact copies stay
    exact, token-edit distances, span positions/lengths, shingle
    containment) while making cross-replica token sets fully disjoint,
    so planted-pair counts scale LINEARLY with replicas."""
    return " ".join(f"r{rep}x{t}" for t in text.split(" "))


def _replica_signs(rep: int, dim: int):
    """Deterministic per-replica diag(+-1) orthogonal transform for the
    embedding fixture: intra-replica cosines are preserved EXACTLY
    (planted near-dup structure replicates verbatim), while the
    expected cross-replica cosine of iid unit vectors is N(0, 1/dim)
    — sd 0.125 at dim 64, astronomically far below the 0.99 near-dup
    verify threshold, so pair counts scale linearly."""
    rng = np.random.default_rng(7_000 + rep)
    return rng.choice(np.array([-1.0, 1.0], dtype=np.float32), size=dim)


def ensure_sf10(root: str = SF1_ROOT) -> str:
    """Idempotently materialize the sf10 DRIVER tables (10 x sf1, key
    offsets per replica, documents salted with a second-decade tag);
    returns the sf10 dir."""
    src = ensure_sf1()
    out_dir = os.path.join(root, "sf10")
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == SF10_VERSION:
                return out_dir
    staging = f"{out_dir}.tmp.{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging, exist_ok=True)
    for t in _FIXED:
        pd.read_parquet(os.path.join(src, f"{t}.parquet")).to_parquet(
            os.path.join(staging, f"{t}.parquet"), index=False
        )
    for t, keys in _KEYED.items():
        base = pd.read_parquet(os.path.join(src, f"{t}.parquet"))
        tdir = os.path.join(staging, f"{t}.parquet")
        os.makedirs(tdir, exist_ok=True)
        for rep in range(SF10_REPLICAS):
            r = base.copy()
            for k in keys:
                r[k] = r[k] + np.int64(rep * SF10_OFFSET)
            if t == "documents" and rep > 0:
                # second-decade salt tag 's' composes with sf1's 'r'
                # salting: cross-replica shingle Jaccard stays ~0.33,
                # far under tau, at BOTH decades
                r["text"] = [_salt_text(x, rep, tag="s") for x in r["text"]]
                r["n_chars"] = r["text"].str.len().astype(base["n_chars"].dtype)
            r.to_parquet(
                os.path.join(tdir, f"part-{rep:02d}.parquet"), index=False
            )
    with open(os.path.join(staging, "_DONE"), "w") as fh:
        fh.write(SF10_VERSION)
    shutil.rmtree(out_dir, ignore_errors=True)
    try:
        os.rename(staging, out_dir)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        with open(marker) as fh:
            if fh.read().strip() != SF10_VERSION:
                raise
    return out_dir


def ensure_sf10_fixtures() -> str:
    """Idempotently materialize the sf10 PINTEREST fixtures the spine
    families read (docs_dup / docs_contain / docs_spans / emb_dup) by
    replicating the current-generation sf1 fixtures 10x — token-mapped
    text salting, sign-flipped embeddings, replica-offset ids (with -1
    sentinels preserved).

    OWNERSHIP NOTE: `.fixtures/pinterest/sf10` is owned by THIS builder,
    not the generator — generating 11M-row fixtures from scratch (1.1M
    media payload encodes) is prohibitive, and replication is the same
    construction the driver-table lane uses. The `_DONE` marker is
    written as the generator's FIXTURE_VERSION so `fixture_dir_for`
    accepts the dir; the `_SF10_REPLICATED` sidecar pins (sf10 version,
    fixture version) so a generator bump rebuilds HERE by replication.
    `bench.py --lane scale sf1 sf10` calls this before any entry
    touches sf10."""
    from .generator import FIXTURE_VERSION, FIXTURES_ROOT, ensure_fixtures

    src = ensure_fixtures("sf1")
    out_dir = os.path.join(FIXTURES_ROOT, "sf10")
    marker = os.path.join(out_dir, "_DONE")
    sidecar = os.path.join(out_dir, "_SF10_REPLICATED")
    want = f"{SF10_VERSION}-{FIXTURE_VERSION}"
    if os.path.exists(marker) and os.path.exists(sidecar):
        with open(marker) as fh:
            m = fh.read().strip()
        with open(sidecar) as fh:
            s = fh.read().strip()
        if m == FIXTURE_VERSION and s == want:
            return out_dir
    staging = f"{out_dir}.tmp.{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging, exist_ok=True)
    for t, (idcol, extra_ids) in _PIN_SF10.items():
        base = pd.read_parquet(os.path.join(src, f"{t}.parquet"))
        tdir = os.path.join(staging, f"{t}.parquet")
        os.makedirs(tdir, exist_ok=True)
        for rep in range(SF10_REPLICAS):
            r = base.copy()
            r[idcol] = r[idcol] + np.int64(rep * SF10_OFFSET)
            for c in extra_ids:  # -1 marks "no planted structure"
                r[c] = np.where(
                    r[c] >= 0, r[c] + np.int64(rep * SF10_OFFSET), r[c]
                ).astype(base[c].dtype)
            if rep > 0:
                if t == "emb_dup":
                    signs = _replica_signs(rep, len(base["embedding"].iloc[0]))
                    r["embedding"] = [
                        (np.asarray(v, dtype=np.float32) * signs).tolist()
                        for v in r["embedding"]
                    ]
                else:
                    r["text"] = [_salt_all_tokens(x, rep) for x in r["text"]]
            r.to_parquet(
                os.path.join(tdir, f"part-{rep:02d}.parquet"), index=False
            )
    with open(os.path.join(staging, "_DONE"), "w") as fh:
        fh.write(FIXTURE_VERSION)
    with open(os.path.join(staging, "_SF10_REPLICATED"), "w") as fh:
        fh.write(want)
    shutil.rmtree(out_dir, ignore_errors=True)
    try:
        os.rename(staging, out_dir)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        with open(sidecar) as fh:
            if fh.read().strip() != want:
                raise
    return out_dir

"""Seeded generator for pinterest-shaped dirty fixtures (FIXTURES.md §A).

Replaces the reference's REST emulators (batch_emul.py:90-171,
stream_emul.py:91-174 — SURVEY.md shorthand): instead of replaying one
random MySQL row at a time over HTTP, we synthesize the three tables
(`pin_raw`, `geo_raw`, `user_raw`, joined 1:1 on the shared `ind` key per
batch_emul.py:100) directly to parquet, plus Kinesis-envelope JSONL files
for the streaming path (stream_emul.py:116-133 envelope shape).

Determinism: the reference seeds `random.seed(100)` (batch_emul.py:13);
we use a fixed numpy PCG64 seed per scale factor so the same sf always
produces byte-identical tables — this is what lets the DuckDB oracle SQL
read *the same parquet* the Spark queries read.

Dirty-data grammar (the cleaning operators' test subject):
  * ``''`` / ``'NA'`` / ``'N/A'`` tokens (null-normalized, mount.py:99),
  * follower_count strings: plain digits, ``25k`` / ``1.5M`` forms, junk
    (``User Info Error``) — parse semantics mount.py:102-119,
  * ``multi-video(story page format)`` media type (mount.py:151-154),
  * ``Local save in `` prefix on save_location (mount.py:164),
  * ~1% exact duplicate rows (dropDuplicates, mount.py:157),
  * geo/user timestamps as ISO strings (batch JSON inference leaves them
    as strings; the clean pipelines cast — mount.py:193,217).

The generator also guarantees an ODD number of parseable follower_count
values so the imputation median (mount.py:127-131, exact approxQuantile)
is a unique element and every median definition — Spark approxQuantile,
Spark percentile, DuckDB quantile_cont/disc — agrees exactly.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES_ROOT = os.path.join(REPO_ROOT, ".fixtures", "pinterest")

SEED = 100  # mirrors the reference's random.seed(100), batch_emul.py:13
BASE_ROWS = 11_000  # reference table size, batch_emul.py:100

#: Bump when the generated content changes; stale fixture dirs regenerate.
FIXTURE_VERSION = "15"

DIRTY_TOKENS = ["", "NA", "N/A"]

CATEGORIES = [
    "tattoos", "art", "beauty", "travel", "diy-and-crafts", "finance",
    "vehicles", "education", "christmas", "quotes", "home-decor",
    "event-planning",
]
COUNTRIES = [
    "United States", "India", "Brazil", "United Kingdom", "Germany",
    "France", "Canada", "Australia", "Japan", "Mexico", "Italy", "Spain",
    "Netherlands", "Sweden", "Norway", "Poland", "Turkey", "Russia",
    "China", "South Korea", "Argentina", "Chile", "Colombia", "Egypt",
    "Nigeria", "Kenya", "South Africa", "Indonesia", "Thailand", "Vietnam",
]
FIRST_NAMES = [
    "James", "Mary", "John", "Patricia", "Robert", "Jennifer", "Michael",
    "Linda", "William", "Elizabeth", "David", "Barbara", "Richard",
    "Susan", "Joseph", "Jessica", "Thomas", "Sarah", "Charles", "Karen",
]
LAST_NAMES = [
    "Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia", "Miller",
    "Davis", "Rodriguez", "Martinez", "Hernandez", "Lopez", "Gonzalez",
    "Wilson", "Anderson", "Thomas", "Taylor", "Moore", "Jackson", "Martin",
]
WORDS = [
    "vintage", "modern", "cozy", "minimal", "rustic", "boho", "classic",
    "dream", "easy", "quick", "simple", "best", "top", "ideas", "guide",
    "style", "home", "art", "craft", "photo", "look", "trend", "color",
    "light", "space", "plan", "tips", "fun", "wild", "calm",
]


def sf_rows(sf_name: str) -> int:
    """Row count for a scale-factor dir name like ``sf0.01``.

    sf0.01 reproduces the reference's ~11k rows; counts scale linearly
    with sf and floor at 1,000 so the tiny smoke sf still exercises every
    dirty-data branch.
    """
    sf = float(sf_name.removeprefix("sf"))
    return max(1_000, int(BASE_ROWS * sf / 0.01))


def parse_follower_count_py(count: str | None) -> int | None:
    """Reference-exact parse (mount.py:102-119): used here only to count
    parseable values when enforcing the odd-median invariant."""
    if count is None:
        return None
    if "k" in count:
        try:
            return int(float(count.replace("k", "")) * 1000)
        except ValueError:
            return None
    if "M" in count:
        try:
            return int(float(count.replace("M", "")) * 1000000)
        except ValueError:
            return None
    try:
        return int(count)
    except ValueError:
        return None


def _dirty_mask(rng: np.random.Generator, n: int, frac: float) -> np.ndarray:
    return rng.random(n) < frac


def _inject_dirty(rng: np.random.Generator, values: np.ndarray, frac: float) -> np.ndarray:
    out = values.astype(object)
    mask = _dirty_mask(rng, len(values), frac)
    tokens = rng.choice(DIRTY_TOKENS, size=int(mask.sum()))
    out[mask] = tokens
    return out


def _text(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    lengths = rng.integers(lo, hi, n)
    pool = rng.choice(WORDS, size=(n, hi))
    return np.array([" ".join(pool[i, : lengths[i]]) for i in range(n)], dtype=object)


def _follower_counts(rng: np.random.Generator, n: int) -> np.ndarray:
    """Mixture over the dirty grammar of mount.py:102-119."""
    kind = rng.choice(
        ["plain", "k", "k_frac", "M", "M_frac", "junk", "dirty"],
        size=n,
        p=[0.40, 0.18, 0.07, 0.10, 0.05, 0.12, 0.08],
    )
    plain = rng.integers(0, 999_999, n)
    kint = rng.integers(1, 999, n)
    kfrac = rng.integers(10, 99, n)
    mint = rng.integers(1, 99, n)
    out = np.empty(n, dtype=object)
    for i in range(n):
        t = kind[i]
        if t == "plain":
            out[i] = str(plain[i])
        elif t == "k":
            out[i] = f"{kint[i]}k"
        elif t == "k_frac":
            out[i] = f"{kfrac[i] / 10:.1f}k"
        elif t == "M":
            out[i] = f"{mint[i]}M"
        elif t == "M_frac":
            out[i] = f"{kfrac[i] / 10:.1f}M"
        elif t == "junk":
            out[i] = "User Info Error"
        else:
            out[i] = DIRTY_TOKENS[int(plain[i]) % 3]
    return out


def _iso_timestamps(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_s = pd.Timestamp(lo).value // 10**9
    hi_s = pd.Timestamp(hi).value // 10**9
    secs = rng.integers(lo_s, hi_s, n)
    return np.array(
        [pd.Timestamp(s, unit="s").strftime("%Y-%m-%d %H:%M:%S") for s in secs],
        dtype=object,
    )


def build_tables(n: int, seed: int = SEED) -> dict[str, pd.DataFrame]:
    """Build the three raw tables as pandas DataFrames (deterministic)."""
    rng = np.random.default_rng(seed)

    # --- pin_raw (schema kinesis.py:94-107; 12 columns) -------------------
    idx = np.arange(n)
    category = rng.choice(CATEGORIES, size=n, p=_skewed(len(CATEGORIES)))
    pin = pd.DataFrame(
        {
            "index": idx.astype(np.int32),
            "unique_id": [
                f"{rng.integers(0, 2**32):08x}-{i:04x}-4000-8000-{rng.integers(0, 2**48):012x}"
                for i in range(n)
            ],
            "title": _inject_dirty(rng, _text(rng, n, 2, 6), 0.05),
            "description": _inject_dirty(rng, _text(rng, n, 6, 18), 0.05),
            "poster_name": _inject_dirty(
                rng,
                np.array(
                    [
                        f"{rng.choice(FIRST_NAMES)} {rng.choice(LAST_NAMES)}"
                        for _ in range(n)
                    ],
                    dtype=object,
                ),
                0.05,
            ),
            "follower_count": _follower_counts(rng, n),
            "tag_list": _inject_dirty(
                rng,
                np.array(
                    [",".join(rng.choice(WORDS, size=rng.integers(1, 6))) for _ in range(n)],
                    dtype=object,
                ),
                0.04,
            ),
            "is_image_or_video": _media_types(rng, n),
            "image_src": np.array(
                [f"https://i.pinimg.com/originals/{i:06d}.jpg" for i in idx], dtype=object
            ),
            "downloaded": rng.integers(0, 2, n).astype(np.int32),
            "save_location": np.array(
                [f"Local save in /data/{c}" for c in category], dtype=object
            ),
            "category": _inject_dirty(rng, category.astype(object), 0.03),
        }
    )

    # --- geo_raw (schema kinesis.py:75-81) --------------------------------
    geo = pd.DataFrame(
        {
            "ind": idx.astype(np.int32),
            "timestamp": _iso_timestamps(rng, n, "2017-01-01", "2022-12-31"),
            "latitude": np.round(rng.uniform(-90, 90, n), 6),
            "longitude": np.round(rng.uniform(-180, 180, n), 6),
            "country": rng.choice(COUNTRIES, size=n, p=_skewed(len(COUNTRIES))).astype(object),
        }
    )

    # --- user_raw (schema kinesis.py:118-124; age is a STRING) ------------
    ages = rng.integers(16, 71, n).astype(str).astype(object)
    dirty_age = _dirty_mask(rng, n, 0.02)
    ages[dirty_age] = rng.choice(DIRTY_TOKENS, size=int(dirty_age.sum()))
    user = pd.DataFrame(
        {
            "ind": idx.astype(np.int32),
            "first_name": rng.choice(FIRST_NAMES, size=n).astype(object),
            "last_name": rng.choice(LAST_NAMES, size=n).astype(object),
            "age": ages,
            "date_joined": _iso_timestamps(rng, n, "2014-01-01", "2021-12-31"),
        }
    )

    # ~1% exact full-row duplicates in pin (dropDuplicates target,
    # mount.py:157): overwrite row i with a copy of row j — models a
    # re-delivered event, so `index` duplicates too.
    n_dup = max(1, n // 100)
    dup_dst = rng.choice(n, size=n_dup, replace=False)
    dup_src = rng.choice(np.setdiff1d(np.arange(n), dup_dst), size=n_dup, replace=False)
    for c in pin.columns:  # column-wise keeps each column's dtype intact
        vals = pin[c].to_numpy()
        vals[dup_dst] = vals[dup_src]
        pin[c] = vals

    # Odd-median invariant: flip one untouched row's follower_count so the
    # count of parseable values is odd (see module docstring).
    parseable = pin["follower_count"].map(parse_follower_count_py).notna().sum()
    if parseable % 2 == 0:
        touched = set(dup_dst) | set(dup_src)
        flip = next(i for i in range(n) if i not in touched)
        cur = parse_follower_count_py(pin.at[flip, "follower_count"])
        pin.at[flip, "follower_count"] = "User Info Error" if cur is not None else "777"

    return {"pin_raw": pin, "geo_raw": geo, "user_raw": user}


def _skewed(k: int) -> np.ndarray:
    """Zipf-ish probability vector — realistic key skew for groupBy/window."""
    w = 1.0 / np.arange(1, k + 1)
    return w / w.sum()


def _media_types(rng: np.random.Generator, n: int) -> np.ndarray:
    vals = rng.choice(
        ["image", "video", "multi-video(story page format)", "__dirty__"],
        size=n,
        p=[0.60, 0.27, 0.10, 0.03],
    ).astype(object)
    dirty = vals == "__dirty__"
    vals[dirty] = rng.choice(DIRTY_TOKENS, size=int(dirty.sum()))
    return vals


def write_fixtures(sf_name: str, root: str = FIXTURES_ROOT) -> str:
    """Write parquet + streaming JSONL for one scale factor; returns dir.

    ATOMIC PUBLISH: everything builds into a pid-unique staging dir and
    renames into place at the end, so a concurrent session (pytest next
    to a bench.py lane, parallel drivers) either sees the previous complete
    generation or the new complete one — never half-written parquet
    footers or a JSONL mid-rewrite. If two builders race, one rename
    wins and the loser adopts the winner's output.
    """
    import shutil as _sh

    final_dir = os.path.join(root, sf_name)
    out_dir = f"{final_dir}.tmp.{os.getpid()}"
    _sh.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    tables = build_tables(sf_rows(sf_name))
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)

    # Streaming envelopes (stream_emul.py:116-133): one JSON object per
    # line, `Data` holding the serialized inner record. PartitionKey is
    # spread over 8 keys — the reference hardcoded "1" (single shard, no
    # parallelism; SURVEY.md §4 flags it), our generator fixes that.
    for name, df in tables.items():
        topic = name.removesuffix("_raw")
        stream_dir = os.path.join(out_dir, "stream", topic)
        os.makedirs(stream_dir, exist_ok=True)
        records = df.to_dict(orient="records")
        n_files = 4
        per = (len(records) + n_files - 1) // n_files
        for f in range(n_files):
            chunk = records[f * per : (f + 1) * per]
            path = os.path.join(stream_dir, f"part-{f:04d}.jsonl")
            with open(path, "w") as fh:
                for rec in chunk:
                    key = rec.get("ind", rec.get("index", 0))
                    envelope = {
                        "StreamName": f"streaming-{topic}",
                        "PartitionKey": str(int(key) % 8),
                        "Data": json.dumps(rec, default=str),
                    }
                    fh.write(json.dumps(envelope) + "\n")
    # At-least-once delivery simulation: the geo stream re-emitted with
    # ~1% duplicated envelopes (same record delivered twice) — the
    # watermarked stateful-dedup operator's test subject. The parquet
    # table stays duplicate-free, so "stream + dedup == batch table"
    # is oracle-checkable.
    rng2 = np.random.default_rng(SEED + 7)
    geo_records = tables["geo_raw"].to_dict(orient="records")
    redelivered = list(geo_records)
    for i in sorted(rng2.choice(len(geo_records), size=max(1, len(geo_records) // 100), replace=False)):
        redelivered.append(geo_records[int(i)])
    rd_dir = os.path.join(out_dir, "stream", "geo_redelivery")
    os.makedirs(rd_dir, exist_ok=True)
    per = (len(redelivered) + 3) // 4
    for f in range(4):
        with open(os.path.join(rd_dir, f"part-{f:04d}.jsonl"), "w") as fh:
            for rec in redelivered[f * per : (f + 1) * per]:
                envelope = {
                    "StreamName": "streaming-geo",
                    "PartitionKey": str(int(rec["ind"]) % 8),
                    "Data": json.dumps(rec, default=str),
                }
                fh.write(json.dumps(envelope) + "\n")

    # planted-duplicate document corpus (dedup operators' test subject)
    docs_dup(sf_rows(sf_name) // 10, seed=SEED + 1).to_parquet(
        os.path.join(out_dir, "docs_dup.parquet"), index=False
    )

    # planted near-duplicate embeddings (embedding-cosine dedup subject)
    emb_dup(sf_rows(sf_name) // 2, seed=SEED + 2).to_parquet(
        os.path.join(out_dir, "emb_dup.parquet"), index=False
    )

    # planted doc-in-doc containment corpus at known size ratios (the
    # signature-containment recall gauge's test subject)
    docs_contain(sf_rows(sf_name) // 10, seed=SEED + 4).to_parquet(
        os.path.join(out_dir, "docs_contain.parquet"), index=False
    )

    # planted repeated-span corpus (substring-grain dedup test subject)
    docs_spans(sf_rows(sf_name) // 10, seed=SEED + 5).to_parquet(
        os.path.join(out_dir, "docs_spans.parquet"), index=False
    )

    # WAV corpus with planted volume-scaled near-duplicate audio (the
    # audio-fingerprint dedup subject — multimodal_audio_neardup)
    media_wav_dup(sf_rows(sf_name) // 10).to_parquet(
        os.path.join(out_dir, "media_wav_dup.parquet"), index=False
    )

    # planted-PII corpus (the PII-scrub operator's test subject)
    docs_pii(sf_rows(sf_name) // 10, seed=SEED + 3).to_parquet(
        os.path.join(out_dir, "docs_pii.parquet"), index=False
    )

    # real P6 PPM image payloads (the pure-Python decode operator's
    # test subject — multimodal_decode_ppm)
    media_ppm(sf_rows(sf_name) // 10).to_parquet(
        os.path.join(out_dir, "media_ppm.parquet"), index=False
    )

    # real non-interlaced RGB8 PNG payloads, same closed-form pixels
    # (the zlib-inflate decode operator's test subject —
    # multimodal_decode_png)
    media_png(sf_rows(sf_name) // 10).to_parquet(
        os.path.join(out_dir, "media_png.parquet"), index=False
    )

    # planted-quality corpus with closed-form labels (the trained
    # quality classifier's test subject — docs_quality_classifier)
    docs_quality(sf_rows(sf_name) // 10).to_parquet(
        os.path.join(out_dir, "docs_quality.parquet"), index=False
    )

    # junk-augmented apply corpus with per-source planted quality
    # (the trained gate's operating point — docs_quality_apply)
    docs_apply_mix(sf_rows(sf_name) // 10).to_parquet(
        os.path.join(out_dir, "docs_apply_mix.parquet"), index=False
    )

    # real baseline JPEG payloads, 4:2:0 and 4:4:4 (the full-pixel
    # huffman+IDCT decode operator's test subject —
    # multimodal_decode_jpeg)
    media_jpeg(sf_rows(sf_name) // 10).to_parquet(
        os.path.join(out_dir, "media_jpeg.parquet"), index=False
    )

    # real RIFF/WAVE PCM16 audio payloads (the pure-Python decode
    # operator's test subject — multimodal_decode_wav)
    media_wav(sf_rows(sf_name) // 10).to_parquet(
        os.path.join(out_dir, "media_wav.parquet"), index=False
    )

    # PPM corpus with planted brightness-perturbed near-duplicate
    # images (the perceptual-hash dedup subject —
    # multimodal_image_neardup)
    media_ppm_dup(sf_rows(sf_name) // 10).to_parquet(
        os.path.join(out_dir, "media_ppm_dup.parquet"), index=False
    )

    # JSONL feed with planted corrupt lines (PERMISSIVE-mode ingestion
    # test subject — json_corrupt_tolerant_scan)
    write_dirty_jsonl(sf_rows(sf_name), os.path.join(out_dir, "dirty_events.jsonl"))

    # done marker written last: readers treat its presence as "complete"
    with open(os.path.join(out_dir, "_DONE"), "w") as fh:
        fh.write(FIXTURE_VERSION + "\n")

    # publish: rename the staging dir into place (atomic on one fs)
    try:
        os.rename(out_dir, final_dir)
    except OSError:
        aside = f"{final_dir}.old.{os.getpid()}"
        moved_aside = False
        try:
            os.rename(final_dir, aside)  # move the stale generation off
            moved_aside = True
            os.rename(out_dir, final_dir)
            _sh.rmtree(aside, ignore_errors=True)
        except OSError:
            # Either a concurrent builder published first, or our second
            # rename failed after we moved the old generation aside. Never
            # leave final_dir absent: restore the aside generation if we
            # took it and nobody re-published, and only discard our fresh
            # build once final_dir demonstrably exists again.
            if moved_aside and not os.path.exists(final_dir):
                try:
                    os.rename(aside, final_dir)
                except OSError:
                    pass
            if os.path.exists(final_dir):
                _sh.rmtree(out_dir, ignore_errors=True)
            else:  # last resort: promote our build non-atomically
                try:
                    os.rename(out_dir, final_dir)
                except OSError:
                    pass
            # Whoever won, once final_dir exists again the aside copy is
            # redundant — without this, the path where a concurrent
            # builder re-published (restore skipped) leaked a full stale
            # fixture generation per race (ADVICE r6).
            if moved_aside and os.path.exists(final_dir):
                _sh.rmtree(aside, ignore_errors=True)
    return final_dir


def media_ppm(n: int) -> pd.DataFrame:
    """Valid binary P6 (raw) PPM images, one per media_id, built from
    closed-form fields so the decode oracle can recompute the expected
    width/height/pixel-sum WITHOUT parsing the payload:

      width  = media_id % 13 + 4          (4..16)
      height = media_id % 7 + 3           (3..9)
      maxval = 255
      pixel[i] = (media_id*31 + i*7) % 256,  i in [0, 3*width*height)

    Every 5th image carries a ``#`` comment line in the header — the
    netpbm spec allows comments anywhere in the header, and the decoder
    must skip them, so the fixture exercises that branch under the
    oracle too."""
    rows = []
    for mid in range(n):
        w = mid % 13 + 4
        h = mid % 7 + 3
        px = ((mid * 31 + 7 * np.arange(3 * w * h)) % 256).astype(np.uint8)
        comment = f"# synthetic fixture {mid}\n" if mid % 5 == 0 else ""
        header = f"P6\n{comment}{w} {h}\n255\n".encode("ascii")
        rows.append((mid, header + px.tobytes()))
    return pd.DataFrame(rows, columns=["media_id", "payload"]).astype(
        {"media_id": "int64"}
    )


def media_ppm_dup(n_base: int) -> pd.DataFrame:
    """PPM corpus with PLANTED brightness-perturbed near-duplicates —
    the perceptual-hash dedup operator's test subject (the docs_dup
    idiom for images).

    Closed-form construction (all derivable from ``src_id``/``delta``
    alone, so the oracle recomputes every perceptual hash WITHOUT
    parsing payload bytes):

      width    = src_id % 13 + 8          (8..20 — ≥ 8 so the dHash
      height   = src_id % 7 + 8            8x8 sample grid never
      maxval   = 255                       repeats a pixel)
      pixel[i] = ((7 + src%5)*i^2 + (11 + src%97)*i + src*31) % 256

    The per-src QUADRATIC and LINEAR coefficients make distinct base
    images structurally different pixel streams (a shared pattern
    merely shifted mod 256 — the media_ppm ramp — collides dHashes en
    masse; measured: 247 spurious 0-distance base pairs under the
    linear ramp vs ZERO background pairs within Hamming 6 under this
    construction at the sf0.01 corpus size).

    ~12% extra rows copy a base image with every sample brightened by
    a deterministic clamped delta:

      dup pixel[i] = min(255, base pixel[i] + delta),
      delta = dup_ordinal % 9 + 2                       (2..10)

    Brightening preserves horizontal gray-gradient signs except where
    the 255 clamp compresses one neighbor more than the other, so
    planted pairs land at Hamming 0-2 (measured 127/5 at 0/1) — well
    inside the tau=3 verify band, far from the ~28-bit background.
    ``src_id``/``delta`` carry the closed form (src_id = media_id,
    delta = 0 for base rows); ``provenance`` marks planted pairs for
    the recall gauge."""

    def _pix(src: int, count: int) -> np.ndarray:
        i = np.arange(count, dtype=np.int64)
        return ((7 + src % 5) * i * i + (11 + src % 97) * i + src * 31) % 256

    rows = []
    for mid in range(n_base):
        w = mid % 13 + 8
        h = mid % 7 + 8
        px = _pix(mid, 3 * w * h)
        comment = f"# synthetic fixture {mid}\n" if mid % 5 == 0 else ""
        header = f"P6\n{comment}{w} {h}\n255\n".encode("ascii")
        rows.append((mid, header + px.astype(np.uint8).tobytes(), mid, 0, "base"))
    next_id = n_base
    for k in range(max(1, int(n_base * 0.12))):
        src = (k * 17) % n_base  # deterministic spread over the bases
        delta = k % 9 + 2
        w = src % 13 + 8
        h = src % 7 + 8
        px = np.minimum(255, _pix(src, 3 * w * h) + delta)
        header = f"P6\n{w} {h}\n255\n".encode("ascii")
        rows.append(
            (next_id, header + px.astype(np.uint8).tobytes(), src, delta,
             f"bright_of_{src}")
        )
        next_id += 1
    return pd.DataFrame(
        rows, columns=["media_id", "payload", "src_id", "delta", "provenance"]
    ).astype({"media_id": "int64", "src_id": "int64", "delta": "int64"})


#: audio-dup fixture geometry: 57 frames -> 56 energy-delta bits (the
#: dHash bit budget: background pairs sit ~28 bits apart, so even at
#: sf1's ~10^10 pair space the expected count within any small tau is
#: << 1 — the margin a 32-bit fingerprint measurably lacked)
WAV_DUP_NFRAMES = 57
#: volume-scale factors for planted dups (numerator, denominator):
#: exact integer floor-division scaling, no clipping (max |s| * 2 fits
#: int16), so frame-energy ORDER is preserved up to the bounded
#: flooring loss
WAV_DUP_GAINS = [(2, 1), (3, 2), (3, 4)]


def _wav_dup_env(src: int, f: int) -> int:
    """Frame loudness 3..31, md5-derived so envelope sequences of
    distinct sources are independent (an algebraic envelope collides
    whole fingerprint classes: any polynomial-mod construction is
    linear in (src, f), so ~n/period sources share every delta sign —
    measured hamming-0 background pairs at 60 docs). md5 is identical
    in python/Spark/DuckDB, which keeps the oracle byte-free."""
    import hashlib

    return int(hashlib.md5(f"{src}:{f}".encode()).hexdigest()[:4], 16) % 29 + 3


def _wav_dup_samples(src: int, gnum: int, gden: int) -> np.ndarray:
    """Closed-form PCM16 samples for the audio near-dup fixture — the
    media_ppm_dup discipline: everything derivable from (src, gain)
    alone so the fingerprint oracle recomputes WITHOUT parsing bytes.

      L        = src % 9 + 8                     (frame length, 8..16)
      total    = 57 * L                          (57 frames)
      env(f)   = md5("src:f")[:4 hex] % 29 + 3   (frame loudness 3..31)
      tone(i)  = (src*37 + 11*i) % 64 + 1
      mag(i)   = env(i // L) * tone(i)             (<= 31*64 = 1984)
      s[i]     = (-1)^i * ((gnum * mag(i)) // gden)   (gain 1/1 on base)

    The gain divides the POSITIVE magnitude and applies the sign
    after: integer division is then truncation == floor on both
    numpy and DuckDB (they disagree on negatives), and |s[i]| =
    (gnum*mag)//gden drops straight into the oracle's abs-energy sum.

    The strong per-frame envelope makes adjacent frame-energy gaps
    >> the flooring loss, so volume scaling preserves the
    energy-delta signs except at the rare env ties — planted pairs
    land at Hamming 0-2 of 56 while unrelated fingerprints sit ~28
    apart (the media_ppm_dup margin story, transposed to audio)."""
    L = src % 9 + 8
    i = np.arange(WAV_DUP_NFRAMES * L, dtype=np.int64)
    f = i // L
    env = np.array([_wav_dup_env(src, int(x)) for x in range(WAV_DUP_NFRAMES)])[f]
    tone = (src * 37 + 11 * i) % 64 + 1
    mag = (gnum * env * tone) // gden
    return np.where(i % 2 == 0, 1, -1) * mag


def _wav_payload(samples: np.ndarray, channels: int = 1, sr: int = 16000) -> bytes:
    import struct

    data = samples.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sr, sr * channels * 2, channels * 2, 16
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def media_wav_dup(n_base: int) -> pd.DataFrame:
    """Mono RIFF/WAVE PCM16 corpus with PLANTED volume-scaled
    near-duplicates — the audio twin of media_ppm_dup (multimodal x
    dedup, VERDICT r9 task #5). Base payloads carry the closed-form
    samples of :func:`_wav_dup_samples` (gain 1/1); ~12% extra rows
    re-encode a base signal scaled by a deterministic gain from
    WAV_DUP_GAINS. Columns ``src_id``/``gnum``/``gden`` carry the
    closed form (gain 1/1 on base rows); ``provenance`` marks planted
    pairs for the recall gauge."""
    rows = []
    for mid in range(n_base):
        s = _wav_dup_samples(mid, 1, 1)
        rows.append((mid, _wav_payload(s), mid, 1, 1, "base"))
    next_id = n_base
    for k in range(max(1, int(n_base * 0.12))):
        src = (k * 17) % n_base  # deterministic spread over the bases
        gnum, gden = WAV_DUP_GAINS[k % len(WAV_DUP_GAINS)]
        s = _wav_dup_samples(src, gnum, gden)
        rows.append(
            (next_id, _wav_payload(s), src, gnum, gden, f"vol_of_{src}")
        )
        next_id += 1
    return pd.DataFrame(
        rows,
        columns=["media_id", "payload", "src_id", "gnum", "gden", "provenance"],
    ).astype(
        {"media_id": "int64", "src_id": "int64", "gnum": "int64", "gden": "int64"}
    )


def docs_quality(n: int) -> pd.DataFrame:
    """Planted-quality corpus (the trained classifier's test subject —
    docs_quality_classifier): every field closed-form from doc_id so
    the gauge oracle can recompute the planted label without modeling.

      label    = 0 if doc_id % 4 == 0 else 1          (25% junk)
      junk     : one token repeated (10 + id%30 tokens) with
                 1 + id%3 distinct replacements — plus SIX extra
                 replacements when id % 16 == 0 (borderline junk whose
                 type-token ratio approaches the good range);
      good     : varied tokens w{(id*13 + i*7) % 97} (12 + id%40
                 tokens) — except id % 15 == 1, where every token
                 repeats 3x (borderline good with junk-like TTR).

    The borderline slices keep the corpus NOT perfectly separable, so
    the classifier gauge reports a real error rate instead of a
    trivial 1.0. Lengths of the two classes overlap by construction —
    token count alone cannot separate them."""
    rows = []
    for mid in range(n):
        if mid % 4 == 0:
            ntok = 10 + mid % 30
            toks = [f"w{mid % 11}"] * ntok
            extra = 1 + mid % 3 + (6 if mid % 16 == 0 else 0)
            for j in range(min(extra, ntok)):
                toks[(mid + 3 * j) % ntok] = f"w{(mid * 7 + j) % 97}"
            label = 0
        else:
            ntok = 12 + mid % 40
            if mid % 15 == 1:
                toks = [f"w{(mid * 13 + (i // 3) * 7) % 97}" for i in range(ntok)]
            else:
                toks = [f"w{(mid * 13 + i * 7) % 97}" for i in range(ntok)]
            label = 1
        rows.append((mid, " ".join(toks), label))
    return pd.DataFrame(rows, columns=["doc_id", "text", "label"]).astype(
        {"doc_id": "int64", "label": "int64"}
    )


def docs_apply_mix(n: int) -> pd.DataFrame:
    """Junk-augmented apply corpus (docs_quality_apply's operating
    point — VERDICT r12 task #4): (doc_id, source, text) rows whose
    per-source keep rates SPLIT under the trained quality gate, giving
    the mixture-policy rollup a real decision boundary (on the
    template-text `documents` corpus the gate keeps everything).

      source = mix_clean  (mid % 3 == 0): varied tokens, the training
               corpus's GOOD construction — kept by the gate;
      source = mix_sloppy (mid % 3 == 1): alternates good/junk per doc
               — keep rate lands mid-range;
      source = mix_junk   (mid % 3 == 2): the training corpus's JUNK
               construction (one token repeated, 1 + mid%3 distinct
               replacements — repetition-heavy, low type-token ratio,
               top-token share near 1) — dropped by the gate.

    Constructions mirror :func:`docs_quality` exactly (minus its
    deliberately-borderline slices) so a classifier that separates the
    training corpus separates these; doc_ids offset by 10^9 so they
    can never collide with the `documents` table at any sf."""
    rows = []
    for mid in range(n):
        src = ("mix_clean", "mix_sloppy", "mix_junk")[mid % 3]
        junky = src == "mix_junk" or (src == "mix_sloppy" and mid % 2 == 0)
        if junky:
            ntok = 10 + mid % 30
            toks = [f"w{mid % 11}"] * ntok
            extra = 1 + mid % 3
            for j in range(min(extra, ntok)):
                toks[(mid + 3 * j) % ntok] = f"w{(mid * 7 + j) % 97}"
        else:
            ntok = 12 + mid % 40
            toks = [f"w{(mid * 13 + i * 7) % 97}" for i in range(ntok)]
        rows.append((1_000_000_000 + mid, src, " ".join(toks)))
    return pd.DataFrame(rows, columns=["doc_id", "source", "text"]).astype(
        {"doc_id": "int64"}
    )


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _png_encode_rgb8(mid: int, w: int, h: int, px: np.ndarray) -> bytes:
    """Spec-conformant non-interlaced 8-bit RGB PNG encoder (stdlib
    zlib): per-row filter type cycles ``(mid + row) % 5`` so the corpus
    exercises ALL FIVE spec filters (None/Sub/Up/Average/Paeth) under
    the decode oracle; every 3rd image splits its zlib stream across
    two IDAT chunks (spec-legal — the decoder must concatenate)."""
    import struct
    import zlib

    bpp, stride = 3, 3 * w
    raw = px.reshape(h, stride).astype(np.int16)
    zeros = np.zeros(bpp, dtype=np.int16)
    prev = np.zeros(stride, dtype=np.int16)
    parts = []
    for r in range(h):
        row = raw[r]
        left = np.concatenate([zeros, row[:-bpp]]) if stride > bpp else (
            np.zeros(stride, dtype=np.int16)
        )
        upleft = np.concatenate([zeros, prev[:-bpp]]) if stride > bpp else (
            np.zeros(stride, dtype=np.int16)
        )
        f = (mid + r) % 5
        if f == 0:
            filt = row
        elif f == 1:  # Sub
            filt = row - left
        elif f == 2:  # Up
            filt = row - prev
        elif f == 3:  # Average
            filt = row - ((left + prev) >> 1)
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = (
                np.abs(p - left), np.abs(p - prev), np.abs(p - upleft),
            )
            pred = np.where(
                (pa <= pb) & (pa <= pc),
                left,
                np.where(pb <= pc, prev, upleft),
            )
            filt = row - pred
        parts.append(bytes([f]) + (filt % 256).astype(np.uint8).tobytes())
        prev = row
    compressed = zlib.compress(b"".join(parts), 6)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    if mid % 3 == 0 and len(compressed) > 1:
        half = len(compressed) // 2
        idat = _png_chunk(b"IDAT", compressed[:half]) + _png_chunk(
            b"IDAT", compressed[half:]
        )
    else:
        idat = _png_chunk(b"IDAT", compressed)
    sig = b"\x89PNG\r\n\x1a\n"
    return sig + _png_chunk(b"IHDR", ihdr) + idat + _png_chunk(b"IEND", b"")


def media_png(n: int) -> pd.DataFrame:
    """Valid non-interlaced 8-bit RGB PNG images, one per media_id,
    with the SAME closed-form pixel construction as :func:`media_ppm`
    so the decode oracle recomputes width/height/pixel-sum WITHOUT
    inflating the payload:

      width  = media_id % 13 + 4          (4..16)
      height = media_id % 7 + 3           (3..9)
      pixel[i] = (media_id*31 + i*7) % 256,  i in [0, 3*width*height)

    Filter types cycle per row and IDAT splits every 3rd image (see
    :func:`_png_encode_rgb8`), so a decoder that skips CRC checks,
    mis-unfilters any of the five filters, or reads only the first
    IDAT chunk cannot match the oracle."""
    rows = []
    for mid in range(n):
        w = mid % 13 + 4
        h = mid % 7 + 3
        px = ((mid * 31 + 7 * np.arange(3 * w * h)) % 256).astype(np.uint8)
        rows.append((mid, _png_encode_rgb8(mid, w, h, px)))
    return pd.DataFrame(rows, columns=["media_id", "payload"]).astype(
        {"media_id": "int64"}
    )


# -------------------------------------------------------------------------
# baseline JPEG fixture (the full-pixel decoder's test subject —
# multimodal_decode_jpeg, VERDICT r12 task #6)
# -------------------------------------------------------------------------

#: JPEG zigzag scan order: zigzag index k -> natural (row*8 + col)
JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

#: DC huffman table (ITU T.81 Annex K luminance DC): BITS counts per
#: code length 1..16, then the value list (categories 0..11)
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
#: custom minimal AC table — the corpus only emits EOB (0x00) and the
#: planted coefficient at zigzag 14 (13 leading zeros, size 1 or 2 →
#: run/size symbols 0xD1/0xD2). A custom table also proves the decoder
#: really builds its codes from the DHT segment instead of assuming
#: the Annex K defaults.
_JPEG_AC_BITS = [1, 2] + [0] * 14
_JPEG_AC_VALS = [0x00, 0xD1, 0xD2]
#: flat quantization table: 8 everywhere, so quantized DC = (y - 128)
#: exactly (8t/8) and the planted AC dequantizes to 8*ac — both
#: round-trip the float IDCT losslessly (DC-only + single exactly-
#: representable basis function)
JPEG_QUANT = 8
#: planted AC coefficient position: zigzag 14 = natural (row 0, col 4)
#: — the horizontal half-band basis whose IDCT is the exact pixel
#: pattern ac * [+1,-1,-1,+1,+1,-1,-1,+1] per row
JPEG_AC_ZZ = 14


def _jpeg_huff_codes(bits: list, vals: list) -> dict:
    """symbol -> (code, length) canonical huffman assignment (T.81
    C.2): codes count up within a length, shift left at each length."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            k += 1
            code += 1
        code <<= 1
    return out


class _JpegBitWriter:
    """MSB-first bit packer with the T.81 byte-stuffing rule (an 0xFF
    data byte is followed by 0x00); the final partial byte pads with
    1-bits."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)
        return bytes(self.out)


def _jpeg_put_coef(wr: _JpegBitWriter, huff: dict, sym_size: int, v: int) -> None:
    """Entropy-encode one magnitude-category value v of size sym_size
    bits after its huffman symbol was already written (T.81 F.1.2.1:
    negative values store v + 2^size - 1)."""
    if sym_size:
        wr.put(v if v >= 0 else v + (1 << sym_size) - 1, sym_size)


def _jpeg_dc_size(diff: int) -> int:
    return 0 if diff == 0 else abs(diff).bit_length()


def _jpeg_segments(w: int, h: int, sub420: bool) -> bytes:
    """All marker segments before the entropy-coded scan: DQT x2 (flat
    8s), SOF0 (baseline, 3 components, 2x2/1x1/1x1 or all 1x1), DHT x4
    (DC+AC for table ids 0 and 1), SOS."""
    import struct

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    qt = bytes([JPEG_QUANT] * 64)
    dqt = seg(0xDB, bytes([0x00]) + qt) + seg(0xDB, bytes([0x01]) + qt)
    ysamp = 0x22 if sub420 else 0x11
    sof = seg(
        0xC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, ysamp, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    dht = b"".join(
        seg(0xC4, bytes([cls_id]) + bytes(bits) + bytes(vals))
        for cls_id, bits, vals in [
            (0x00, _JPEG_DC_BITS, _JPEG_DC_VALS),
            (0x10, _JPEG_AC_BITS, _JPEG_AC_VALS),
            (0x01, _JPEG_DC_BITS, _JPEG_DC_VALS),
            (0x11, _JPEG_AC_BITS, _JPEG_AC_VALS),
        ]
    )
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return dqt + sof + dht + sos


def jpeg_luma(mid: int, bx: int, by: int) -> int:
    """Closed-form constant luma of the 8x8 block at grid (bx, by) —
    kept in [32, 223] so neither the planted AC pattern (|ac| <= 2)
    nor the chroma shifts (|shift| <= 18) can clamp, which keeps the
    oracle's pixel sums linear."""
    return 32 + (mid * 31 + bx * 17 + by * 7) % 192


def jpeg_ac(mid: int, bx: int, by: int) -> int:
    """Closed-form planted AC coefficient (quantized value, -2..2) for
    the luma block at (bx, by)."""
    return (mid + bx + by) % 5 - 2


def jpeg_dims(mid: int) -> tuple:
    """(width, height, sub420): 4:2:0 images keep both dims multiples
    of 16 (no partial-MCU padding ambiguity in the oracle); 4:4:4
    images multiples of 8."""
    if mid % 2 == 0:
        return 16 * (1 + mid % 3), 16 * (1 + (mid // 3) % 2), True
    return 8 * (1 + mid % 5), 8 * (1 + (mid // 5) % 3), False


def jpeg_chroma(mid: int) -> tuple:
    """(cb, cr) per-image constants, within +-10 of neutral so the
    fixed-point color shifts stay small (see jpeg_luma)."""
    return 118 + (mid * 5) % 21, 118 + (mid * 11) % 21


def _jpeg_encode(mid: int) -> bytes:
    """Spec-conformant baseline JFIF payload whose DECODED pixels are
    closed-form: per-block constant luma (DC-only) plus a planted AC
    at zigzag 14 with an all-8 quant table (both exactly recoverable
    through the float IDCT), per-image constant chroma. The decoder
    must still do everything real: DQT/DHT/SOF0/SOS marker walk,
    canonical huffman from the (custom) DHT, DC prediction per
    component, run-length AC with EOB, dequantize+IDCT, 4:2:0
    upsampling, fixed-point YCbCr->RGB."""
    w, h, sub420 = jpeg_dims(mid)
    cb, cr = jpeg_chroma(mid)
    dc_huff = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_huff = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    wr = _JpegBitWriter()
    pred = [0, 0, 0]

    def put_block(comp: int, dc: int, ac: int) -> None:
        diff = dc - pred[comp]
        pred[comp] = dc
        s = _jpeg_dc_size(diff)
        wr.put(*dc_huff[s])
        _jpeg_put_coef(wr, dc_huff, s, diff)
        if ac:
            sz = abs(ac).bit_length()
            wr.put(*ac_huff[(13 << 4) | sz])
            _jpeg_put_coef(wr, ac_huff, sz, ac)
        wr.put(*ac_huff[0x00])  # EOB

    if sub420:
        for my in range(h // 16):
            for mx in range(w // 16):
                for dy in (0, 1):
                    for dx in (0, 1):
                        bx, by = 2 * mx + dx, 2 * my + dy
                        put_block(
                            0,
                            jpeg_luma(mid, bx, by) - 128,
                            jpeg_ac(mid, bx, by),
                        )
                put_block(1, cb - 128, 0)
                put_block(2, cr - 128, 0)
    else:
        for by in range(h // 8):
            for bx in range(w // 8):
                put_block(0, jpeg_luma(mid, bx, by) - 128, jpeg_ac(mid, bx, by))
                put_block(1, cb - 128, 0)
                put_block(2, cr - 128, 0)
    return (
        b"\xff\xd8"
        + _jpeg_segments(w, h, sub420)
        + wr.flush()
        + b"\xff\xd9"
    )


def media_jpeg(n: int) -> pd.DataFrame:
    """Valid baseline JPEG payloads, one per media_id, alternating
    4:2:0 (even ids) and 4:4:4 (odd ids) — see :func:`_jpeg_encode`
    for the closed-form construction the decode oracle recomputes
    without parsing bytes."""
    rows = [(mid, _jpeg_encode(mid)) for mid in range(n)]
    return pd.DataFrame(rows, columns=["media_id", "payload"]).astype(
        {"media_id": "int64"}
    )


def media_wav(n: int) -> pd.DataFrame:
    """Valid little-endian RIFF/WAVE files with 16-bit integer PCM, one
    per media_id, built from closed-form fields so the decode oracle can
    recompute channels/sample-rate/frame-count/sample-sum WITHOUT
    parsing the payload:

      channels    = media_id % 2 + 1            (mono / stereo)
      sample_rate = 8000 * (media_id % 3 + 1)   (8k / 16k / 24k)
      frames      = media_id % 50 + 20          (per-channel frames)
      sample[i]   = (media_id*37 + i*11) % 4096 - 2048
                    for i in [0, frames*channels)  (interleaved int16)

    Every 4th file carries a junk ``LIST`` chunk between ``fmt `` and
    ``data`` — the RIFF spec allows unknown chunks anywhere, and the
    decoder must walk/skip them by declared size, so the fixture
    exercises that branch under the oracle too."""
    import struct

    rows = []
    for mid in range(n):
        c = mid % 2 + 1
        sr = 8000 * (mid % 3 + 1)
        frames = mid % 50 + 20
        total = frames * c
        samples = ((mid * 37 + 11 * np.arange(total)) % 4096 - 2048).astype("<i2")
        fmt = struct.pack("<HHIIHH", 1, c, sr, sr * c * 2, c * 2, 16)
        chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        if mid % 4 == 0:
            junk = f"INFOfixture {mid}".encode("ascii")
            junk += b"\x00" * (len(junk) % 2)  # RIFF chunks pad to even
            chunks += b"LIST" + struct.pack("<I", len(junk)) + junk
        data = samples.tobytes()
        chunks += b"data" + struct.pack("<I", len(data)) + data
        payload = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
        rows.append((mid, payload))
    return pd.DataFrame(rows, columns=["media_id", "payload"]).astype(
        {"media_id": "int64"}
    )


def write_dirty_jsonl(n: int, path: str) -> None:
    """A JSONL feed where every 20th line is truncated mid-value —
    the guaranteed reality of any 100 TB ingest. Closed-form so the
    PERMISSIVE-scan oracle can recompute valid/corrupt counts and the
    valid-value sum without parsing:

      line i valid    ⇔ i % 20 != 0
      valid payload   = {"id": i, "v": (i*3) % 97}
      corrupt payload = '{"id": i, "v":'  (unterminated)
    """
    with open(path, "w") as fh:
        for i in range(n):
            if i % 20 == 0:
                fh.write('{"id": %d, "v":\n' % i)
            else:
                fh.write('{"id": %d, "v": %d}\n' % (i, i * 3 % 97))


def emb_dup(n_base: int, seed: int, dim: int = 64) -> pd.DataFrame:
    """Unit-norm float32 embeddings with planted duplicates: ~2% exact
    copies and ~10% near copies (small additive noise then renormalize —
    cosine ≈ 0.99+ against the source), for the embedding-cosine
    near-dup operator."""
    rng = np.random.default_rng(seed)
    n_base = max(n_base, 200)
    vecs = rng.standard_normal((n_base, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows: list[tuple[int, list[float], str]] = [
        (i, vecs[i].astype(np.float32).tolist(), "base") for i in range(n_base)
    ]
    next_id = n_base
    for _ in range(max(1, int(n_base * 0.02))):  # exact copies
        src = int(rng.integers(0, n_base))
        rows.append((next_id, rows[src][1], f"exact_of_{src}"))
        next_id += 1
    for _ in range(max(1, int(n_base * 0.10))):  # near copies
        src = int(rng.integers(0, n_base))
        # noise sized so cosine ~ 1 - sigma^2*dim/2 = ~0.9954 stays above
        # the 0.99 verify threshold with margin
        v = vecs[src] + 0.012 * rng.standard_normal(dim)
        v /= np.linalg.norm(v)
        rows.append((next_id, v.astype(np.float32).tolist(), f"near_of_{src}"))
        next_id += 1
    return pd.DataFrame(rows, columns=["vec_id", "embedding", "provenance"])


def docs_pii(n: int, seed: int) -> pd.DataFrame:
    """Document corpus with planted PII tokens (emails, US phone numbers,
    IPv4 addresses) at known per-row counts — the scrub operator's
    ground truth. ~40% of docs are PII-free; the rest carry 1-3 planted
    items each, inserted at random token positions."""
    rng = np.random.default_rng(seed)
    n = max(n, 200)
    rows = []
    for i in range(n):
        toks = list(rng.choice(WORDS, size=int(rng.integers(15, 40))))
        n_em = n_ph = n_ip = 0
        for _ in range(int(rng.integers(0, 4)) if rng.random() > 0.4 else 0):
            kind = rng.choice(["email", "phone", "ip"])
            if kind == "email":
                tok = (
                    f"{rng.choice(FIRST_NAMES).lower()}."
                    f"{rng.choice(LAST_NAMES).lower()}{rng.integers(1, 999)}"
                    f"@example{rng.integers(0, 9)}.com"
                )
                n_em += 1
            elif kind == "phone":
                tok = (
                    f"{rng.integers(200, 999)}-{rng.integers(100, 999)}"
                    f"-{rng.integers(1000, 9999)}"
                )
                n_ph += 1
            else:
                tok = ".".join(str(rng.integers(1, 255)) for _ in range(4))
                n_ip += 1
            toks.insert(int(rng.integers(0, len(toks) + 1)), tok)
        rows.append((i, " ".join(toks), n_em, n_ph, n_ip))
    return pd.DataFrame(
        rows, columns=["doc_id", "text", "planted_emails", "planted_phones", "planted_ips"]
    )


def docs_dup(n_base: int, seed: int) -> pd.DataFrame:
    """Document corpus with planted exact and near duplicates.

    ~3% exact copies and ~10% near duplicates (a few tokens swapped —
    word-shingle Jaccard typically 0.6-0.9 against the original), so the
    dedup operators (exact md5 groupBy, MinHash-LSH) have real targets.
    """
    rng = np.random.default_rng(seed)
    n_base = max(n_base, 200)
    lengths = rng.integers(20, 60, n_base)
    texts = [" ".join(rng.choice(WORDS, size=lengths[i])) for i in range(n_base)]
    rows: list[tuple[int, str, str]] = [(i, texts[i], "base") for i in range(n_base)]
    next_id = n_base
    for _ in range(max(1, int(n_base * 0.03))):  # exact dups
        src = int(rng.integers(0, n_base))
        rows.append((next_id, texts[src], f"exact_of_{src}"))
        next_id += 1
    for _ in range(max(1, int(n_base * 0.10))):  # near dups
        src = int(rng.integers(0, n_base))
        toks = texts[src].split(" ")
        n_edit = max(1, len(toks) // 20)
        for _ in range(n_edit):
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(WORDS))
        rows.append((next_id, " ".join(toks), f"near_of_{src}"))
        next_id += 1
    return pd.DataFrame(rows, columns=["doc_id", "text", "provenance"])


def docs_contain(n_base: int, seed: int) -> pd.DataFrame:
    """Corpus with planted DOC-IN-DOC containment pairs at known size
    ratios — the asymmetric fixture the signature-containment recall
    gauge measures against. Base docs are 20-60 tokens; ~8% wrapper
    docs embed one base doc VERBATIM (contiguous token copy, so every
    source 3-shingle appears in the wrapper: shingle containment
    exactly 1.0) inside (R-1)x fresh filler, R cycling through
    {2, 3, 4, 6, 8}. Jaccard(src, wrapper) ~ 1/R, which is why every
    symmetric Jaccard detector structurally misses these and the
    asymmetric measure exists. src_id = -1 and ratio = 0 mark base
    rows; wrapper ids sort after every base id, so planted pairs are
    (src_id < doc_id) in the detectors' pair orientation."""
    rng = np.random.default_rng(seed)
    n_base = max(n_base, 200)
    lengths = rng.integers(20, 60, n_base)
    texts = [" ".join(rng.choice(WORDS, size=lengths[i])) for i in range(n_base)]
    rows: list[tuple[int, str, str, int, int]] = [
        (i, texts[i], "base", -1, 0) for i in range(n_base)
    ]
    next_id = n_base
    ratios = [2, 3, 4, 6, 8]
    for j in range(max(1, int(n_base * 0.08))):
        src = int(rng.integers(0, n_base))
        ratio = ratios[j % len(ratios)]
        src_toks = texts[src].split(" ")
        filler_n = (ratio - 1) * len(src_toks)
        pre = int(rng.integers(0, filler_n + 1))
        filler = list(rng.choice(WORDS, size=filler_n))
        toks = filler[:pre] + src_toks + filler[pre:]
        rows.append(
            (next_id, " ".join(toks), f"wrap{ratio}_of_{src}", src, ratio)
        )
        next_id += 1
    return pd.DataFrame(
        rows, columns=["doc_id", "text", "provenance", "src_id", "ratio"]
    )


def docs_spans(n_base: int, seed: int) -> pd.DataFrame:
    """Corpus with planted REPEATED SPANS — the substring-grain dedup
    fixture (the Lee et al. 2022 modality: verbatim token runs repeated
    across documents, shorter than a document). Base docs are 40-80
    tokens. A pool of shared spans (12-20 tokens each) is planted into
    HOST docs (~10% extra rows): host = filler_pre + span + filler_post
    with 30-60 filler tokens split at a random point; every span lands
    in at least 2 hosts, so each of its 8-token windows occurs >= 2
    times globally and the detector must recover the exact token
    interval. Ground truth per host row: span_id, span_pos (0-based
    token index of the span's first token), span_len (tokens); base
    rows carry (-1, -1, -1)."""
    rng = np.random.default_rng(seed)
    n_base = max(n_base, 200)
    lengths = rng.integers(40, 80, n_base)
    texts = [" ".join(rng.choice(WORDS, size=lengths[i])) for i in range(n_base)]
    rows: list[tuple[int, str, int, int, int]] = [
        (i, texts[i], -1, -1, -1) for i in range(n_base)
    ]
    n_hosts = max(2, int(n_base * 0.10))
    n_spans = max(1, n_hosts // 3)  # ~3 hosts per span on average
    spans = [
        " ".join(rng.choice(WORDS, size=int(rng.integers(12, 21))))
        for _ in range(n_spans)
    ]
    next_id = n_base
    for j in range(n_hosts):
        sid = j % n_spans  # round-robin: every span gets >= 2 hosts
        span_toks = spans[sid].split(" ")
        filler_n = int(rng.integers(30, 61))
        pre = int(rng.integers(0, filler_n + 1))
        filler = list(rng.choice(WORDS, size=filler_n))
        toks = filler[:pre] + span_toks + filler[pre:]
        rows.append((next_id, " ".join(toks), sid, pre, len(span_toks)))
        next_id += 1
    return pd.DataFrame(
        rows, columns=["doc_id", "text", "span_id", "span_pos", "span_len"]
    )


def ensure_fixtures(sf_name: str, root: str = FIXTURES_ROOT) -> str:
    """Idempotently materialize fixtures for a scale factor; regenerates
    when FIXTURE_VERSION changed."""
    out_dir = os.path.join(root, sf_name)
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == FIXTURE_VERSION:
                return out_dir
    return write_fixtures(sf_name, root)


def fixture_dir_for(sf_dir: str) -> str:
    """Map a driver sf dir (/root/testdata/sf0.01) to the pinterest
    fixture dir of the same scale, generating it if missing."""
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    if not sf_name.startswith("sf"):
        sf_name = "sf0.01"
    return ensure_fixtures(sf_name)

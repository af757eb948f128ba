"""URL-seen set: exact sharded anti-join, the shared front-filter probe
shell, and the bloom format.

Replaces the reference's Mongo compound unique index (core/crawler.py:726-733)
— its only dedup structure — with the scale design from the north rule:

1. **Exact layer** (always correct): a ``seen`` table sharded by
   ``pmod(xxhash64(url), n_shards)``; dedup is a ``left_anti`` join on
   (shard, url_hash, url).  Sharding keeps each join partition bounded and,
   at 10^10 URLs, maps onto a bucketed Iceberg table so the anti-join is
   shuffle-free on the seen side.

2. **Bloom front-filter** (scale path): per-shard numpy bit arrays built
   distributed via ``applyInPandas`` and kept AS A TABLE of (shard, m, k,
   bits) blobs — they never transit the driver.  Probing is a cogrouped
   ``applyInPandas`` on the shard key: each task receives one shard's
   candidates plus that shard's single blob row, so at 10^10 keys @1% fp
   (~12 GB of bits across 10^4 shards) each executor holds only the ~1.2 MB
   shards it probes, and the blob table maps onto a bucketed Iceberg table
   that recrawl rounds OR-merge incrementally.  Candidates that miss the
   bloom are *definitely new* and skip the exact join entirely; bloom hits
   (a few % false positives) are confirmed by the exact anti-join — false
   positives cost a lookup, never correctness.

3. **One probe shell for every format**: :func:`maybe_seen` and
   :func:`filter_unseen_with` do the cogroup and the exact confirm; a format
   supplies only its per-shard membership kernel (:func:`bloom_contains`
   here, ``cuckoo.cuckoo_contains``).  Which format a stored index uses, and
   its lifecycle (freshness, bootstrap, commit merge, purge), lives in
   ``engine/seen_index.py``.

Double hashing from the single xxhash64 key: index_i = (h1 + i*h2) mod m —
standard Kirsch–Mitzenmacher construction, fully vectorized in numpy.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType


def with_shard(df: DataFrame, n_shards: int, hash_col: str = "url_hash") -> DataFrame:
    return df.withColumn("shard", F.pmod(F.col(hash_col), F.lit(n_shards)).cast("int"))


def filter_unseen(candidates: DataFrame, seen: DataFrame | None) -> DataFrame:
    """Exact anti-join layer (J1).  ``candidates`` needs url + url_hash cols."""
    if seen is None:
        return candidates
    return candidates.join(
        seen.select("url_hash", "url"), on=["url_hash", "url"], how="left_anti"
    )


# ---------------------------------------------------------------------------
# bloom shards


def _bloom_params(n_keys: int, fpp: float) -> tuple[int, int]:
    n_keys = max(n_keys, 1)
    m = max(64, int(-n_keys * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 63) // 64 * 64  # round to whole words
    k = max(1, int(round(m / n_keys * math.log(2))))
    return m, min(k, 16)


def _bloom_positions(hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """(len(hashes), k) bit positions via double hashing on the 64-bit key."""
    h = hashes.astype(np.uint64)
    h1 = h % np.uint64(m)
    h2 = ((h >> np.uint64(33)) | np.uint64(1)) % np.uint64(m)
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)


# single source of truth for the per-shard filter sizing: the crawl engine
# records (m, k) derived from THIS constant in the store manifest and treats
# any mismatch as geometry drift (rebuild) — a divergent literal there would
# permanently fail the freshness check and silently disable the index
BLOOM_KEYS_PER_SHARD = 200_000


def build_bloom_shards(
    seen: DataFrame, n_shards: int,
    keys_per_shard: int = BLOOM_KEYS_PER_SHARD, fpp: float = 0.01,
) -> DataFrame:
    """Bloom blob TABLE (shard, m, k, bits) built distributed, one task per
    shard.  The blobs stay executor-side for their whole life: built here,
    shuffled once into the cogrouped probe — the driver never holds them
    (at the 10^10-key sizing that would be ~12 GB through the driver heap).
    """
    m, k = _bloom_params(keys_per_shard, fpp)
    n_words = m // 64

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(n_words, dtype=np.uint64)
        pos = _bloom_positions(pdf["url_hash"].to_numpy(np.int64), m, k).ravel()
        np.bitwise_or.at(bits, (pos >> 6).astype(np.int64), np.uint64(1) << (pos & np.uint64(63)))
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "m": [m],
                "k": [k],
                "bits": [bits.tobytes()],
            }
        )

    return (
        with_shard(seen.select("url_hash"), n_shards)
        .groupBy("shard")
        .applyInPandas(_build, "shard int, m long, k int, bits binary")
    )


def merge_bloom_shards(prev: DataFrame, delta: DataFrame) -> DataFrame:
    """OR-merge two blob tables of IDENTICAL geometry (m, k) shard-by-shard.

    Bloom insertion is just setting bits, so OR(build(A), build(B)) ==
    build(A ∪ B) bit-for-bit — the incremental-index property: each round
    builds blobs from its (small) seen DELTA only and merges, instead of
    re-scanning the 10^10-key corpus.  Geometry is fixed at creation (size
    for target capacity up front; fp degrades gracefully past it — never
    correctness, the exact layer confirms suspects)."""

    def _merge(pdfs) -> pd.DataFrame:
        a, b = pdfs
        if len(a) == 0:
            return b[["shard", "m", "k", "bits"]]
        if len(b) == 0:
            return a[["shard", "m", "k", "bits"]]
        assert int(a["m"].iloc[0]) == int(b["m"].iloc[0]), "bloom geometry mismatch"
        bits = (
            np.frombuffer(a["bits"].iloc[0], dtype=np.uint64)
            | np.frombuffer(b["bits"].iloc[0], dtype=np.uint64)
        )
        return pd.DataFrame(
            {
                "shard": [int(a["shard"].iloc[0])],
                "m": [int(a["m"].iloc[0])],
                "k": [int(a["k"].iloc[0])],
                "bits": [bits.tobytes()],
            }
        )

    return (
        prev.groupBy("shard")
        .cogroup(delta.groupBy("shard"))
        .applyInPandas(
            lambda a, b: _merge((a, b)), "shard int, m long, k int, bits binary"
        )
    )


def bloom_contains(blob: pd.Series, h: np.ndarray) -> np.ndarray:
    """Bloom membership kernel over one shard's blob row (m, k, bits)."""
    m = int(blob["m"])
    k = int(blob["k"])
    bits = np.frombuffer(blob["bits"], dtype=np.uint64)
    pos = _bloom_positions(h, m, k)
    hit = np.ones(len(h), dtype=bool)
    for j in range(k):
        p = pos[:, j]
        hit &= (bits[(p >> np.uint64(6)).astype(np.int64)]
                >> (p & np.uint64(63))) & np.uint64(1) == 1
    return hit


# ---------------------------------------------------------------------------
# the probe shell every filter format shares (bloom here, cuckoo in cuckoo.py)


def maybe_seen(
    df: DataFrame, shards: DataFrame, n_shards: int,
    contains: Callable[[pd.Series, np.ndarray], np.ndarray],
) -> DataFrame:
    """Adds ``maybe_seen`` bool by cogrouping candidates with the blob table
    on the shard key — each task gets one shard's candidates + its one blob
    row, and the format's kernel ``contains(blob_row, url_hashes)`` answers
    membership.

    Rows with maybe_seen == false are guaranteed-new (no false negatives);
    only maybe_seen rows need the exact anti-join.  An absent blob row means
    the shard holds no seen keys ⇒ definitely unseen.
    """
    from pyspark.sql.types import StructField, StructType

    added_shard = "shard" not in df.columns
    cand = with_shard(df, n_shards) if added_shard else df
    out_schema = StructType(
        list(df.schema.fields) + [StructField("maybe_seen", BooleanType())]
    )
    out_cols = [f.name for f in out_schema.fields]

    def _probe(cdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        h = cdf["url_hash"].to_numpy(np.int64)
        if len(bdf) == 0:
            hit = np.zeros(len(h), dtype=bool)
        else:
            hit = contains(bdf.iloc[0], h)
        out = cdf.copy()
        out["maybe_seen"] = hit
        if added_shard:
            out = out.drop(columns=["shard"])
        return out[out_cols]

    return (
        cand.groupBy("shard")
        .cogroup(shards.groupBy("shard"))
        .applyInPandas(_probe, out_schema)
    )


def filter_unseen_with(
    candidates: DataFrame, seen: DataFrame | None, shards: DataFrame,
    n_shards: int, contains: Callable[[pd.Series, np.ndarray], np.ndarray],
) -> DataFrame:
    """Full two-layer dedup: front-filter probe, exact confirm of suspects."""
    if seen is None:
        return candidates
    flagged = maybe_seen(candidates, shards, n_shards, contains)
    definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspects = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    confirmed_new = filter_unseen(suspects, seen)
    return definitely_new.unionByName(confirmed_new)


def bloom_maybe_seen(df: DataFrame, shards: DataFrame, n_shards: int) -> DataFrame:
    return maybe_seen(df, shards, n_shards, bloom_contains)

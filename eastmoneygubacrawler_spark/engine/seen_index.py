"""Persisted filter indexes: one lifecycle for every front-filter blob table.

The store keeps up to three approximate-membership indexes, each a blob table
plus a manifest meta entry: ``seen_bloom`` or ``seen_cuckoo`` (the URL-seen
front-filter, per ``CrawlConfig.seen_filter``) and ``posts_bloom`` (the
posts-key front-filter of the wave loop's dedup).  This module is the only
place that knows which format a table uses; the crawl round and the purge
drive every index through the same :class:`FilterIndex` methods:

1. **open** — the meta entry records the geometry the blobs were built with
   and the store round they cover.  Drift (another ``n_shards`` /
   ``bloom_fpp``) or lag (a round that committed keys without the index, or a
   purge a bloom cannot apply) would probe wrong or stale blobs — false
   negatives, i.e. refetches and duplicate rows — so only a fresh entry is
   loaded.  Otherwise the first probe builds the blobs from the stored keys,
   once, lazily checkpointed, and the commit merges into that same build.
   Every checkpoint goes through the caller's round-scoped
   :class:`~.checkpoints.Checkpoints`, which releases it after the commit.
2. **probe** — :meth:`FilterIndex.maybe_seen` flags rows; a miss is
   definitely new.  :meth:`FilterIndex.filter_unseen` confirms the flagged
   suspects with the exact anti-join (operators/seen.py).
3. **commit** — the round's delta keys merge into the blobs: a bloom
   OR-merge, or a cuckoo insert whose overflowed shards are rebuilt from the
   full key set.
4. **purge** — a cuckoo deletes the keys in place and its entry stays fresh;
   a bloom cannot delete, so its entry lags and the next round rebuilds.

With ``use_bloom=False`` every index is exact-only: no probe, no blobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import cuckoo as CK
from ..operators import seen as SE
from ..storage.backend import SnapshotStore
from .checkpoints import Checkpoints


class BloomFormat:
    """Bloom blobs (shard, m, k, bits): OR-merge on commit; cannot delete."""

    contains = staticmethod(SE.bloom_contains)

    def __init__(self, n_shards: int, fpp: float):
        m, k = SE._bloom_params(SE.BLOOM_KEYS_PER_SHARD, fpp)
        self.geom = {"m": m, "k": k, "n_shards": n_shards}
        self.n_shards = n_shards
        self.fpp = fpp

    def build(self, keys: DataFrame) -> DataFrame:
        return SE.build_bloom_shards(keys, self.n_shards, fpp=self.fpp)

    def merge(self, base: DataFrame, delta: DataFrame, all_keys: DataFrame,
              checkpoint) -> DataFrame:
        return SE.merge_bloom_shards(base, self.build(delta))


class CuckooFormat:
    """Cuckoo blobs (shard, m, table): insert on commit, delete in place."""

    contains = staticmethod(CK.cuckoo_contains)

    def __init__(self, n_shards: int):
        self.geom = {"n_shards": n_shards, "slots": CK.SLOTS}
        self.n_shards = n_shards

    def build(self, keys: DataFrame) -> DataFrame:
        # 2x headroom: a fresh shard absorbs several rounds of deltas before
        # it overflows into a rebuild
        return CK.build_cuckoo_shards(keys, self.n_shards, headroom=2.0)

    def merge(self, base: DataFrame, delta: DataFrame, all_keys: DataFrame,
              checkpoint) -> DataFrame:
        # checkpoint: rebuild_overflowed_shards probes the merged blobs (head
        # over the flag column) and then they are written — without it the
        # cogrouped merge would execute twice
        merged = checkpoint(CK.merge_cuckoo_shards(base, delta, self.n_shards), eager=True)
        return CK.rebuild_overflowed_shards(merged, all_keys, self.n_shards)

    def delete(self, blobs: DataFrame, keys: DataFrame) -> DataFrame:
        return CK.delete_from_cuckoo_shards(blobs, keys, self.n_shards)


class FilterIndex:
    """One persisted front-filter in format ``fmt`` over the keys in
    ``source`` — a frame with a ``url_hash`` column holding every key stored
    before this round.  ``fmt=None`` has no format operations: the exact-only
    index of a ``use_bloom=False`` round, or a purge-side bloom, which cannot
    delete.  ``checkpoint`` (a :class:`~.checkpoints.Checkpoints`) takes every
    checkpoint the index makes."""

    def __init__(self, table: str, fmt, geom: dict | None,
                 stored: DataFrame | None, source: DataFrame | None,
                 checkpoint: Checkpoints):
        self.table = table
        self.fmt = fmt
        self.geom = geom
        self.stored = stored  # blobs of a fresh manifest entry, else None
        self.source = source
        self.checkpoint = checkpoint
        self._bootstrap = None

    @classmethod
    def open(cls, spark: SparkSession, store: SnapshotStore, table: str,
             fmt, source: DataFrame | None, checkpoint: Checkpoints) -> FilterIndex:
        """Load the stored blobs when the meta entry matches ``fmt``'s
        geometry and covers the store's current round."""
        meta = store.meta().get(table) if fmt is not None else None
        fresh = (
            meta is not None
            and all(meta.get(f) == v for f, v in fmt.geom.items())
            and meta.get("round") == store.current_round()
        )
        stored = store.load(spark, table) if fresh else None
        return cls(table, fmt, fmt.geom if fmt else None, stored, source, checkpoint)

    def shards(self) -> DataFrame | None:
        """The stored blobs, else the bootstrap build from ``source`` — built
        at most once per round and checkpointed lazily (its bytes are bounded
        by geometry, never by corpus), so the first probe and the commit
        share one full-key scan."""
        if self.stored is not None:
            return self.stored
        if self._bootstrap is None and self.fmt is not None and self.source is not None:
            self._bootstrap = self.checkpoint(self.fmt.build(self.source))
        return self._bootstrap

    def maybe_seen(self, df: DataFrame) -> DataFrame | None:
        """``df`` plus the ``maybe_seen`` flag, or None without an index."""
        shards = self.shards()
        if shards is None:
            return None
        return SE.maybe_seen(df, shards, self.fmt.n_shards, self.fmt.contains)

    def filter_unseen(self, df: DataFrame, seen: DataFrame) -> DataFrame:
        """Rows of ``df`` whose url is not in ``seen``: front-filter probe
        plus exact confirm of the suspects, or the exact anti-join alone
        without an index."""
        return self._unseen(df, seen, self.shards())

    def dedup_delta(self, delta: DataFrame, seen: DataFrame | None) -> DataFrame:
        """This round's new keys ``delta`` less those already in ``seen``,
        probing only blobs that were loaded fresh — a bootstrap build is not
        worth it for one delta.  With an index the result also feeds the
        commit's blob build, so it is materialized once here; otherwise the
        whole probe/anti-join plan would run twice inside the commit."""
        if seen is not None:
            delta = self._unseen(delta, seen, self.stored)
        if self.fmt is not None:
            delta = self.checkpoint(delta, eager=True)
        return delta

    def _unseen(self, df: DataFrame, seen: DataFrame,
                shards: DataFrame | None) -> DataFrame:
        if shards is None:
            return SE.filter_unseen(df, seen)
        return SE.filter_unseen_with(
            df, seen, shards, self.fmt.n_shards, self.fmt.contains
        )

    def commit(self, delta: DataFrame | None, round_id: int) -> tuple | None:
        """(blobs, meta entry) covering ``round_id`` once ``delta`` (this
        round's new keys, None for none) is merged in; None when there is
        nothing to commit."""
        if self.fmt is None:
            return None
        base = self.shards()
        if base is None:
            if delta is None:
                return None
            blobs = self.fmt.build(delta)
        elif delta is None:
            blobs = base
        else:
            all_keys = delta.select("url_hash")
            if self.source is not None:
                all_keys = self.source.select("url_hash").unionByName(all_keys)
            blobs = self.fmt.merge(base, delta, all_keys, self.checkpoint)
        return blobs, {**self.geom, "round": round_id}

    def purge(self, keys: DataFrame, round_id: int) -> tuple | None:
        """(blobs, meta entry) with ``keys`` deleted in place — only keys that
        really were inserted, or a colliding resident could lose its
        fingerprint.  None when the format cannot delete: the entry then lags
        and the next round rebuilds."""
        if self.fmt is None:
            return None
        return self.fmt.delete(self.stored, keys), {**self.geom, "round": round_id}


def open_round_indexes(spark: SparkSession, store: SnapshotStore, cfg,
                       seen_prev: DataFrame | None,
                       post_keys_prev: DataFrame | None,
                       checkpoint: Checkpoints) -> tuple:
    """The (URL-seen, posts-key) indexes of one crawl round, per the
    CrawlConfig ``cfg`` (``use_bloom``, ``seen_filter``, ``bloom_fpp``)."""
    seen_fmt = posts_fmt = None
    if cfg.use_bloom:
        posts_fmt = BloomFormat(cfg.n_shards, cfg.bloom_fpp)
        seen_fmt = CuckooFormat(cfg.n_shards) if cfg.seen_filter == "cuckoo" else posts_fmt
    seen_table = "seen_cuckoo" if isinstance(seen_fmt, CuckooFormat) else "seen_bloom"
    return (
        FilterIndex.open(spark, store, seen_table, seen_fmt, seen_prev, checkpoint),
        FilterIndex.open(spark, store, "posts_bloom", posts_fmt, post_keys_prev,
                         checkpoint),
    )


def committed_seen_index(spark: SparkSession, store: SnapshotStore,
                         checkpoint: Checkpoints,
                         n_shards: int | None = None) -> FilterIndex | None:
    """The URL-seen index whose manifest entry covers the store's current
    round, with the geometry that entry records (at most one is fresh: each
    round commits one format); None when none is.  Only a format that can
    delete gets its blobs loaded and keeps ``fmt``."""
    meta = store.meta()
    for table in ("seen_cuckoo", "seen_bloom"):
        entry = meta.get(table)
        if entry is None or entry.get("round") != store.current_round():
            continue
        geom = {f: v for f, v in entry.items() if f != "round"}
        if table == "seen_bloom":
            return FilterIndex(table, None, geom, None, None, checkpoint)
        stored = store.load(spark, table)
        if stored is not None:
            fmt = CuckooFormat(n_shards or entry["n_shards"])
            return FilterIndex(table, fmt, geom, stored, None, checkpoint)
    return None

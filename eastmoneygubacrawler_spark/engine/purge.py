"""URL purge — retire hosts/URLs from the crawl state as an O(delta) commit.

The north star asks for a *delete-capable* URL-seen structure ("partitioned
cuckoo-filter URL-seen set … retired URLs (e.g. purged hosts) can be removed
without rebuilding the shard"); this module is where that capability meets
the store.  One call removes a URL set from every stateful surface:

- **posts / seen / comments**: Iceberg-style EQUALITY-DELETE files
  (storage/backend.py ``deletes``) — the commit writes only the purged keys,
  never rewrites the tables; ``load`` anti-joins them out and the next
  ``compact`` folds them into the base.  O(purge delta) commit cost at any
  corpus size.
- **frontier / frontier_failed**: the frontier snapshot is O(active) and is
  filtered + rewritten (its normal per-round cost); frontier_failed takes an
  equality delete like the other append tables.
- **the seen index** (engine/seen_index.py, the same lifecycle the crawl
  round uses): the fresh one gets its ``purge`` — a cuckoo DELETES the
  purged keys from its stored per-shard tables in place and stays fresh (no
  rebuild: the cuckoo's structural win); a bloom cannot delete (bits are
  shared), so its manifest entry is left to lag and the next crawl round
  rebuilds it from the (now-smaller) seen table.  The asymmetry is the
  point, and it is recorded in the returned metrics.  The posts-key bloom
  lags the same way and is rebuilt from the post-purge posts table.

Purged URLs become refetchable: they are gone from ``seen``, so the next
round's gate schedules them again — the purge is also the "force recrawl
these URLs" knob.

Reference parity: the reference has no purge (its Mongo rows live forever);
this is a scale requirement the 10^10-frontier deployment adds (GDPR/host
retirement), built from the same operators the round path uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import urls as U
from ..storage.backend import SnapshotStore
from .checkpoints import Checkpoints
from .seen_index import committed_seen_index


def purged_in_seen(purged: DataFrame, seen: DataFrame) -> DataFrame:
    """Rows of ``purged`` (distinct urls) whose url is in ``seen``, in
    O(purge delta): the seen scan streams through a semi-join against the
    broadcast purge list, and only those matches — at most a few rows per
    purged url — are broadcast back into a semi-join of ``purged``, which
    keeps each purged row once.  No shuffle or aggregate touches the seen
    table."""
    matches = seen.select("url").join(
        F.broadcast(purged.select("url")), on="url", how="left_semi"
    )
    return purged.join(F.broadcast(matches), on="url", how="left_semi")


def purge_urls(
    spark: SparkSession,
    store: SnapshotStore,
    urls: DataFrame,
    n_shards: int | None = None,
) -> dict:
    """Remove ``urls`` (a 1-column ``url`` DataFrame, any casing/fragments —
    canonicalized here) from posts/seen/comments/frontier state.  Commits one
    store round; returns metrics.

    ``n_shards``: cuckoo index geometry, defaulted from the manifest meta.
    """
    cp = Checkpoints()  # released once the purge has committed
    # the FULL canonicalized purge list drives the posts/frontier deletes:
    # a url can sit in posts metadata or frontier retry state without ever
    # having entered seen (text fetch not yet succeeded), and the purge
    # contract is "gone from every surface", not "gone if seen"
    purged = cp(
        urls.select(U.canonicalize_url(F.col("url")).alias("url"))
        .distinct()
        .withColumn("url_hash", U.url_hash(F.col("url"))),
        # several consumers (delete files, frontier filter, cuckoo delete)
        # — materialize once; also fixes the metrics count without rescans
        eager=True,
    )
    n_purged = purged.count()
    seen_prev = store.load(spark, "seen")
    if seen_prev is not None:
        # cuckoo-delete input ONLY: in-place deletion is safe-for-others
        # solely on keys that were really inserted, so the index delete is
        # restricted to actually-seen urls while the equality deletes below
        # stay on the full list (posts metadata / frontier retry rows can
        # carry urls that never reached seen)
        purged_seen = cp(purged_in_seen(purged, seen_prev), eager=True)
    else:
        purged_seen = purged.limit(0)
    n_purged_seen = purged_seen.count()

    round_id = store.current_round() + 1
    manifest = store.manifest() or {"tables": {}}
    deletes: dict = {}
    snapshots: dict = {}
    meta: dict = {}
    posts_prev = store.load(spark, "posts")

    for table in ("seen", "posts", "frontier_failed"):
        if table in manifest["tables"]:
            deletes[table] = (purged.select("url"), ["url"])
    if "comments" in manifest["tables"] and posts_prev is not None:
        # comments key on the parent post, not a url column: resolve the
        # purged post urls to their (stock, type, url_id) triplets so a
        # reused url_id under another stock is never over-deleted
        ckeys = (
            posts_prev.join(purged.select("url"), on="url", how="left_semi")
            .select(
                "stock_code", "content_type",
                F.col("url_id").alias("post_url_id"),
            )
            .distinct()
        )
        deletes["comments"] = (
            ckeys, ["stock_code", "content_type", "post_url_id"]
        )

    frontier_prev = store.load(spark, "frontier")
    if frontier_prev is not None:
        snapshots["frontier"] = frontier_prev.join(
            purged.select("url"), on="url", how="left_anti"
        )

    # the seen index the last round committed: a format that can delete
    # drops the keys in place and stays fresh; a bloom's entry is left to lag
    # the store round, so the next crawl rebuilds it from the post-purge seen
    # table
    index = committed_seen_index(spark, store, cp, n_shards)
    kept = index.purge(purged_seen, round_id) if index is not None else None
    if kept is not None:
        snapshots[index.table], meta[index.table] = kept

    # posts_rows is deliberately NOT decremented: it is the HIGH-WATER
    # insertion count that seeds crawl_seq, and reusing a purged row's
    # sequence number would break insertion-order semantics (the Mongo _id
    # analog never reuses ids).  maintain()'s reconcile treats
    # actual < meta as legitimate for the same reason.

    store.commit(round_id, snapshots=snapshots, deletes=deletes, meta=meta)
    cp.release()
    return {
        "round": round_id,
        "urls_purged": n_purged,          # full canonicalized request list
        "urls_purged_seen": n_purged_seen,  # subset that was in seen
        "cuckoo_kept_fresh": kept is not None,
        "bloom_invalidated": index is not None and kept is None,
    }


def purge_hosts(
    spark: SparkSession,
    store: SnapshotStore,
    hosts: list[str],
    n_shards: int | None = None,
) -> dict:
    """Retire whole hosts (the north star's "purged hosts" case): every url
    of the given hosts, from EVERY url-bearing surface, goes through
    :func:`purge_urls`.  Deriving the list from seen alone would miss posts
    whose text fetch has not succeeded yet and frontier retry/pending rows —
    those urls never entered seen but must still be retired (host-retirement
    / GDPR contract).  One pruned scan per surface, union-distinct; no
    caller-side materialization."""
    per_table = []
    for table in ("seen", "posts", "frontier", "frontier_failed"):
        df = store.load(spark, table)
        if df is not None and "url" in df.columns:
            per_table.append(
                df.select("url").filter(
                    U.url_host(F.col("url")).isin(list(hosts))
                )
            )
    if not per_table:
        return {"round": store.current_round(), "urls_purged": 0,
                "urls_purged_seen": 0,
                "cuckoo_kept_fresh": False, "bloom_invalidated": False}
    from functools import reduce

    urls = reduce(lambda a, b: a.unionByName(b), per_table)
    return purge_urls(spark, store, urls, n_shards=n_shards)

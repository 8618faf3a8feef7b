"""Bounded session caches and the registry that invalidates them.

Registry: every dictionary-derived cache registers a clear function and
says whether its keys tell archive snapshots apart. Snapshot-keyed caches
(the archive handles of plans/ingest.py, keyed by each manifest's
`snapshot_id`) cannot go stale: a commit gives the archive a new key, so
only an explicit `invalidate_dict_caches()` clears them. The others
(plan-text keyed rows in plans/grep.py, fingerprint-keyed broadcasts in
plans/pipeline.py) keep their key across a rewrite of the same paths, so
the ingest paths clear them after every commit.

`PlanCache` is a separate bounded, plan-keyed persist cache. Problem it
solves: repeated query construction (the driver calls each
queries() entry afresh; a user session re-runs the same search) builds the
SAME analyzed plan each time. Naive `.persist()` relies on Spark's cache
manager to dedupe by plan — which works, but never frees anything in a
long-lived session; naively unpersisting the previous cache before each
query destroys the reuse and re-runs the parse stage per query.

PlanCache gives both: `persist(df)` returns the ALREADY-CACHED DataFrame
when one with the same analyzed plan is live (cache hit, no recompute), and
evicts the least-recently-used entry (unpersisting it) once more than
`max_items` distinct plans are held. The reference keeps per-archive
dictionaries resident across queries under the same assumption
(clp/streaming_archive/reader/Archive.cpp:163-195).
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame

_DICT_CACHE_CLEARERS: list = []  # (clear_fn, snapshot_keyed)


def register_dict_cache(clear_fn, snapshot_keyed: bool = False) -> None:
    _DICT_CACHE_CLEARERS.append((clear_fn, snapshot_keyed))


def invalidate_dict_caches(keep_snapshot_keyed: bool = False) -> None:
    """Clear every registered dictionary-derived cache (collected rows,
    broadcasts, archive handles). ingest()/ingest_json_archive pass
    keep_snapshot_keyed=True after a sink commit: snapshot-keyed entries
    cannot go stale, because the commit changes their key."""
    for fn, keyed in list(_DICT_CACHE_CLEARERS):
        if not (keep_snapshot_keyed and keyed):
            fn()


class RowsCache:
    """Bounded LRU for driver-side values (collected dictionary rows,
    archive handles). `on_evict` releases what a value holds (e.g. its
    broadcast) when the value is evicted or cleared."""

    def __init__(self, max_items: int = 8, on_evict=None, snapshot_keyed: bool = False):
        self.max_items = max_items
        self._on_evict = on_evict
        self._store: OrderedDict = OrderedDict()
        register_dict_cache(self.clear, snapshot_keyed)

    def get_or_load(self, key, loader):
        """Return the cached value for `key`, loading (and caching) on miss.
        key=None bypasses the cache entirely (e.g. Spark Connect fallback)."""
        if key is None:
            return loader()
        hit = self._store.get(key)
        if hit is not None:
            self._store.move_to_end(key)
            return hit
        while len(self._store) >= self.max_items:
            self._evict(self._store.popitem(last=False)[1])
        value = self._store[key] = loader()
        return value

    def _evict(self, value) -> None:
        if self._on_evict is not None:
            self._on_evict(value)

    def clear(self) -> None:
        while self._store:
            self._evict(self._store.popitem(last=False)[1])


class PlanCache:
    def __init__(self, max_items: int = 3):
        self.max_items = max_items
        self._store: OrderedDict[str, DataFrame] = OrderedDict()

    @staticmethod
    def _key(df: DataFrame) -> str | None:
        # CANONICALIZED plan, not analyzed().toString(): re-constructing the
        # same query mints fresh expression ids (#123), so the analyzed text
        # differs run to run. With non-canonical keys every re-construction
        # planted a new LRU entry whose .persist() shared the SAME
        # InMemoryRelation through Spark's canonical cache manager — and
        # evicting any stale twin unpersisted the shared data out from under
        # the live entries (measured: minhash_lsh_dups 0.6 s -> 4 s on the
        # third repeat). Canonicalization normalizes expression ids, so a
        # re-built plan is a cache HIT and eviction only fires for plans
        # that are truly gone.
        try:
            return df._jdf.queryExecution().analyzed().canonicalized().toString()
        except Exception:
            return None  # e.g. Spark Connect: fall back to plain persist

    def persist(self, df: DataFrame) -> DataFrame:
        key = self._key(df)
        if key is None:
            return df.persist()
        hit = self._store.get(key)
        if hit is not None:
            self._store.move_to_end(key)
            return hit
        while len(self._store) >= self.max_items:
            _, old = self._store.popitem(last=False)
            old.unpersist()
        self._store[key] = df.persist()
        return df

    def clear(self) -> None:
        while self._store:
            _, old = self._store.popitem(last=False)
            old.unpersist()

"""Session caches: the plan-keyed persist cache and the snapshot-keyed
archive handles that decode_archive / search_archives open archives through."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clp_spark.caching import PlanCache, invalidate_dict_caches
from clp_spark.plans import ingest as I
from clp_spark.sources.transcripts import load_transcripts

SF_DIR = "/root/testdata/sf0.001"
QUERIES = ["commit BEEF", "*used 123 of*", "zzz_no_such_token_anywhere"]


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def arch(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("handles") / "arch")
    I.ingest(spark, load_transcripts(spark, SF_DIR), out)
    return out


def test_plan_cache_rebuilt_plan_hits(spark):
    """Re-constructing the same query mints fresh expression ids; the
    canonicalized key must still hit, so no stale twin is planted whose
    eviction would unpersist the live cached data."""
    cache = PlanCache(max_items=2)

    def build():
        return spark.range(1000).withColumn("x", F.col("id") * 2).filter("x % 3 = 0")

    a, b = build(), build()
    assert (
        a._jdf.queryExecution().analyzed().toString()
        != b._jdf.queryExecution().analyzed().toString()
    )
    try:
        first = cache.persist(a)
        for _ in range(3):
            assert cache.persist(build()) is first
        assert len(cache._store) == 1
        assert first.count() == 334 and first.is_cached
    finally:
        cache.clear()
    assert not first.is_cached


def test_second_open_plans_without_jobs(spark, arch):
    """A second decode_archive / search_archives on the same snapshot reuses
    the handle: planning launches no Spark job, and the results are the
    same rows."""
    sc = spark.sparkContext
    first = [_rows(I.decode_archive(spark, arch))]
    first += [_rows(I.search_archives(spark, [arch], q)) for q in QUERIES]
    group = "test-second-open-planning"
    sc.setJobGroup(group, "planning only")
    try:
        dfs = [I.decode_archive(spark, arch)]
        dfs += [I.search_archives(spark, [arch], q) for q in QUERIES]
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [_rows(d) for d in dfs] == first


def test_wontmatch_result_folds_to_empty_relation(spark, arch):
    """An empty search result is a plan the optimizer folds to an empty
    LocalRelation (no scan when run), with the same schema as a match."""
    empty = I.search_archives(spark, [arch], "zzz_no_such_token_anywhere")
    hit = I.search_archives(spark, [arch], "commit BEEF")
    assert empty.schema == hit.schema
    assert "LocalRelation <empty>" in empty._jdf.queryExecution().optimizedPlan().toString()
    assert empty.count() == 0


def test_ingest_elsewhere_keeps_handle_reingest_misses(spark, arch, tmp_path):
    h = I.open_archives(spark, [arch])
    assert I.open_archives(spark, [arch]) is h
    t = load_transcripts(spark, SF_DIR).filter(F.col("turn_idx") < 2)
    other = str(tmp_path / "other")
    I.ingest(spark, t, other)
    assert I.open_archives(spark, [arch]) is h
    # re-ingest into the same path: a new snapshot id, so a new handle
    h_other = I.open_archives(spark, [other])
    sid = I.read_manifest(other)["snapshot_id"]
    I.ingest(spark, t, other, resume=False)
    assert I.read_manifest(other)["snapshot_id"] != sid
    assert I.open_archives(spark, [other]) is not h_other


def test_manifest_without_snapshot_id_opens_uncached(spark, tmp_path):
    out = str(tmp_path / "legacy")
    t = load_transcripts(spark, SF_DIR).filter(F.col("turn_idx") < 2)
    I.ingest(spark, t, out)
    m = I.read_manifest(out)
    del m["snapshot_id"]
    I._write_manifest(out, m)
    assert I.open_archives(spark, [out]) is not I.open_archives(spark, [out])
    assert I.decode_archive(spark, out).count() == t.count()


def test_lru_eviction_unpersists_broadcast(spark, arch, tmp_path, monkeypatch):
    from pyspark.broadcast import Broadcast

    other = str(tmp_path / "other")
    I.ingest(spark, load_transcripts(spark, SF_DIR).filter(F.col("turn_idx") < 2), other)
    invalidate_dict_caches()
    unpersisted = []
    monkeypatch.setattr(Broadcast, "unpersist", lambda self, blocking=False: unpersisted.append(self))
    monkeypatch.setattr(I._HANDLES, "max_items", 1)
    bc = I.open_archives(spark, [arch]).broadcast()
    assert unpersisted == []
    I.open_archives(spark, [other])  # evicts arch's handle
    assert unpersisted == [bc]
    invalidate_dict_caches()  # an explicit invalidation releases the rest
    assert unpersisted == [bc]  # other's handle never built its broadcast


def test_compaction_gives_a_new_snapshot(spark, tmp_path):
    """compact_archive rewrites bucket files that an open handle has listed:
    decode and search after it must read the new files, same rows."""
    out = str(tmp_path / "many")
    I.ingest(spark, load_transcripts(spark, SF_DIR).repartition(16), out)
    before = [_rows(I.decode_archive(spark, out))]
    before += [_rows(I.search_archives(spark, [out], q)) for q in QUERIES]
    sid = I.read_manifest(out)["snapshot_id"]
    assert I.compact_archive(spark, out, max_files_per_bucket=4)
    assert I.read_manifest(out)["snapshot_id"] != sid
    after = [_rows(I.decode_archive(spark, out))]
    after += [_rows(I.search_archives(spark, [out], q)) for q in QUERIES]
    assert after == before

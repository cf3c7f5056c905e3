"""The engine's Python worker daemon (omnidata_etl_spark.pydaemon), the
worker path conf that get_session sets for it, and the per-session memo
(session.session_memo), which owns every SQL-cache entry that outlives a
build."""

from __future__ import annotations

import importlib
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omnidata_etl_spark import pydaemon
from omnidata_etl_spark.session import release_cached_reads, session_memo

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, ["zg_first"])
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("zg_first").NAME == "zg_first"

    reads = []
    original = pydaemon._read

    def counting_read(self):
        reads.append(self.archive)
        original(self)

    monkeypatch.setattr(pydaemon, "_read", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_if_changed
    )

    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1  # first call: nothing recorded yet
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1  # unchanged archive: not re-read

    _write_zip(archive, ["zg_first", "zg_added"])  # size changes too
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 2
    assert importlib.import_module("zg_added").NAME == "zg_added"
    for name in ("zg_first", "zg_added"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)


def test_engine_daemon_is_live(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "omnidata_etl_spark.pydaemon"

    def guard_module(it):  # nested: pickled by value, not by test-module name
        import zipimport

        import pyarrow as pa

        module = zipimport.zipimporter.invalidate_caches.__module__
        for batch in it:
            yield pa.RecordBatch.from_pydict({"m": [module] * batch.num_rows})

    rows = spark.range(0, 8, 1, 2).mapInArrow(guard_module, "m string").distinct()
    assert [r.m for r in rows.collect()] == ["omnidata_etl_spark.pydaemon"]


_CWD_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from omnidata_etl_spark.registry import queries
from omnidata_etl_spark.session import get_session

spark = get_session("cwd-probe")
assert queries()["multimodal_audio_stats"](spark, sys.argv[2]).count() > 0

def ident(it):
    yield from it

assert spark.range(0, 100, 1, 2).mapInArrow(ident, "id long").count() == 100
print("CWD_OK")
"""


def test_workers_import_engine_from_any_cwd(sf_dir, tmp_path):
    """Workers get the package from spark.executorEnv.PYTHONPATH, not from
    the JVM's cwd or an inherited PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(OMNIDATA_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, "-c", _CWD_SCRIPT, _REPO, sf_dir],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert "CWD_OK" in proc.stdout, (
        f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    )



def test_default_driver_memory_fits_the_host(spark):
    """Without OMNIDATA_DRIVER_MEM the local heap is at most two fifths of
    MemTotal (1g floor, 16g cap), so a test run cannot outgrow a small
    host; the override still wins."""
    from omnidata_etl_spark.session import default_driver_memory

    with open("/proc/meminfo") as f:
        kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    got = default_driver_memory()
    assert got.endswith("g")
    gib = int(got[:-1])
    assert 1 <= gib <= 16
    assert gib << 20 <= max(kib * 2 // 5, 1 << 20)
    want = os.environ.get("OMNIDATA_DRIVER_MEM") or got
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want


# --- session_memo -------------------------------------------------------------


def _write_rows(path, n):
    pq.write_table(pa.table({"x": list(range(n))}), path)


def _cached(df):
    level = df.storageLevel
    return level.useMemory or level.useDisk


def _no_build():
    raise AssertionError("a memo hit must not build")


def test_memo_hit_returns_the_same_object(spark, tmp_path):
    src = str(tmp_path / "t.parquet")
    _write_rows(src, 3)
    key = ("test-hit", src)
    first = session_memo(spark, key, lambda: spark.read.parquet(src), source=src)
    assert session_memo(spark, key, _no_build, source=src) is first


@pytest.mark.parametrize("change", ["inode", "mtime", "size"])
def test_memo_rebuilds_on_a_rewritten_source(spark, tmp_path, change):
    """Each field of the file identity alone invalidates the entry, and the
    superseded cached frame leaves the SQL cache before the rebuild."""
    src = str(tmp_path / "t.parquet")
    _write_rows(src, 3)
    st = os.stat(src)
    builds = []

    def build():
        builds.append(src)
        df = spark.read.parquet(src).withColumn("build", F.lit(len(builds))).persist()
        df.count()
        return df

    key = ("test-rewrite", src)
    old = session_memo(spark, key, build, source=src)
    if change == "inode":  # the same bytes and mtime under a new inode
        shutil.copyfile(src, src + ".new")
        os.utime(src + ".new", ns=(st.st_atime_ns, st.st_mtime_ns))
        os.replace(src + ".new", src)
    elif change == "mtime":
        os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    else:  # more rows in place, the old mtime put back
        _write_rows(src, 5)
        os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns))
    new = session_memo(spark, key, build, source=src)
    try:
        assert len(builds) == 2 and new is not old
        assert not _cached(old) and _cached(new)
        assert new.count() == (5 if change == "size" else 3)
    finally:
        new.unpersist()


def test_memo_recaches_a_frame_evicted_by_clear_cache(spark, tmp_path):
    """A frame cached when stored is cached again on the next hit after
    clearCache; a frame the build left lazy stays lazy."""
    src = str(tmp_path / "t.parquet")
    _write_rows(src, 3)

    def cached_build():
        df = spark.read.parquet(src).persist()
        df.count()
        return df

    pinned = session_memo(spark, ("test-evict", src), cached_build, source=src)
    lazy = session_memo(
        spark, ("test-lazy", src),
        lambda: spark.read.parquet(src).withColumn("k", F.lit(1)), source=src,
    )
    spark.catalog.clearCache()
    assert not _cached(pinned)
    try:
        assert session_memo(spark, ("test-evict", src), _no_build, source=src) is pinned
        assert _cached(pinned)
        assert session_memo(spark, ("test-lazy", src), _no_build, source=src) is lazy
        assert not _cached(lazy)
    finally:
        pinned.unpersist()


def test_second_global_shuffle_build_runs_no_job(spark, sf_dir, monkeypatch):
    """A repeat build of a memoized query takes the memo's frame as stored:
    it neither persists nor counts a frame the build did not pin."""
    from omnidata_etl_spark.registry import all_specs

    monkeypatch.setattr(spark, "_omnidata_memo", {}, raising=False)
    build = all_specs()["etl_global_shuffle"].fn
    build(spark, sf_dir)
    sc, group = spark.sparkContext, "test-memo-second-build"
    sc.setJobGroup(group, "second etl_global_shuffle build")
    try:
        build(spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is async
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_release_cached_reads_spares_memo_values_and_the_callers_input(
    spark, monkeypatch
):
    """The helper uncaches what a frame read, nested entries included
    (``base`` is read only through ``outer``'s cached plan), and spares a
    memo value, the ``keep`` frame's entry and an unrelated entry."""
    monkeypatch.setattr(spark, "_omnidata_memo", {}, raising=False)
    base = spark.range(50).withColumn("x", F.col("id") * 2).persist()
    outer = (
        base.groupBy((F.col("id") % 3).alias("k")).agg(F.sum("x").alias("s"))
    ).persist()
    owned = session_memo(spark, ("test-owned",), lambda: spark.range(7).persist())
    mine = spark.range(11).withColumn("y", F.lit(1)).persist()
    sibling = spark.range(13).persist()
    frame = outer.crossJoin(owned).crossJoin(mine)
    assert frame.count() == 3 * 7 * 11
    try:
        release_cached_reads(frame, keep=mine)
        assert not _cached(outer) and not _cached(base)
        assert _cached(owned) and _cached(mine) and _cached(sibling)
    finally:
        for df in (base, outer, owned, mine, sibling):
            df.unpersist()


def _memo_cache_entries(spark) -> set:
    """Identities of the SQL-cache entries the memo's DataFrame values
    resolve to."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    held = set()
    for _, value, _ in spark._omnidata_memo.values():
        if isinstance(value, DataFrame):
            entry = cm.lookupCachedData(value._jdf)
            if entry.isDefined():
                builder = entry.get().cachedRepresentation().cacheBuilder()
                held.add(spark._jvm.System.identityHashCode(builder))
    return held


def test_registry_sweep_leaves_only_memo_owned_cache_entries(
    spark, sf_dir, monkeypatch, two_phase_key
):
    """Every SQL-cache entry that outlives a build is a memo value: after
    building every benched registry query in one session, from a cleared
    cache and an empty memo, the cache holds exactly the entries behind
    the memo's values (the n=5 shingle sets, q11's per-part values, q15's
    revenue0, bm25's per-doc frame and ann_lsh_topk's buckets). The
    two_phase_key fixture sends the surrogate key down its range path,
    whose persist the pin must release. The count is checked after every
    build, so a failure names the builder. Reverse registry order builds
    dedup_incremental_delta before the n=5 pair family, so a reader that
    persisted the shared shingle sets itself, not through the memo, would
    leave an entry that no memo value holds."""
    import bench
    from omnidata_etl_spark.registry import all_specs

    cm = spark._jsparkSession.sharedState().cacheManager()
    monkeypatch.setattr(spark, "_omnidata_memo", {}, raising=False)
    spark.catalog.clearCache()
    stray, checked, unheld = [], 0, 0
    try:
        for name, spec in reversed(list(all_specs().items())):
            if name in bench.SKIP:
                continue
            spec.fn(spark, sf_dir)
            n = cm.numCachedEntries()
            if n != checked:  # the memo walk only when the count moved
                now = n - len(_memo_cache_entries(spark))
                if now > unheld:
                    stray.append(f"{name}: +{now - unheld} entries")
                checked, unheld = n, now
        n, held = cm.numCachedEntries(), _memo_cache_entries(spark)
    finally:
        spark.catalog.clearCache()
    assert not stray, stray
    assert n == len(held) == 5

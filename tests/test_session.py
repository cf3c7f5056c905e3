"""The engine's Python worker daemon (omnidata_etl_spark.pydaemon) and the
worker path conf that get_session sets for it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from omnidata_etl_spark import pydaemon

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

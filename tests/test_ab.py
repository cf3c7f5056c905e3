"""scripts/ab.py's arm handling and equality gate, driven without Spark."""

from __future__ import annotations

import importlib.util
import os
from types import SimpleNamespace

import pandas as pd
import pytest

_spec = importlib.util.spec_from_file_location(
    "ab", os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "ab.py")
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def test_patch_rebinds_import_time_aliases():
    """`text` and `multimodal` bind `spread` at import: a patch of
    `_util.spread` must reach them too, and put the originals back."""
    from omnidata_etl_spark.queries import _util, multimodal, text

    real = _util.spread
    assert text.spread is real and multimodal.spread is real

    arm = ab.Arm("omnidata_etl_spark.queries._util:spread=lambda df: df")
    spark = SimpleNamespace()
    with arm.applied(spark):
        patched = _util.spread
        assert patched is not real
        assert text.spread is patched and multimodal.spread is patched
    assert _util.spread is real and text.spread is real and multimodal.spread is real


def test_each_arm_has_its_own_session_memos():
    spark = SimpleNamespace(_omnidata_memo={"shared": 1})
    a, b = ab.Arm("base"), ab.Arm("OMNIDATA_AB_TEST=1")
    with a.applied(spark):
        memo_a = spark._omnidata_memo
        memo_a["k"] = "a"
        assert os.environ.get("OMNIDATA_AB_TEST") is None
    with b.applied(spark):
        assert spark._omnidata_memo == {} and os.environ["OMNIDATA_AB_TEST"] == "1"
    with a.applied(spark):
        assert spark._omnidata_memo is memo_a
    assert spark._omnidata_memo == {"shared": 1}
    assert "OMNIDATA_AB_TEST" not in os.environ


def test_unequal_frames_stop_the_run_before_timing(monkeypatch):
    frames = iter([pd.DataFrame({"x": [1, 2]}), pd.DataFrame({"x": [1, 3]})])
    monkeypatch.setattr(ab, "_build", lambda spark, name, sf: (None, next(frames)))
    timed = []
    monkeypatch.setattr(ab.bench, "run_once", lambda *a: timed.append(a) or 0.0)
    arms = [ab.Arm("base"), ab.Arm("omnidata_etl_spark.queries._util:ONE_TASK_MAX_BYTES=-1")]
    with pytest.raises(SystemExit, match="differs"):
        ab.run_query(SimpleNamespace(), "q", "sf", arms, reps=3)
    assert timed == []


def test_arm_parsing():
    kinds = [ab.Arm(s).kind for s in (
        "base", "OMNIDATA_NO_MIRROR=1", "spark.sql.shuffle.partitions=7",
        "omnidata_etl_spark.queries._util:ONE_TASK_MAX_BYTES=-1",
    )]
    assert kinds == ["base", "env", "conf", "patch"]
    with pytest.raises(SystemExit):
        ab.Arm("not an arm")

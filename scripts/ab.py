#!/usr/bin/env python
"""Same-session A/B of registry queries across two or more arms.

    python scripts/ab.py NAME [NAME ...] --sf DIR --arm ARM --arm ARM
                         [--arm ...] [--reps N]

An arm is one of:

  base                  the code as it is
  NAME=VALUE            an environment variable, set while the arm runs
  spark.KEY=VALUE       a runtime SQL conf, set on the live session
  pkg.mod:attr=EXPR     `pkg.mod.attr` replaced by `eval(EXPR)`, e.g.
                        omnidata_etl_spark.queries._util:ONE_TASK_MAX_BYTES=-1
                        omnidata_etl_spark.queries._util:spread=lambda df: df

A patch also rebinds every loaded module of the same package that holds
the original object under the same name (`text.py` and `multimodal.py`
bind `spread` at import). Each arm has its own `session.session_memo`
dict, so no arm times a frame, handle or count memoized under another arm.

For each query, every arm's frame is built and collected once (the
warm-up) and the frames must be equal under `tests/oracle_util.canonical`
before anything is timed. Then the arms alternate rep by rep, the order
rotating each rep; one rep is `bench.run_once(..., "rebuild")`, the builder
plus `toPandas`, under its own job group. Per arm the report gives the
min, median and IQR of wall seconds, the reps it beat the first arm, and
the median Spark jobs, tasks and `jvm_cpu_s` per rep. `jvm_cpu_s` is the
executor CPU time Spark records for its tasks (`spark.task_cpu_s` in
`perfbench/layers.spark_counters`): JVM threads only. CPU spent in Python
workers (UDFs, Arrow maps) is not in it, so a Python-boundary query can
read a small fraction of its wall.

An override that the live session cannot take fails the run: a conf that
is static or unknown, a conf the engine resets during a build, and an env
variable that leaves the query's physical plan unchanged (the engine read
it at import or session start, or never on this query's path).
"""

from __future__ import annotations

import argparse
import importlib
import os
import re
import statistics
import sys
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from omnidata_etl_spark.registry import all_specs  # noqa: E402
from perfbench.layers import spark_counters  # noqa: E402
from tests.oracle_util import canonical  # noqa: E402

_PATCH = re.compile(r"([\w.]+):(\w+)=(.*)", re.S)
_CONF = re.compile(r"(spark\.[\w.-]+)=(.*)", re.S)
_ENV = re.compile(r"([A-Za-z_]\w*)=(.*)", re.S)
# the one memo dict the engine hangs on the session (session.session_memo)
_SESSION_MEMO = "_omnidata_memo"


class Arm:
    """One side of the A/B: a parsed override plus its own memo dict."""

    def __init__(self, spec: str):
        self.label = spec
        self.kind = "base"
        self.memo = {}
        if spec == "base":
            return
        for kind, rx in (("patch", _PATCH), ("conf", _CONF), ("env", _ENV)):
            m = rx.fullmatch(spec)
            if m:
                self.kind, self.args = kind, m.groups()
                return
        raise SystemExit(f"ab.py: cannot parse arm {spec!r}")

    @contextmanager
    def applied(self, spark):
        saved = getattr(spark, _SESSION_MEMO, None)
        setattr(spark, _SESSION_MEMO, self.memo)
        try:
            with getattr(self, f"_{self.kind}")(spark):
                yield
        finally:
            setattr(spark, _SESSION_MEMO, saved)

    @contextmanager
    def _base(self, spark):
        yield

    @contextmanager
    def _env(self, spark):
        key, value = self.args
        old = os.environ.get(key)
        os.environ[key] = value
        try:
            yield
        finally:
            if old is None:
                os.environ.pop(key, None)
            else:
                os.environ[key] = old

    @contextmanager
    def _conf(self, spark):
        key, value = self.args
        if not spark.conf.isModifiable(key):
            raise SystemExit(
                f"ab.py: {key} is not a runtime SQL conf of this session "
                "(static, core or unknown): the arm would time the base program"
            )
        old = spark.conf.get(key, None)
        spark.conf.set(key, value)
        try:
            yield
            now = spark.conf.get(key)
            if now != value:
                raise SystemExit(
                    f"ab.py: {key} was reset to {now!r} during the arm "
                    f"{self.label!r}; the engine overrides it"
                )
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)

    @contextmanager
    def _patch(self, spark):
        modname, attr, expr = self.args
        all_specs()  # import every query module before any of them can bind
        mod = importlib.import_module(modname)
        orig = getattr(mod, attr)
        holders = holders_of(mod, attr, orig)
        value = eval(expr, {})  # noqa: S307 - arms are typed by the operator
        for m in holders:
            setattr(m, attr, value)
        try:
            yield
        finally:
            for m in holders:
                setattr(m, attr, orig)


def holders_of(mod, attr: str, orig) -> list:
    """`mod` and every loaded module of its top-level package whose
    `attr` is the very object `orig`."""
    root = mod.__name__.split(".")[0] + "."
    return [mod] + [
        m for name, m in list(sys.modules.items())
        if m is not None and m is not mod and (name + ".").startswith(root)
        and vars(m).get(attr) is orig
    ]


def _build(spark, name: str, sf: str):
    df = all_specs()[name].fn(spark, sf)
    return df, df.toPandas()


def _plan(df) -> str:
    tree = df._jdf.queryExecution().sparkPlan().toString()
    return re.sub(r"#\d+L?|plan_id=\d+", "", tree)


def check_equal(name: str, arms: list[Arm], frames: list) -> None:
    """Stop the run unless every arm's frame equals the first arm's."""
    ref = canonical(frames[0])
    for arm, pdf in zip(arms[1:], frames[1:]):
        got = canonical(pdf)
        if got == ref:
            continue
        diffs = [(a, b) for a, b in zip(ref[2], got[2]) if a != b][:3]
        raise SystemExit(
            f"ab.py: {name}: arm {arm.label!r} differs from {arms[0].label!r} "
            f"(rows {got[0]} vs {ref[0]}, columns {got[1]} vs {ref[1]}, "
            f"first diffs {diffs}); nothing was timed"
        )


def run_query(spark, name: str, sf: str, arms: list[Arm], reps: int) -> list[dict]:
    frames, plans = [], []
    for arm in arms:
        with arm.applied(spark):
            df, pdf = _build(spark, name, sf)
            plans.append(_plan(df) if arm.kind == "env" else None)
        frames.append(pdf)
    check_equal(name, arms, frames)
    if any(p is not None for p in plans):
        with Arm("base").applied(spark):
            base_plan = _plan(all_specs()[name].fn(spark, sf))
        for arm, plan in zip(arms, plans):
            if plan == base_plan:
                raise SystemExit(
                    f"ab.py: {name}: {arm.label!r} leaves the plan unchanged; "
                    "the engine does not read it on this query's path at call time"
                )

    sc = spark.sparkContext
    times = [[] for _ in arms]
    groups = [[] for _ in arms]
    for rep in range(reps):
        for i in ((rep + k) % len(arms) for k in range(len(arms))):
            group = f"ab-{name}-{i}-{rep}"
            with arms[i].applied(spark):
                sc.setJobGroup(group, f"{name} {arms[i].label} rep {rep}")
                try:
                    times[i].append(bench.run_once(name, spark, sf, "rebuild"))
                finally:
                    sc._jsc.clearJobGroup()
            groups[i].append(group)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is async
    return [
        summarize(arm.label, t, times[0], [spark_counters(spark, g, set()) for g in gs])
        for arm, t, gs in zip(arms, times, groups)
    ]


def summarize(label: str, t: list[float], first: list[float], counters: list[dict]) -> dict:
    q1, med, q3 = statistics.quantiles(t, n=4, method="inclusive")
    return {
        "arm": label,
        "min": min(t),
        "median": med,
        "iqr": q3 - q1,
        "wins": sum(a < b for a, b in zip(t, first)),
        "jobs": statistics.median(c["spark.jobs"] for c in counters),
        "tasks": statistics.median(c["spark.tasks"] for c in counters),
        "jvm_cpu_s": statistics.median(c["spark.task_cpu_s"] for c in counters),
    }


def report(name: str, rows: list[dict], reps: int) -> None:
    width = max(len(r["arm"]) for r in rows)
    print(f"\n{name} ({reps} reps; wins = reps faster than the first arm)")
    print(f"{'arm':<{width}}  {'min':>7} {'median':>7} {'iqr':>7} "
          f"{'wins':>6} {'jobs':>5} {'tasks':>6} {'jvm_cpu_s':>9}")
    for i, r in enumerate(rows):
        wins = "-" if i == 0 else f"{r['wins']}/{reps}"
        print(f"{r['arm']:<{width}}  {r['min']:7.3f} {r['median']:7.3f} "
              f"{r['iqr']:7.3f} {wins:>6} {r['jobs']:5g} {r['tasks']:6g} "
              f"{r['jvm_cpu_s']:9.2f}")


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("names", nargs="+", help="registry query names")
    ap.add_argument("--arm", action="append", required=True)
    ap.add_argument("--sf", required=True, help="scale-factor directory")
    ap.add_argument("--reps", type=int, default=9)
    args = ap.parse_args()
    if len(args.arm) < 2 or args.reps < 2:
        ap.error("give at least two --arm and --reps >= 2")
    unknown = [n for n in args.names if n not in all_specs()]
    if unknown:
        ap.error(f"not registry queries: {unknown}")
    arms = [Arm(a) for a in args.arm]

    from omnidata_etl_spark.session import get_session

    spark = get_session("ab")
    for name in args.names:
        report(name, run_query(spark, name, args.sf, arms, args.reps), args.reps)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

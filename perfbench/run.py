#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload sql-analytics --seed 1 --seconds 12 --trace 0

Run from the repository root. One closed-loop client drives one workload
(see ``workloads.py`` and ``README.md``) on ``local[nproc]``: set up the
engine three times, run one cold pass with result checks, two fixed warm
passes, then timed passes, one per four seconds of ``--seconds`` and at
least three. The last stdout line is the result object; with ``--trace 0``
it carries the end-to-end metrics, with ``--trace 1`` the per-layer ones,
named and with the units ``BENCHMARK.json`` declares.

The catalog tables are the repository's reference test data, the directory
``bench.py`` benchmarks (``$SPARK_GRAFT_SF_DIR``, sf0.1 by default); the
run only reads them. Every file the run writes lives under
``.perfbench_work/`` in the current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def _driver_mem() -> str:
    """A quarter of host RAM, between 1 and 4 GiB: room for the Python
    workers and the page cache on a small shared host."""
    with open("/proc/meminfo") as f:
        kib = int(f.readline().split()[1])
    return f"{max(1, min(4, kib // (4 << 20)))}g"


def _settings(root: str, work: str) -> dict[str, str]:
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    return {
        "SPARK_GRAFT_CPUS": cpus,
        "OMNIDATA_DRIVER_MEM": _driver_mem(),
        "TMPDIR": tmp,
        "OMNIDATA_MIRROR_DIR": os.path.join(work, "mirror"),
        "OMNIDATA_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # keep shuffle scratch out of /dev/shm (RAM) and inside the run dir
        "OMNIDATA_SHM_SCRATCH": "0",
        # no hsperfdata file in the host's /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        # compiler threads live for the whole run, so their CPU can be
        # told apart from the work (layers.jit_cpu_s)
        " -XX:-UseDynamicNumberOfCompilerThreads"
        # a fixed G1 marking threshold (45% of the heap): Spark's large
        # buffers are humongous allocations, and with the adaptive threshold
        # some runs learn a low one and mark the heap for the whole run
        " -XX:-G1UseAdaptiveIHOP",
        "PYSPARK_PYTHON": sys.executable,
        # Python workers unpickle the engine's UDFs by module path
        "PYTHONPATH": root,
        "PYTHONHASHSEED": "0",
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "omnidata_etl_spark", "session.py")):
        print("run.py: start it from the repository root (no engine here)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    import workloads  # noqa: E402  (after sys.path is set)

    if args.workload not in workloads.WORKLOADS:
        print(f"run.py: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        bench = json.load(f)

    base = os.path.join(root, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    settings = _settings(root, work)
    for key in ("TMPDIR", "OMNIDATA_MIRROR_DIR", "OMNIDATA_WAREHOUSE",
                "SPARK_LOCAL_DIRS"):
        os.makedirs(settings[key], exist_ok=True)
    os.environ.update(settings)
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        # engine modules read the settings above when they are imported
        from bench import SF_DIR
        from omnidata_etl_spark.catalog import TABLES

        missing = [t for t in TABLES
                   if not os.path.exists(os.path.join(SF_DIR, f"{t}.parquet"))]
        if missing:
            print(f"run.py: reference tables {missing} not found in {SF_DIR} "
                  "(set SPARK_GRAFT_SF_DIR)", file=sys.stderr)
            return 2
        print(json.dumps({"settings": settings, "data": SF_DIR, "args": vars(args)}),
              flush=True)
        runner = workloads.Runner(args, work, SF_DIR, bench)
        try:
            result = runner.run()
        finally:
            runner.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)  # only if no other run is using it
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0

if __name__ == "__main__":
    sys.exit(main())

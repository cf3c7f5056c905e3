"""Workloads and the closed-loop runner behind ``run.py``.

A workload is a fixed list of operations. Registry operations run through
the engine's public calls: the registered builder, the executed plan, then
``toPandas`` (the Arrow result path). Ingest operations run the reference
pipeline: ``preview`` → ``read_any`` → typed ``load`` → read-back check.
Every pass runs the whole list in an order shuffled by ``(seed, pass)``.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import statistics
import time
from decimal import Decimal

import datagen
import layers

# Fixed op lists (README.md, "Workloads", says how each was chosen).
SQL_ANALYTICS = (
    "agg_approx_distinct",
    "agg_approx_percentile",
    "agg_approx_percentiles_checked",
    "agg_entropy_by_group",
    "fn_array",
    "join_anti",
    "tpch_q11_important_value",
    "window_rank_topn",
)
# (format, rows) of the ingest files; op "ingest:<format>" loads one
INGEST_FILES = (("csv", 10_000), ("jsonl", 5_000))
ETL_LLM_INGEST = (
    "ann_ivf_pq_topk",
    "etl_pack_sequences",
    "multimodal_audio_stats",
) + tuple(f"ingest:{fmt}" for fmt, _ in INGEST_FILES)

WORKLOADS = {
    "sql-analytics": SQL_ANALYTICS,
    "etl-llm-ingest": ETL_LLM_INGEST,
}

SETUP_REPS = 3
# Untimed warm passes after the cold one. A fixed count, so every run times
# the same stage of JIT warm-up (README.md, "What one run does").
WARM_PASSES = 2
# Timed passes: one per PASS_SECONDS of --seconds, at least three (the run
# reports the median pass, which needs three to set one disturbed pass
# aside). The count does not depend on how fast the passes run, so every
# run of every version times the same stage of warm-up.
PASS_SECONDS = 4.0
MIN_TIMED_PASSES = 3
# end-to-end metrics computed per timed pass; a run reports the median pass
PASS_METRICS = ("op_p50_s", "op_p90_s", "ops_per_s", "cpu_s_per_op")

# per-op layer metrics, reported as the mean over timed ops
OP_LAYERS = (
    "registry.build_s", "registry.build_jobs", "catalyst.plan_s",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "spark.exec_s", "spark.jobs", "spark.stages", "spark.stages_skipped",
    "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.input_mb",
    "python.boundary_nodes", "python.worker_cpu_s", "python.driver_cpu_s",
    "jvm.cpu_s", "arrow.result_rows", "arrow.result_mb",
    "ingest.preview_s", "ingest.read_s", "ingest.load_s", "ingest.verify_s",
    "ingest.input_mb", "ingest.written_mb", "ingest.files_written",
    "trace.overhead_ms",
)


def _with_units(values: dict, declared: list[dict]) -> dict:
    """``values`` as result metrics, named and ordered as ``BENCHMARK.json``
    declares them, with its units."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}


def _dir_mb_files(path: str) -> tuple[float, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size / 1e6, files


class Runner:
    def __init__(self, args, work: str, data: str, bench: dict):
        self.args = args
        self.work = work
        self.bench = bench  # BENCHMARK.json: metric names and units
        self.trace = bool(args.trace)
        self.ops = list(WORKLOADS[args.workload])
        self.data = data
        self.spark = None
        self.expected: dict[str, int | None] = {}
        self.attempted = self.failed = 0
        self.errors: dict[str, str] = {}
        self.group = 0

    # --- set-up -----------------------------------------------------------

    def _setup_once(self) -> tuple[float, float, float]:
        """One engine set-up on a fresh mirror dir: (session, registry,
        catalog) seconds."""
        from omnidata_etl_spark import catalog, registry
        from omnidata_etl_spark.session import get_session

        if self.spark is not None:
            self.spark.stop()
        mirror = os.environ["OMNIDATA_MIRROR_DIR"]
        shutil.rmtree(mirror, ignore_errors=True)
        os.makedirs(mirror)
        t0 = time.perf_counter()
        self.spark = get_session("perfbench")
        t1 = time.perf_counter()
        self.specs = registry.all_specs()
        t2 = time.perf_counter()
        for name in catalog.TABLES:
            catalog.table(self.spark, self.data, name)
        t3 = time.perf_counter()
        return t1 - t0, t2 - t1, t3 - t2

    # --- one operation ----------------------------------------------------

    def _registry_op(self, name: str, rec: dict, group: str) -> object:
        spec = self.specs[name]
        t0 = time.perf_counter()
        df = spec.fn(self.spark, self.data)
        t1 = time.perf_counter()
        if self.trace:  # jobs the builder ran (training, sketches, writes)
            tracker = self.spark.sparkContext.statusTracker()
            rec["_build_jobs"] = set(tracker.getJobIdsForGroup(group))
        t1b = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        pdf = df.toPandas()
        t3 = time.perf_counter()
        rec.update({
            "wall": (t3 - t0) - (t1b - t1),
            "registry.build_s": t1 - t0,
            "catalyst.plan_s": t2 - t1b,
            "spark.exec_s": t3 - t2,
            "_df": df,
        })
        return pdf

    def _ingest_op(self, fmt: str, rec: dict) -> dict:
        from omnidata_etl_spark.ingest import load, preview, read_any
        from pyspark.sql import functions as F

        f = self.files[fmt]
        t0 = time.perf_counter()
        pv = preview(self.spark, f["path"], n=10)
        t1 = time.perf_counter()
        df = read_any(self.spark, f["path"])
        t2 = time.perf_counter()
        target = load(
            df, f"sales_{fmt}", warehouse=os.environ["OMNIDATA_WAREHOUSE"],
            types=datagen.INGEST_TYPES, mode="overwrite",
        )
        t3 = time.perf_counter()
        row = self.spark.read.parquet(target).agg(
            F.count(F.lit(1)).alias("n"), F.max("id").alias("max_id"),
            F.sum("amount").alias("amount"),
        ).collect()[0]
        t4 = time.perf_counter()
        rec.update({
            "wall": t4 - t0,
            "ingest.preview_s": t1 - t0,
            "ingest.read_s": t2 - t1,
            "ingest.load_s": t3 - t2,
            "ingest.verify_s": t4 - t3,
            "_target": target,
        })
        return {"preview": pv, "row": row}

    def _check_ingest(self, fmt: str, out: dict) -> str | None:
        f, row, pv = self.files[fmt], out["row"], out["preview"]
        if len(pv["preview"]) != 10 or "amount" not in pv["headers"]:
            return "preview: expected 10 rows with an amount header"
        if row["n"] != f["rows"] or row["max_id"] != f["rows"]:
            return f"rows {row['n']} / max(id) {row['max_id']} != {f['rows']}"
        if Decimal(row["amount"]) != f["amount"]:
            return f"sum(amount) {row['amount']} != {f['amount']}"
        return None

    def _check_registry(self, name: str, pdf, first: bool) -> str | None:
        if first:
            oracle = self.specs[name].oracle
            if oracle is not None:
                from tests.oracle_util import assert_matches

                try:
                    assert_matches(pdf, self.duck.execute(oracle).df(), name)
                except AssertionError as e:
                    return str(e)[:300]
            self.expected[name] = len(pdf)
            return None
        if len(pdf) != self.expected.get(name):
            return f"rows {len(pdf)} != verified {self.expected.get(name)}"
        return None

    def _run_op(self, name: str, first: bool) -> dict:
        """Run, time and check one op; add layer metrics when tracing."""
        sc = self.spark.sparkContext
        self.group += 1
        group = f"perfbench-{self.group}"
        sc.setJobGroup(group, name)
        rec: dict = {"name": name, "ok": False}
        ingest = name.startswith("ingest:")
        before = self.tree.sample() if self.trace else None
        self.attempted += 1
        try:
            if ingest:
                out = self._ingest_op(name[len("ingest:"):], rec)
                err = self._check_ingest(name[len("ingest:"):], out)
            else:
                out = self._registry_op(name, rec, group)
                err = self._check_registry(name, out, first)
        except Exception as e:  # an op's failure is counted, not fatal
            err = f"{type(e).__name__}: {e}"[:300]
        if err is None:
            rec["ok"] = True
        else:
            self.failed += 1
            self.errors.setdefault(name, err)
        if self.trace and rec["ok"]:
            t0 = time.perf_counter()
            self._trace_op(rec, out, group, before)
            rec["trace.overhead_ms"] = (time.perf_counter() - t0) * 1e3
        for key in ("_df", "_target", "_build_jobs"):
            rec.pop(key, None)
        return rec

    def _trace_op(self, rec, out, group, before) -> None:
        after = self.tree.sample()
        rec["python.worker_cpu_s"] = after["python"] - before["python"]
        rec["python.driver_cpu_s"] = after["driver"] - before["driver"]
        rec["jvm.cpu_s"] = after["jvm"] - before["jvm"]
        rec.update(layers.spark_counters(self.spark, group, rec.get("_build_jobs", set())))
        if rec["name"].startswith("ingest:"):
            f = self.files[rec["name"][len("ingest:"):]]
            rec["ingest.input_mb"] = f["bytes"] / 1e6
            mb, files = _dir_mb_files(rec["_target"])
            rec["ingest.written_mb"] = mb
            rec["ingest.files_written"] = files
            rec["_busy_s"] = rec["wall"]
        else:
            df = rec["_df"]
            rec.update(layers.catalyst_phases(df))
            plan = df._jdf.queryExecution().executedPlan().toString()
            rec["python.boundary_nodes"] = layers.python_boundary_nodes(plan)
            rec["arrow.result_rows"] = len(out)
            rec["arrow.result_mb"] = out.memory_usage(deep=True).sum() / 1e6
            rec["_busy_s"] = rec["spark.exec_s"]

    # --- passes -----------------------------------------------------------

    def _pass(self, index: int, first: bool = False) -> dict:
        order = list(self.ops)
        random.Random(f"{self.args.seed}:{index}").shuffle(order)
        jvm = self.tree.jvm
        cpu0, thr0, steal0 = self.tree.sample(), layers.jvm_thread_ticks(jvm), layers.host_cpu()
        t0 = time.perf_counter()
        recs = [self._run_op(name, first) for name in order]
        wall = time.perf_counter() - t0
        cpu1, thr1, steal1 = self.tree.sample(), layers.jvm_thread_ticks(jvm), layers.host_cpu()
        jit = layers.jit_cpu_s(thr0, thr1)
        # housekeeping between passes, outside every timed region
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()
        cpu = layers.cpu_total(cpu1) - layers.cpu_total(cpu0) - jit
        walls = [r["wall"] for r in recs if r["ok"]] or [float("nan")] * 2
        return {
            "recs": recs,
            "wall": wall,
            "op_wall": sum(r.get("wall", 0.0) for r in recs),
            "op_p50_s": statistics.median(walls),
            "op_p90_s": statistics.quantiles(walls, n=10, method="inclusive")[8],
            "ops_per_s": len(recs) / wall,
            "cpu_s_per_op": cpu / len(recs),
            "jit": jit,
            "roles": {k: round(cpu1[k] - cpu0[k], 2) for k in ("driver", "jvm", "python")},
            "steal": layers.steal_frac(steal0, steal1),
            "rss_mb": cpu1["rss_mb"],
        }

    def run(self) -> dict:
        seed, seconds = self.args.seed, self.args.seconds
        t_start = time.perf_counter()
        if any(op.startswith("ingest:") for op in self.ops):
            self.files = datagen.write_ingest_files(
                os.path.join(self.work, "ingest"), seed, dict(INGEST_FILES)
            )
        t_data = time.perf_counter()
        reps = [self._setup_once() for _ in range(SETUP_REPS)]
        t_setup = time.perf_counter()
        from pyspark import SparkContext

        self.tree = layers.ProcTree(SparkContext._gateway.proc.pid)
        from tests.oracle_util import duckdb_connection

        self.duck = duckdb_connection(self.data)

        cold = self._pass(0, first=True)
        t_cold = time.perf_counter()
        warm = [self._pass(i) for i in range(1, 1 + WARM_PASSES)]
        t_warm = time.perf_counter()
        n_timed_passes = max(MIN_TIMED_PASSES, math.ceil(seconds / PASS_SECONDS))
        timed = [self._pass(1 + len(warm) + i) for i in range(n_timed_passes)]

        ok = [r for p in timed for r in p["recs"] if r["ok"]]
        n_timed = sum(len(p["recs"]) for p in timed)
        e2e = {
            "setup_s": statistics.median(sum(r) for r in reps),
            "warmup_s": cold["op_wall"],
        }
        for k in PASS_METRICS:
            e2e[k] = statistics.median(p[k] for p in timed)
        detail = {
            "workload": self.args.workload,
            "ops": len(self.ops),
            "phases_s": {
                k: round(b - a, 2) for k, a, b in (
                    ("inputs", t_start, t_data), ("setup", t_data, t_setup),
                    ("cold", t_setup, t_cold), ("warm", t_cold, t_warm),
                    ("timed", t_warm, time.perf_counter()),
                )
            },
            "setup_reps": [[round(x, 3) for x in r] for r in reps],
            "cold_op_s": {r["name"]: round(r.get("wall", 0.0), 3) for r in cold["recs"]},
            "warm_passes": [round(p["wall"], 3) for p in warm],
            "timed_passes": [round(p["wall"], 3) for p in timed],
            "timed_ops": n_timed,
            "host.steal_frac": [round(p["steal"], 4) for p in timed],
            "jit_cpu_s": [round(p["jit"], 2) for p in warm + timed],
            "timed_cpu_s": [p["roles"] for p in timed],
            "errors": self.errors,
            "e2e": {k: round(v, 4) for k, v in e2e.items()},
        }
        if self.trace:
            metrics = self._layer_metrics(ok, reps, timed)
            detail["per_op"] = self._per_op(ok)
            detail["layers"] = {k: v["value"] for k, v in metrics.items()}
        else:
            metrics = _with_units(e2e, self.bench["end_to_end"])
        print(json.dumps(detail), flush=True)
        print(
            f"workload={self.args.workload} seed={seed} ops_attempted="
            f"{self.attempted} ops_failed={self.failed} timed_ops={n_timed} "
            + " ".join(f"{k}={v['value']:.4f}{v['unit']}" for k, v in metrics.items()),
            flush=True,
        )
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def _layer_metrics(self, ok, reps, timed) -> dict:
        n = max(1, len(ok))
        out = {k: sum(r.get(k, 0.0) for r in ok) / n for k in OP_LAYERS}
        busy = sum(r["_busy_s"] for r in ok)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        out["spark.slot_util"] = out["spark.task_run_s"] * n / (busy * cores) if busy else 0.0
        written = sum(r.get("ingest.written_mb", 0.0) for r in ok)
        read = sum(r.get("ingest.input_mb", 0.0) for r in ok)
        out["ingest.write_amp"] = written / read if read else 0.0
        out["session.jvm_launch_s"] = reps[0][0]
        out["session.start_s"] = statistics.median(r[0] for r in reps)
        out["catalog.resolve_s"] = statistics.median(r[2] for r in reps)
        out["jvm.heap_used_mb"] = layers.jvm_heap_used_mb(self.spark)
        out["proc.rss_mb"] = max(p["rss_mb"] for p in timed)
        out["host.steal_frac"] = statistics.median(p["steal"] for p in timed)
        return _with_units(out, self.bench["per_layer"])

    def _per_op(self, ok) -> dict:
        by: dict[str, list] = {}
        for r in ok:
            by.setdefault(r["name"], []).append(r)
        keys = ("wall", "registry.build_s", "catalyst.plan_s", "spark.exec_s",
                "python.worker_cpu_s", "python.boundary_nodes", "spark.jobs")
        return {
            name: {k: round(statistics.median(r.get(k, 0.0) for r in rs), 4) for k in keys}
            for name, rs in sorted(by.items())
        }

    # --- teardown ---------------------------------------------------------

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # teardown must reach the JVM shutdown below
                pass
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        try:
            gw.shutdown()
        except Exception:  # py4j: connection already gone
            pass
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None

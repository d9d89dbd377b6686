"""Submission benchmark: seeded DVE submissions through ``run_pipeline``
and ``process_landing``, checked against DuckDB after every pass.

Run from the repository root::

    python3 perfbench/run.py --workload bulk_csv --seed 1 --seconds 12 --trace 0

One run: start a Spark session sized from the box and, while the JVM
boots, generate the workload's inputs from ``--seed`` and compute the
DuckDB expectations; run one warm-up pass, then run timed passes until
``--seconds`` have elapsed (at least two). Every pass is checked outside
its timed region.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics (means over
the traced passes) and the tracing overhead. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it holds the run's details (environment, input manifest, per-pass
walls and CPU steal, failed_ratio, check failures). Exit code 0 only when
every check passed.
"""

from __future__ import annotations

import argparse
import functools
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# timed passes per run, however long they take. More do not fit: a
# full evaluation allows ~70 s per run and the session start and warm-up
# take ~35 s of it (README.md, "Sizing and steadiness"). A traced run
# makes one more, untraced, traced, untraced, so that its overhead ratio
# does not depend on which kind of pass came first after the warm-up.
MIN_PASSES = 2
ENTITY = {"bulk_csv": "lineitem", "corpus_dedup": "documents"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(ENTITY))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--plant-wrong-expectation",
        action="store_true",
        help="corrupt one expectation; the run must then fail its checks",
    )
    return p.parse_args(argv)


def declared_metrics() -> dict[str, dict]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}


# -- Spark session sized from the box -----------------------------------------


def box() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    # a quarter of RAM, within [1, 8] GiB: room for the Python side and
    # for neighbours on a shared box
    driver_mb = max(1024, min(8192, total_kb // 4096))
    return {"cores": cores, "mem_total_mb": total_kb // 1024, "driver_memory_mb": driver_mb}


def keep_scratch_in(base: Path) -> Path:
    """Point every scratch file of the JVM, its Python workers and DuckDB
    into the run's directory."""
    tmp = base / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(base / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = str(tmp)
    return tmp


def start_spark(base: Path, sizing: dict):
    tmp = keep_scratch_in(base)
    from pyspark.sql import SparkSession

    cores = sizing["cores"]
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{sizing['driver_memory_mb']}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.warehouse.dir", str(base / "warehouse"))
        .config("spark.local.dir", str(base / "spark-local"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def jvm_env(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "load_avg": [round(x, 2) for x in os.getloadavg()],
        "jvm_gc_ms": gc_ms(spark),
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
    }


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over cores."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(int(g.getCollectionTime()) for g in beans.getGarbageCollectorMXBeans())


def _heap_pools(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]


def reset_heap_peak(spark) -> None:
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()


def heap_peak_mb(spark) -> float:
    return sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark)) / 2**20


# -- passes ---------------------------------------------------------------------


@dataclass
class Pass:
    wall_s: float
    submissions: int
    records: int
    durations: list[float]
    failed: int
    problems: list[str]
    bytes_written: int
    counts: dict = field(default_factory=dict)
    traced: bool = False
    spans: list = field(default_factory=list)
    spark: dict = field(default_factory=dict)
    gc_s: float = 0.0
    heap_peak_mb: float = 0.0
    steal_s: float = 0.0


def _tree_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _lines(paths) -> int:
    return sum(f.read_bytes().count(b"\n") for f in paths)


def output_counts(con, work: Path, results) -> dict:
    """Record counts at the layer boundaries, read from the pass's outputs."""
    from perfbench.expect import parquet_scan

    errors = [d for d in work.rglob("errors") if d.is_dir()]
    audit = work / "audit_log"
    return {
        "sources.records": sum(r.statistics.get("record_count", 0) for r in results),
        "contract.messages": _lines(f for d in errors for f in d.glob("data_contract/*.json")),
        "steps.messages": _lines(f for d in errors for f in d.glob("business_rules/*.json")),
        "sinks.entities.rows": sum(
            con.execute(f"SELECT count(*) FROM {parquet_scan(p)}").fetchone()[0]
            for r in results
            for p in r.entity_paths.values()
        ),
        "sinks.errors.bytes": sum(_tree_bytes(d) for d in errors),
        "sinks.audit.rows": sum(
            con.execute(f"SELECT count(*) FROM {parquet_scan(t)}").fetchone()[0]
            for t in audit.iterdir()
            if t.is_dir()
        )
        if audit.is_dir()
        else 0,
    }


def _time_run_pipeline(pipeline, durations: list[float]) -> None:
    """Record the duration of every ``run_pipeline`` call, including the
    ones ``process_landing`` makes from its worker threads."""
    original = getattr(pipeline.run_pipeline, "__wrapped__", pipeline.run_pipeline)

    @functools.wraps(original)
    def timed(*args, **kwargs):
        start = time.perf_counter()
        try:
            return original(*args, **kwargs)
        finally:
            durations.append(time.perf_counter() - start)

    pipeline.run_pipeline = timed


class Bench:
    """Runs one pass of a workload's inputs through the library's entry
    points and checks it against the expectations, outside the timing."""

    def __init__(self, spark, con, base: Path, tracer=None):
        from data_validation_engine_spark import pipeline

        self.spark = spark
        self.pipeline = pipeline
        self.con = con
        self.base = base
        self.tracer = tracer
        self._durations: list[float] = []
        _time_run_pipeline(pipeline, self._durations)

    def _call(self, inputs, work: Path, landing: Path | None):
        common = dict(refdata_base_path=str(inputs.root), audit_path=str(work / "audit_log"))
        if landing is not None:
            return self.pipeline.process_landing(
                self.spark,
                inputs.dischema,
                str(landing),
                work,
                entity_name=ENTITY[inputs.workload],
                **common,
            )
        result = self.pipeline.run_pipeline(
            self.spark,
            inputs.dischema,
            {ENTITY[inputs.workload]: str(inputs.submissions[0])},
            work,
            **common,
        )
        return [result]

    def run_pass(self, index: int, inputs, expected, traced: bool = False) -> Pass:
        from perfbench.expect import check

        work = self.base / f"pass{index}"
        landing = None
        if inputs.landing is not None:  # process_landing moves the files away
            landing = self.base / f"landing{index}"
            shutil.copytree(inputs.landing, landing)
        self._durations.clear()
        n = len(expected)
        spans: list = []
        gc0 = gc_ms(self.spark)
        if traced:
            reset_heap_peak(self.spark)
        results, problems = [], []
        steal0 = steal_s()
        start = time.perf_counter()
        try:
            if traced:
                with self.tracer.traced_pass() as spans:
                    results = self._call(inputs, work, landing)
            else:
                results = self._call(inputs, work, landing)
        except Exception as exc:  # a raising submission counts as failed
            problems.append(f"pass raised {type(exc).__name__}: {exc}")
        wall = time.perf_counter() - start
        # -- outside the timed region -----------------------------------------
        steal = steal_s() - steal0
        gc_s = (gc_ms(self.spark) - gc0) / 1e3
        failed = n
        if results:
            if len(results) != n:
                problems.append(f"{len(results)} results for {n} submissions")
            else:
                per_sub = [check(self.con, r, e) for r, e in zip(results, expected)]
                failed = sum(1 for p in per_sub if p)
                problems += [p for sub in per_sub for p in sub]
        p = Pass(
            wall_s=wall,
            submissions=n,
            records=inputs.records,
            durations=list(self._durations),
            failed=failed,
            problems=problems,
            bytes_written=_tree_bytes(work) if work.exists() else 0,
            traced=traced,
            spans=spans,
            gc_s=gc_s,
            steal_s=steal,
        )
        if traced:
            p.spark = self.tracer.spark_metrics()
            p.heap_peak_mb = heap_peak_mb(self.spark)
            if results:
                p.counts = output_counts(self.con, work, results)
        shutil.rmtree(work, ignore_errors=True)
        if landing is not None:
            shutil.rmtree(landing, ignore_errors=True)
        return p


# -- metrics --------------------------------------------------------------------


def end_to_end(setup_s: float, passes: list[Pass]) -> dict[str, float]:
    wall = statistics.median(p.wall_s for p in passes)
    pooled = [d for p in passes for d in p.durations]
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "records_per_s": passes[0].records / wall,
        "submission_p50_s": statistics.median(pooled) if pooled else wall,
        "bytes_written_per_record": statistics.median(
            p.bytes_written / p.records for p in passes
        ),
    }


def per_layer(traced: list[Pass], untraced: list[Pass], cores: int, input_bytes: int) -> dict[str, float]:
    from perfbench.tracing import LAYER_METRICS, LAYERS, STEP_OPERATIONS

    def mean(values) -> float:
        values = list(values)
        return sum(values) / len(values)

    def one(p: Pass) -> dict[str, float]:
        m = {f"{layer}.{k}": 0.0 for layer in LAYERS for k in LAYER_METRICS}
        m.update({f"steps.{op}.busy_s": 0.0 for op in STEP_OPERATIONS})
        for s in p.spans:
            m[f"{s['layer']}.busy_s"] += s["self_s"]
            m[f"{s['layer']}.calls"] += s["call"]
            if s["op"] in STEP_OPERATIONS:
                m[f"steps.{s['op']}.busy_s"] += s["self_s"]
        totals: dict[str, float] = {}
        for group, acc in p.spark.items():
            for k, v in acc.items():
                totals[k] = totals.get(k, 0.0) + v
            if group in LAYERS:
                for k in ("jobs", "executor_s", "shuffle_bytes", "spill_bytes"):
                    m[f"{group}.{k}"] = acc.get(k, 0.0)
        executor_s = totals.get("executor_s", 0.0)
        m.update(
            {
                "spark.jobs_per_submission": totals.get("jobs", 0.0) / p.submissions,
                "spark.tasks": totals.get("tasks", 0.0),
                "spark.executor_run_s": executor_s,
                "spark.executor_cpu_s": totals.get("executor_cpu_s", 0.0),
                "spark.gc_s": p.gc_s,
                "spark.core_busy_ratio": executor_s / (p.wall_s * cores),
                "spark.read_amplification": totals.get("input_bytes", 0.0) / input_bytes,
                "spark.shuffle_write_bytes": totals.get("shuffle_bytes", 0.0),
                "spark.spill_bytes": totals.get("spill_bytes", 0.0),
                "driver.jvm_heap_peak_mb": p.heap_peak_mb,
                "trace.unattributed_s": p.wall_s - sum(s["self_s"] for s in p.spans),
            }
        )
        m.update(p.counts)
        return m

    rows = [one(p) for p in traced]
    out = {k: mean(r[k] for r in rows) for k in rows[0]}
    out["trace.overhead_ratio"] = statistics.median(p.wall_s for p in traced) / statistics.median(
        p.wall_s for p in untraced
    )
    return out


def result_line(correct: bool, attempted: int, failed: int, values: dict[str, float]) -> dict:
    declared = declared_metrics()
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            name: {"value": value, "unit": declared[name]["unit"]}
            for name, value in values.items()
        },
    }


# -- main -----------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    t0 = time.perf_counter()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec("data_validation_engine_spark") is None:
        print(f"perfbench: no library to benchmark under {ROOT}", file=sys.stderr)
        return 2
    sizing = box()
    base = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(base, ignore_errors=True)
    base.mkdir(parents=True)
    keep_scratch_in(base)
    spark = con = None
    pool = ThreadPoolExecutor(1)
    # the JVM boots while this thread imports the library and prepares the
    # inputs and their expectations
    booting = pool.submit(start_spark, base, sizing)
    try:
        import data_validation_engine_spark.pipeline  # noqa: F401
        from perfbench import expect
        from perfbench.inputs import generate

        con = expect.connect(base / "tmp")
        inputs = generate(args.workload, args.seed, base / "inputs")
        expected = expect.expectations(con, inputs)
        inputs_ready_s = time.perf_counter() - t0
        if args.plant_wrong_expectation:
            expected[0].records += 1
        spark = booting.result()
        session_ready_s = time.perf_counter() - t0

        tracer = None
        if args.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer(spark.sparkContext)
            tracer.install()
        bench = Bench(spark, con, base, tracer)
        warm = bench.run_pass(0, inputs, expected)
        setup_s = time.perf_counter() - t0

        passes: list[Pass] = []
        start = time.perf_counter()
        while time.perf_counter() - start < args.seconds or len(passes) < MIN_PASSES + args.trace:
            traced = bool(args.trace) and len(passes) % 2 == 1
            passes.append(bench.run_pass(len(passes) + 1, inputs, expected, traced))

        attempted = sum(p.submissions for p in passes)
        failed = sum(p.failed for p in passes)
        correct = failed == 0 and warm.failed == 0
        if args.trace:
            traced_passes = [p for p in passes if p.traced]
            untraced = [p for p in passes if not p.traced]
            values = per_layer(traced_passes, untraced, sizing["cores"], inputs.input_bytes)
            with open(ROOT / ".perfbench" / f"trace-{args.workload}-seed{args.seed}.json", "w") as fh:
                json.dump([p.spans for p in traced_passes], fh)
        else:
            values = end_to_end(setup_s, passes)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "env": {**sizing, **jvm_env(spark)},
            "inputs": inputs.manifest,
            "setup": {
                "inputs_ready_s": inputs_ready_s,
                "session_ready_s": session_ready_s,
                "warmup_s": warm.wall_s,
            },
            "pass_walls_s": [round(p.wall_s, 4) for p in passes],
            "pass_steal_s": [round(p.steal_s, 2) for p in passes],
            "traced": [p.traced for p in passes],
            "failed_ratio": failed / attempted,
            "problems": (warm.problems + [q for p in passes for q in p.problems])[:20],
        }
        print(json.dumps({"detail": detail}))
        print(json.dumps(result_line(correct, attempted, failed, values)))
        return 0 if correct else 1
    finally:
        if con is not None:
            con.close()
        if spark is None and booting.exception() is None:
            spark = booting.result()  # failed before the session was taken
        pool.shutdown()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

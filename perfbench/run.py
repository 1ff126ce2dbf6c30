"""Closed-loop benchmark of the engine's three user workloads.

Run from the repository root:

    python3 perfbench/run.py --workload olap_star --seed 1 --seconds 10 --trace 0

One client runs the workload's queries one after another, each through
its registered `fn()` into the `noop` sink, in an order the seed
shuffles afresh for every pass. The run builds its own input tables,
starts one Spark session, checks every query's output once, warms up,
then measures for `--seconds`. The last line of standard output is one
JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics, or with `--trace 1` the per-layer metrics). The line
before it carries the run's detail, including the host-contention
calibration taken before and after. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import random
import shutil
import statistics
import sys
import time
import uuid
from collections import defaultdict
from dataclasses import dataclass

import datagen
import proctree

log = logging.getLogger("perfbench")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Scale of the generated tables (FIXTURES.md's sf0.01 row counts) and
#: the seed they are drawn from. The data set is fixed so rows-only
#: outputs can be checked against pinned hashes; `--seed` varies the
#: query order instead.
SF = 0.01
DATA_SEED = 42
#: Spark task slots. Two leave cores for the JIT compiler, GC and the
#: Python workers on a 4-core host; more oversubscribes it.
CORES = min(2, len(os.sched_getaffinity(0)))
DRIVER_MEM = "2g"
#: The measured window is never shorter than this many whole passes, so
#: a run on a slow host still averages the same stretch of the JIT ramp.
MIN_PASSES = 2


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    #: noop passes after the output-check pass, before measuring
    warmup_passes: int
    #: empty the scratch root before every pass, so every artifact is
    #: rebuilt and every sink rewritten
    cold: bool = False


WORKLOADS = {
    "olap_star": Workload(
        queries=(
            "q1_pricing_summary", "j_broadcast_star", "j_multiway_topk",
            "j_q17_small_qty_revenue", "w_topk_per_group", "t_sessionize_gap",
            "t_tumbling_window", "j_asof_last_click", "a_correlation_matrix",
        ),
        warmup_passes=3,
    ),
    "llm_curation": Workload(
        queries=(
            "n_exact_dedup", "n_minhash_lsh", "n_cosine_topk",
            "n_hybrid_rrf_fusion", "n_paragraph_dedup", "n_text_stats_top_terms",
            "pipeline_data_curation", "g_triangle_count",
        ),
        warmup_passes=1,
    ),
    "cold_build": Workload(
        queries=(
            "s_parquet_sink_roundtrip", "s_partitioned_sink_pruned",
            "s_json_scan_roundtrip", "s_csv_scan_roundtrip", "st_pipeline_ingest",
            "n_minhash_lsh", "n_hybrid_rrf_fusion", "g_triangle_count",
        ),
        warmup_passes=0,
        cold=True,
    ),
}

#: Queries whose construction time and executor CPU the traced run
#: reports one by one (the heaviest `fn()` bodies, and the two
#: compute-bound operators).
CONSTRUCT_QUERIES = (
    "n_minhash_lsh", "n_hybrid_rrf_fusion", "j_broadcast_star",
    "n_cosine_topk", "a_correlation_matrix",
)
CPU_QUERIES = ("g_triangle_count", "n_minhash_lsh")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    """One benchmark run: set-up, output check, warm-up, measured window."""

    def __init__(self, args, dirs: dict[str, str]):
        self.name = args.workload
        self.workload = WORKLOADS[args.workload]
        self.seconds = args.seconds
        self.dirs = dirs
        self.data = dirs["data"]
        self.rng = random.Random(args.seed)
        self.tracer = None
        if args.trace:
            from tracing import Tracer

            self.tracer = Tracer(args.workload)
        self.attempted = 0
        self.failed = 0
        self.registry = None
        self.spark = None

    # -- one query ---------------------------------------------------------

    def execute(self, name: str, sink) -> tuple[float, object] | None:
        """Run `name` into `sink`; (latency, sink result), or None after
        logging the failure."""
        tr = self.tracer
        q = self.registry[name]
        self.attempted += 1
        if tr:
            tr.query = name
        try:
            t0 = time.perf_counter()
            if tr:
                with tr.span("query"):
                    with tr.span("construct"):
                        df = q.fn(self.spark, self.data)
                    construct = time.perf_counter() - t0
                    with tr.span("execute"):
                        out = sink(df)
            else:
                out = sink(q.fn(self.spark, self.data))
            latency = time.perf_counter() - t0
        except Exception:  # one failed query must not end the run
            self.failed += 1
            log.exception("query %s failed", name)
            return None
        finally:
            if tr:
                tr.query = None
                tr.after_query(name)
        if tr:
            tr.per_query["construct_s"][name].append(construct)
        return latency, out

    def order(self) -> list[str]:
        names = list(self.workload.queries)
        self.rng.shuffle(names)
        return names

    def start_pass(self, pass_id: str) -> None:
        if self.tracer:
            self.tracer.pass_id = pass_id
        if self.workload.cold:
            shutil.rmtree(self.dirs["scratch"])
            os.makedirs(self.dirs["scratch"])

    # -- phases ------------------------------------------------------------

    def check_pass(self) -> float:
        """Run every query once, collecting its rows, and check them.
        Returns the seconds spent checking (not running) the queries."""
        from iris_pyspark_spark.testing import make_oracle_con
        from outputs import check

        con = make_oracle_con(self.data)
        self.start_pass("check")
        checking = 0.0
        try:
            for name in self.order():
                res = self.execute(name, lambda df: df.toPandas())
                if res is None:
                    continue
                t0 = time.perf_counter()
                problem = check(self.registry[name], res[1], con)
                checking += time.perf_counter() - t0
                if problem:
                    self.failed += 1
                    log.error("query %s: wrong output: %s", name, problem)
        finally:
            con.close()
        return checking

    def measure(self) -> dict:
        """Closed loop of whole passes until `seconds` have elapsed and
        at least MIN_PASSES passes have run.
        Returns per-query latencies and, per pass, its wall time and the
        CPU seconds of the process tree (traced: also JIT and GC time)."""
        latencies: dict[str, list[float]] = defaultdict(list)
        passes: list[dict] = []
        tr = self.tracer
        if tr:
            tr.reset()
            built0 = self._build_seconds()
            clock = tr.jvm_clock()
        cpu = proctree.cpu_sample()
        t_start = time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - t_start < self.seconds:
            self.start_pass(str(len(passes)))
            t_pass = time.perf_counter()
            for name in self.order():
                res = self.execute(name, _noop)
                if res is not None:
                    latencies[name].append(res[0])
            rec = {"wall_s": time.perf_counter() - t_pass}
            cpu_before, cpu = cpu, proctree.cpu_sample()
            rec["cpu_s"] = proctree.cpu_delta(cpu_before, cpu)
            if tr:
                before, clock = clock, tr.jvm_clock()
                rec["jit_ms"], rec["gc_s"] = (b - a for a, b in zip(before, clock))
                tr.add("session.jit_ms", rec["jit_ms"])
                tr.add("session.gc_s", rec["gc_s"])
            passes.append(rec)
        if tr:
            tr.add("sources.build_s", self._build_seconds() - built0)
        return {
            "latencies": latencies,
            "passes": passes,
            "peak_rss_mb": proctree.peak_rss_mb(),
        }

    @staticmethod
    def _build_seconds() -> float:
        from iris_pyspark_spark.sources import ARTIFACT_BUILD_SECONDS

        return sum(ARTIFACT_BUILD_SECONDS.values())

    def run(self) -> dict:
        import bench

        threads = len(os.sched_getaffinity(0))
        calib_before = (bench._calibration_sec(), bench._calibration_parallel_sec(threads))
        t0 = time.perf_counter()
        datagen.write(self.data, SF, DATA_SEED)
        datagen_s = time.perf_counter() - t0

        t_setup = time.perf_counter()
        if self.tracer:
            self.tracer.install()
        from iris_pyspark_spark.registry import load_all
        from iris_pyspark_spark.session import get_spark

        self.registry = load_all()
        self.spark = get_spark(app_name=f"perfbench-{self.name}")
        start_s = time.perf_counter() - t_setup
        if self.tracer:
            self.tracer.attach(self.spark)
        checking = self.check_pass()
        for i in range(self.workload.warmup_passes):
            self.start_pass(f"warm{i}")
            for name in self.order():
                self.execute(name, _noop)
        setup_s = time.perf_counter() - t_setup - checking

        m = self.measure()
        calib_after = (bench._calibration_sec(), bench._calibration_parallel_sec(threads))
        medians = {k: statistics.median(v) for k, v in m["latencies"].items() if v}
        pass_s = sum(medians.values())
        detail = {
            "workload": self.name,
            "sf": SF,
            "cores": CORES,
            "calibration_before": calib_before,
            "calibration_after": calib_after,
            "host_collapsed": any(p > 3.0 * s for s, p in (calib_before, calib_after)),
            "datagen_s": round(datagen_s, 4),
            "session_start_s": round(start_s, 4),
            "check_s": round(checking, 4),
            "passes": [{k: round(v, 4) for k, v in p.items()} for p in m["passes"]],
            "peak_rss_mb": {k: round(v, 1) for k, v in m["peak_rss_mb"].items()},
            "query_samples": sum(len(v) for v in m["latencies"].values()),
            "query_median_s": {k: round(v, 4) for k, v in sorted(medians.items())},
        }
        if self.tracer:
            metrics = self.layer_metrics(m, start_s, pass_s)
            path = os.path.join(ROOT, ".perfbench", "traces",
                                f"{self.name}-{os.getpid()}-{uuid.uuid4().hex[:6]}.json")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            self.tracer.write(path, {"detail": detail, "metrics": metrics})
            detail["trace_file"] = os.path.relpath(path, ROOT)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (pass_s, "s"),
                "pass_cpu_s": (statistics.median(p["cpu_s"] for p in m["passes"]), "s"),
                # Each query counts once: a median pooled over queries x
                # passes falls in the gap between the fast and the slow
                # queries and jumps with whichever sample lands there.
                "query_p50_s": (statistics.median(medians.values()) if medians else 0.0, "s"),
                "success_rate": ((self.attempted - self.failed) / self.attempted, "ratio"),
                "peak_rss_mb": (sum(m["peak_rss_mb"].values()), "MB"),
            }
        print(json.dumps({"detail": detail}))
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self, m: dict, start_s: float, pass_s: float) -> dict:
        """Per-layer metrics of the measured window: totals per pass, and
        per-execution medians for the named queries."""
        tr = self.tracer
        per_pass = {k: v / len(m["passes"]) for k, v in tr.counts.items()}

        def get(key):
            return per_pass.get(key, 0.0)

        def med(metric, query):
            xs = tr.per_query[metric].get(query)
            return statistics.median(xs) if xs else 0.0

        scratch = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.dirs["scratch"]) for f in files
        )
        checks = get("sources.artifact_checks")
        out = {
            "session.start_s": (start_s, "s"),
            "session.jit_ms": (get("session.jit_ms"), "ms"),
            "session.gc_s": (get("session.gc_s"), "s"),
            "catalog.load_calls": (get("catalog.load_calls"), "count"),
            "catalog.load_s": (get("catalog.load_s"), "s"),
            "queries.construct_s": (
                sum(sum(v) for v in tr.per_query["construct_s"].values()) / len(m["passes"]), "s"),
        }
        for q in CONSTRUCT_QUERIES:
            out[f"queries.construct_s.{q}"] = (med("construct_s", q), "s")
        for key, unit in (
            ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"),
            ("plan.planning_ms", "ms"), ("exec.s", "s"), ("exec.jobs", "count"),
            ("exec.tasks", "count"), ("exec.failed_tasks", "count"),
            ("exec.cpu_s", "s"), ("exec.gc_s", "s"), ("exec.shuffle_write_mb", "MB"),
            ("exec.input_mb", "MB"),
        ):
            out[key] = (get(key), unit)
        for q in CPU_QUERIES:
            out[f"exec.cpu_s.{q}"] = (med("exec.cpu_s", q), "s")
        out.update({
            "sources.artifact_checks": (checks, "count"),
            "sources.artifact_hits": (get("sources.artifact_hits"), "count"),
            "sources.artifact_hit_ratio": (
                get("sources.artifact_hits") / checks if checks else 0.0, "ratio"),
            "sources.artifact_builds": (get("sources.artifact_builds"), "count"),
            "sources.build_s": (get("sources.build_s"), "s"),
            "sources.scratch_mb": (scratch / float(1 << 20), "MB"),
            "streaming.drains": (get("streaming.drains"), "count"),
            "streaming.drain_s": (get("streaming.drain_s"), "s"),
            "streaming.batches": (get("streaming.batches"), "count"),
            "streaming.add_batch_ms": (get("streaming.add_batch_ms"), "ms"),
            "streaming.query_planning_ms": (get("streaming.query_planning_ms"), "ms"),
            "streaming.wal_commit_ms": (get("streaming.wal_commit_ms"), "ms"),
            "trace.pass_s": (pass_s, "s"),
            "trace.self_s": (get("trace.self_s"), "s"),
        })
        return out

    def close(self) -> None:
        """Stop the session and its JVM, and wait for every process this
        run started to end."""
        from pyspark import SparkContext

        pids = proctree.descendants()
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            jvm = getattr(gateway, "proc", None)
            gateway.shutdown()
            if jvm is not None:
                jvm.stdin.close()  # the gateway JVM exits on stdin EOF
                jvm.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        killed = proctree.reap(pids)
        if killed:
            log.warning("killed processes that outlived the session: %s", killed)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    logging.basicConfig(format="perfbench: %(levelname)s %(message)s")
    log.setLevel(logging.INFO)
    args = _parse(argv)
    missing = [p for p in ("bench.py", "iris_pyspark_spark") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log.error("engine sources missing next to perfbench/: %s", ", ".join(missing))
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    dirs = {k: os.path.join(work, k) for k in ("scratch", "local")}
    dirs["data"] = os.path.join(work, f"sf{SF}")
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "IRIS_PYSPARK_DRIVER_MEM": DRIVER_MEM,
        "IRIS_PYSPARK_SCRATCH": dirs["scratch"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    sys.path.insert(0, ROOT)
    run = Run(args, dirs)
    try:
        result = run.run()
    finally:
        try:
            run.close()
        finally:
            shutil.rmtree(work)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

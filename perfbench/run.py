"""Benchmark of the extraction and curation jobs on a local Spark session.

Run from the repository root:

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

One process, ``local[nproc]``. The run generates (or reuses) the seeded
input, sets up, times a fixed number of warm passes of the workload
(scaled by ``--seconds``, see MIN_PASSES) and checks every pass's output. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics and writes a
span file. The exit code is non-zero when any pass fails its check.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Set-up is repeated this many times per untraced run and reported as
# the median: the first includes starting the JVM, the second restarts
# the Spark session inside it. Each ends with an untimed pass of the
# workload. A traced run reports no set-up time and sets up once.
SETUPS = 2
# Fewest timed passes per run. The pass count is fixed per workload as
# max(MIN_PASSES, round(--seconds / the workload's nominal pass time)),
# never by the clock: a run that stops when --seconds is used up times
# one pass fewer whenever the host runs a little slow, and the median
# then jumps between pass positions of the warm-up curve.
MIN_PASSES = 2
# Latest start of a timed pass, in seconds since process start, so a slow
# host still ends well inside the 180 s a run may take; a traced run
# leaves room for its layer probes after the timed passes.
DEADLINE_S = {0: 120.0, 1: 80.0}

END_TO_END = {
    "rows_per_s": "rows/s", "wall_s": "s", "setup_s": "s", "cpu_s": "s",
    "worker_peak_rss_mb": "MiB", "out_bytes_per_in_byte": "ratio",
    "ok_frac": "ratio",
}
PER_LAYER = {
    "sources.scan_s": "s",
    "plans.pipeline.exchange_s": "s",
    "plans.pipeline.shuffle_write_bytes": "bytes",
    "operators.skew.task_max_over_median": "ratio",
    "operators.extraction.udf_s": "s",
    "operators.extraction.python_worker_s": "s",
    "operators.extraction.arrow_bytes": "bytes",
    "operators.extraction.boundary_s": "s",
    "core.extract.cpu_s": "s",
    "operators.quality_vec.cpu_s": "s",
    "functions.verdict_s": "s",
    "core.entities.cpu_s": "s",
    "plans.checkpoint.jobs": "count",
    "plans.checkpoint.bucket_s_p50": "s",
    "plans.checkpoint.bucket_s_max": "s",
    "plans.checkpoint.resume_skip_s": "s",
    "sink.write_s": "s",
    "sink.bytes_written": "bytes",
    "plan.build_s": "s",
    "plan.build_jobs": "count",
    "operators.curation.flags_s": "s",
    "operators.dedup.near_dedup_s": "s",
    "operators.dedup.minhash_pairs_s": "s",
    "operators.dedup.cluster_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.dedup.closure_rounds": "count",
    "spark.jobs": "count",
    "spark.sql_executions": "count",
    "spark.tasks": "count",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "trace.overhead_frac": "ratio",
}


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def forget_udf_bindings() -> None:
    """Drop every Python UDF's cached JVM function. PySpark builds it on
    first use against the SparkContext of that moment, together with that
    context's accumulator; after a restart the stale binding still runs
    but reports to the stopped context. A fresh process never has one."""
    import gc

    from pyspark.sql.udf import UserDefinedFunction

    for obj in gc.get_objects():
        if isinstance(obj, UserDefinedFunction):
            obj._judf_placeholder = None


class Bench:
    def __init__(self, args, work: str):
        from perfbench import gen, probes, workloads

        self.args = args
        self.work = work
        self.cpus = len(os.sched_getaffinity(0))
        self.tree = probes.ProcTree()
        self.spans = probes.Spans(T0)
        t = time.perf_counter()
        cls = workloads.WORKLOADS[args.workload]
        in_path, self.info = gen.cached_input(
            os.path.join(work, "inputs"), cls.name, args.seed, cls.size,
            cls.n_files)
        self.gen_s = time.perf_counter() - t
        self.wl = cls(in_path, self.info)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self._out_no = 0

    def session(self):
        from documentai_spark.sources.session import build_session

        tmp = os.path.join(self.work, "tmp")
        self.spark = build_session(
            "perfbench", master=f"local[{self.cpus}]",
            extra_conf={"spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={tmp}",
                        "spark.ui.showConsoleProgress": "false"})
        self.spark.sparkContext.setLogLevel("ERROR")

    def fresh_out(self) -> str:
        self._out_no += 1
        out = os.path.join(self.work, "out", f"pass-{self._out_no}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def checked(self, out: str) -> int:
        """Check one pass's output, return its parquet bytes, delete it."""
        from perfbench.workloads import parquet_bytes

        try:
            self.wl.check(out)
        except Exception:
            self.failed += 1
            raise
        size = parquet_bytes(out)
        shutil.rmtree(out)
        return size

    def one_pass(self, out: str) -> float:
        self.attempted += 1
        t = time.perf_counter()
        try:
            self.wl.write(self.wl.plan(self.spark), out)
        except Exception:
            self.failed += 1
            raise
        return time.perf_counter() - t

    def setup(self, repeats: int) -> list[float]:
        """Set-up times: process start (input generation excluded) to the
        end of the first untimed pass, then ``repeats - 1`` restarts of
        the session, each with its own untimed pass."""
        times = []
        for i in range(repeats):
            if i == 0:
                start = T0 + self.gen_s
            else:
                self.spark.stop()
                start = time.perf_counter()
                forget_udf_bindings()
            with self.spans.span(f"setup.{i}"):
                self.session()
                out = self.fresh_out()
                self.one_pass(out)
            times.append(time.perf_counter() - start)
            self.checked(out)
        return times

    def timed(self) -> dict:
        """The workload's fixed number of warm passes (see MIN_PASSES)."""
        n = max(MIN_PASSES, round(self.args.seconds / self.wl.pass_s))
        walls, cpus, out_bytes = [], [], []
        while len(walls) < n and (
                time.perf_counter() - T0 < DEADLINE_S[self.args.trace]
                or not walls):
            out = self.fresh_out()
            c0 = self.tree.cpu_s()
            with self.spans.span(f"pass.{len(walls)}"):
                walls.append(self.one_pass(out))
            cpus.append(self.tree.cpu_s() - c0)
            out_bytes.append(self.checked(out))
        return {"walls": walls, "cpus": cpus, "out_bytes": out_bytes}

    def end_to_end(self) -> dict:
        setups = self.setup(SETUPS)
        p = self.timed()
        wall = statistics.median(p["walls"])
        print(f"[perfbench] {self.args.workload}: setups {setups}, "
              f"{len(p['walls'])} passes {p['walls']}, cpu {p['cpus']}",
              file=sys.stderr)
        return {
            "rows_per_s": self.info["rows"] / wall,
            "wall_s": wall,
            "setup_s": statistics.median(setups),
            "cpu_s": statistics.median(p["cpus"]),
            "worker_peak_rss_mb": self.tree.python_peak_rss_mb(),
            "out_bytes_per_in_byte": (statistics.median(p["out_bytes"])
                                      / self.info["bytes"]),
            "ok_frac": (self.attempted - self.failed) / self.attempted,
        }

    def per_layer(self) -> dict:
        from perfbench import probes, workloads

        self.spans.enabled = True
        with self.spans.span("run"):
            self.setup(1)
            base = statistics.median(self.timed()["walls"])
            ui = probes.SparkUI(self.spark.sparkContext)
            spark = self.spark
            with self.spans.span("sources.scan"):
                scan_s = statistics.median(
                    workloads.timed_call(lambda: workloads.noop(
                        spark.read.parquet(self.wl.in_path)))
                    for _ in range(3))
            out = self.fresh_out()
            with self.spans.span("pass.traced"):
                self.attempted += 1
                mark = ui.mark()
                t = time.perf_counter()
                with self.spans.span("plan.build"):
                    df = self.wl.plan(spark)
                build_s = time.perf_counter() - t
                build_jobs = len(ui.since(mark)["jobs"])
                with self.spans.span("sink.write"):
                    self.wl.write(df, out)
                traced = time.perf_counter() - t
                act = ui.since(mark)
            written = self.checked(out)
            with self.spans.span("pass.noop"):
                noop = workloads.timed_call(
                    lambda: workloads.noop(self.wl.plan(spark)))
            with self.spans.span("layers"):
                lay = self.wl.layers(spark, ui, self.spans, self.work,
                                     scan_s)
        eng = probes.engine_counters(act)
        py = probes.python_udf_counters(act["sql"])
        skew = (probes.max_over_median(ui.task_durations_s(py["udf_stage"]))
                if py["udf_stage"] is not None else 0.0)
        m = dict.fromkeys(PER_LAYER, 0)
        m.update({k: v for k, v in eng.items() if k.startswith("spark.")})
        m.update({
            "sources.scan_s": scan_s,
            "operators.skew.task_max_over_median": skew,
            "operators.extraction.python_worker_s": py["python_worker_s"],
            "operators.extraction.arrow_bytes": py["arrow_bytes"],
            "sink.write_s": traced - noop,
            "sink.bytes_written": written,
            "plan.build_s": build_s,
            "plan.build_jobs": build_jobs,
            "trace.overhead_frac": traced / base - 1.0,
        })
        m.update(lay)
        if self.args.workload == "extract":
            m["plans.pipeline.shuffle_write_bytes"] = eng[
                "shuffle_write_bytes"]
            m["operators.extraction.boundary_s"] = (
                py["python_worker_s"] - lay["core.extract.cpu_s"]
                - lay["operators.quality_vec.cpu_s"])
        else:
            m["operators.dedup.near_dedup_s"] = (
                traced - lay["operators.curation.flags_s"])
        path = os.path.join(self.work, "traces",
                            f"{self.args.workload}-seed{self.args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self.spans.write(path)
        print(f"[perfbench] spans: {path}", file=sys.stderr)
        return m

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for every child process."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.tree.wait_empty(30)


def main() -> int:
    args = parse_args()
    # the program under test; a directory without it fails here
    import documentai_spark  # noqa: F401
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    for d in ("local", "tmp", "out"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    bench = Bench(args, work)
    correct = True
    metrics = {}
    try:
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
    except Exception:
        traceback.print_exc()
        correct = False
        bench.failed = max(bench.failed, 1)
        bench.attempted = max(bench.attempted, 1)
    finally:
        bench.close()
        shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": correct, "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items() if k in metrics}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

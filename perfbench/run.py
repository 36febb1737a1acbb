"""Repository benchmark: one workload of registered faces, run as a closed
loop by one client on ``local[<cores>]`` over the committed sf0.01 fixture.

    python3 perfbench/run.py --workload olap_serve --seed 1 --seconds 25 --trace 0

A run starts a Spark session, runs one untimed warm-up pass whose every
output is checked (``check.py``), then runs timed passes for ``--seconds``
(at least two). Each face is timed from the call that builds its DataFrame
to the end of a noop-sink write. With ``--trace 1`` untraced passes
alternate with passes under the tracer (``trace.py``); the run reports
per-layer metrics and writes its spans under ``.perfbench_run/trace/``.
The last line of stdout is one JSON object: ``{"correct", "attempted",
"failed", "metrics"}``.
See README.md for the workloads, metrics and measured spread.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T0 = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
DRIVER_MEM = "4g"
# An untraced run measures at least this many passes, so that pass_s is
# never a single pass, even when a pass is longer than half of --seconds.
MIN_PASSES = 2
# A run whose timed window lost more than this share of the machine's CPU
# time to steal (time the hypervisor gave to other guests) measured the
# host more than the program; its report line says "contaminated".
STEAL_LIMIT = 0.03

# The metrics of the untraced result, with their units. peak_rss_mb and
# fail_ratio are on the report line only: the first moves by up to a third
# between identical runs, the second is 0 on a correct run.
END_TO_END = [
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("face_p50_s", "s"),
]


def pin_env(scratch: str) -> None:
    """Pin everything the package reads from the environment, so a run is
    the same whatever shell launched it, and keep every file a run writes
    inside ``scratch``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "TZ": "UTC",
        # Python workers import the package (UDFs pickle it by reference)
        # whatever the working directory.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    time.tzset()
    tempfile.tempdir = None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        # user nice system idle iowait irq softirq steal [guest guest_nice];
        # guest time is already counted in user and nice.
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _peak_rss_mb(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/status") as fh:
        hwm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it has exited. The
    pyspark worker daemons exit when the JVM closes their pipes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Runner:
    def __init__(self, spark, queries, faces: list[str], sf_dir: str):
        self.spark = spark
        self.queries = queries
        self.faces = faces
        self.sf_dir = sf_dir
        self.failed: dict[str, str] = {}
        self.gc_s: list[float] = []
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def cleanup(self) -> None:
        # Untimed between-face hygiene: drop the face's cached blocks so
        # they do not tax the next face.
        self.spark.catalog.clearCache()

    def end_pass(self) -> None:
        # Let the JVM collect dropped checkpoints before the next pass, so
        # every pass starts from the same block-manager state. This keeps
        # old-generation collection out of pass_s, so its time is reported
        # on its own (gc_s, harness.gc_s).
        t = time.perf_counter()
        self.spark.sparkContext._jvm.System.gc()
        self.gc_s.append(time.perf_counter() - t)

    def warm_up(self, checker) -> float:
        """Run every face once, untimed, and check its output; return the
        seconds spent checking (in DuckDB and comparing rows)."""
        check_s = 0.0
        for name in self.faces:
            try:
                df = self.queries[name](self.spark, self.sf_dir)
                rows = df.collect()
                t = time.perf_counter()
                why = checker.check(name, df, rows)
                check_s += time.perf_counter() - t
                if why is not None:
                    self.failed[name] = f"output check: {why}"
            except Exception:
                self.failed[name] = traceback.format_exc(limit=3)
            self.cleanup()
        self.end_pass()
        return check_s

    def timed_passes(self, seconds: float, min_passes: int = 1, tracer=None, tag: str = "p"):
        """Run whole passes until another would overrun ``seconds``, and at
        least ``min_passes``. Returns the wall of each pass, and (face,
        wall) of each face run."""
        passes: list[float] = []
        face_walls: list[tuple[str, float]] = []
        start = time.perf_counter()
        while len(passes) < min_passes or (
            time.perf_counter() - start + statistics.median(passes) <= seconds
        ):
            total = 0.0
            for name in self.faces:
                run_id = f"{tag}{len(passes)}-{name}"
                try:
                    wall = (
                        self._run_face(name) if tracer is None
                        else self._run_face_traced(name, run_id, tracer)
                    )
                except Exception:
                    self.failed.setdefault(name, traceback.format_exc(limit=3))
                    continue
                total += wall
                face_walls.append((name, wall))
            passes.append(total)
            self.end_pass()
        return passes, face_walls

    def _run_face(self, name: str) -> float:
        try:
            t = time.perf_counter()
            df = self.queries[name](self.spark, self.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t
        finally:
            self.cleanup()

    def _run_face_traced(self, name: str, run_id: str, tracer) -> float:
        t = time.perf_counter()
        with tracer.face(name, run_id):
            with tracer.span("construct", "construct"):
                df = self.queries[name](self.spark, self.sf_dir)
            with tracer.span("plan", "plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("exec", "exec"):
                df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t
        tracer.sample_storage()
        with tracer.span("cleanup", "cleanup"):
            self.cleanup()
        return wall


def run(args, scratch: str) -> dict:
    sys.path.insert(0, ROOT)
    from datawarehousefinal_spark import queries as Q
    from datawarehousefinal_spark.session import get_spark

    from perfbench.check import OutputChecker
    from perfbench.trace import PER_LAYER_METRICS, TRACE_CONF, Tracer, installed_wrappers
    from perfbench.workloads import face_order

    faces = face_order(args.workload, args.seed)
    unknown = [f for f in faces if f not in Q.QUERIES]
    if unknown:
        raise SystemExit(f"perfbench: faces not registered in QUERIES: {unknown}")
    sf_dir = os.path.join(DATA, f"sf{args.sf}")

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf=TRACE_CONF if args.trace else None,
    )
    session_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        runner = Runner(spark, Q.QUERIES, faces, sf_dir)
        check_s = runner.warm_up(OutputChecker(sf_dir, Q.ORACLES))
        setup_s = time.perf_counter() - T0 - check_s

        layer: dict[str, float] = {}
        runner.gc_s.clear()
        steal0, total0 = cpu_ticks()
        if args.trace:
            # Untraced and traced passes alternate, so both see the same JVM
            # warm-up state and the overhead ratio compares like with like.
            tracer = Tracer(spark)
            passes, face_walls, traced = [], [], []
            start = time.perf_counter()
            while not traced or (
                time.perf_counter() - start + passes[-1] + traced[-1] <= args.seconds
            ):
                p, f = runner.timed_passes(0)
                passes += p
                face_walls += f
                tracer.install()
                try:
                    t, _ = runner.timed_passes(0, tracer=tracer, tag=f"t{len(traced)}-")
                finally:
                    tracer.uninstall()
                traced += t
            layer = tracer.report(len(traced))
            layer["session.start_s"] = session_s
            layer["harness.gc_s"] = statistics.mean(runner.gc_s)
            layer["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(passes)
            out_dir = os.path.join(RUN_DIR, "trace")
            os.makedirs(out_dir, exist_ok=True)
            stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            tracer.write_spans(stem + ".spans.jsonl")
            with open(stem + ".layers.json", "w") as fh:
                json.dump(layer, fh, indent=1, sort_keys=True)
        else:
            passes, face_walls = runner.timed_passes(args.seconds, MIN_PASSES)
            leaked = installed_wrappers()
            if leaked or "send_command" in vars(spark.sparkContext._gateway._gateway_client):
                raise RuntimeError(f"untraced run has tracing wrappers installed: {leaked}")
        steal1, total1 = cpu_ticks()
        peak_rss = _peak_rss_mb(runner.jvm_pid)
    finally:
        stop_spark(spark)

    steal_share = (steal1 - steal0) / max(total1 - total0, 1)
    per_face: dict[str, list[float]] = {}
    for name, wall in face_walls:
        per_face.setdefault(name, []).append(wall)
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(passes),
        # The median over faces of each face's median wall. Pooling every
        # timing instead lets the median jump between the two middle faces
        # when a slow pass shifts the counts, which doubles its spread.
        "face_p50_s": statistics.median(statistics.median(w) for w in per_face.values()),
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "faces": faces,
        "pass_walls": [round(p, 3) for p in passes],
        "face_timings": len(face_walls),
        "fail_ratio": len(runner.failed) / len(faces),
        "failures": runner.failed,
        "peak_rss_mb": round(peak_rss, 1),
        "gc_s": round(statistics.median(runner.gc_s), 4),
        "steal_share": round(steal_share, 4),
        "contaminated": steal_share > STEAL_LIMIT,
        **{k: round(v, 4) for k, v in e2e.items()},
    }
    # The highest percentile with at least ten timings beyond it.
    if len(face_walls) >= 100:
        pooled = [wall for _, wall in face_walls]
        report["face_p90_s"] = round(statistics.quantiles(pooled, n=10)[-1], 4)
    units = dict(END_TO_END) if not args.trace else dict(PER_LAYER_METRICS)
    values = e2e if not args.trace else layer
    return {
        "report": report,
        "result": {
            "correct": not runner.failed,
            "attempted": len(faces),
            "failed": len(runner.failed),
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        },
    }


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.01", choices=("0.01", "0.001"),
                    help="fixture scale (0.001 is for the self-test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "datawarehousefinal_spark", "__init__.py")):
        print("perfbench: the datawarehousefinal_spark package is not here", file=sys.stderr)
        return 2
    os.makedirs(RUN_DIR, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=RUN_DIR)
    cwd = os.getcwd()
    try:
        pin_env(scratch)
        # Spark's warehouse, derby and metastore files land in the scratch dir.
        os.chdir(scratch)
        out = run(args, scratch)
    finally:
        os.chdir(cwd)
        shutil.rmtree(scratch, ignore_errors=True)
    print("perfbench " + json.dumps(out["report"], sort_keys=True), flush=True)
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())

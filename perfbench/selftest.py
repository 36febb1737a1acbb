"""Self-test of the benchmark on the sf0.001 fixture.

    python3 perfbench/selftest.py

Checks that every workload's faces resolve in ``QUERIES``; that
``BENCHMARK.json`` names exactly the workloads and metrics the runner emits;
that the seed changes face order and nothing else; that an untraced and a
traced run of every workload print every end-to-end and per-layer metric
with its unit; that each per-layer metric a workload is meant to move
(``Workload.moves``) is nonzero in its traced run, so the wrappers do see
the calls; and that no run modifies the fixture. Exits non-zero on the
first group of problems found.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(directory)):
        for f in sorted(files):
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def _run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    report = json.loads(lines[-2].removeprefix("perfbench "))
    return report, json.loads(lines[-1])


def main() -> int:
    sys.path.insert(0, ROOT)
    from datawarehousefinal_spark.queries import QUERIES

    from perfbench.run import DATA, END_TO_END
    from perfbench.trace import PER_LAYER_METRICS
    from perfbench.workloads import WORKLOADS, face_order

    problems: list[str] = []
    for w in WORKLOADS.values():
        missing = [f for f in w.faces if f not in QUERIES]
        if missing:
            problems.append(f"{w.name}: faces not in QUERIES: {missing}")
        orders = {tuple(face_order(w.name, s)) for s in range(16)}
        if len(orders) < 2:
            problems.append(f"{w.name}: the seed does not change the face order")
        if any(sorted(o) != sorted(w.faces) for o in orders):
            problems.append(f"{w.name}: the seed changes which faces run")
        unknown = set(w.moves) - {m for m, _ in PER_LAYER_METRICS}
        if unknown:
            problems.append(f"{w.name}: moves names unknown metrics {sorted(unknown)}")
        if face_order(w.name, 7) != face_order(w.name, 7):
            problems.append(f"{w.name}: one seed gives two orders")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if [(x["name"], x["why"]) for x in bench["workloads"]] != [
        (w.name, w.why) for w in WORKLOADS.values()
    ]:
        problems.append("BENCHMARK.json workloads differ from workloads.py")
    for key, emitted in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER_METRICS)):
        declared = [(m["name"], m["unit"]) for m in bench[key]]
        if declared != list(emitted):
            problems.append(f"BENCHMARK.json {key} differs from what the runner emits")
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1

    before = _digest(DATA)
    for i, w in enumerate(WORKLOADS):
        for trace, units in ((0, END_TO_END), (1, PER_LAYER_METRICS)):
            report, result = _run(w, seed=i + trace, trace=trace)
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w} trace={trace}: result keys {sorted(result)}")
            if not result["correct"]:
                problems.append(f"{w} trace={trace}: failures {report['failures']}")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != dict(units):
                problems.append(f"{w} trace={trace}: metrics/units differ: {got}")
            dead = [m for m in WORKLOADS[w].moves if trace and not result["metrics"][m]["value"]]
            if dead:
                problems.append(f"{w}: traced run recorded nothing for {dead}")
            if sorted(report["faces"]) != sorted(WORKLOADS[w].faces):
                problems.append(f"{w} trace={trace}: ran {report['faces']}")
            print(f"ok {w} trace={trace} faces={report['faces']}", flush=True)
    if _digest(DATA) != before:
        problems.append("a run modified the read-only fixture")
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

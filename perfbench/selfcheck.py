"""Self-check of the benchmark at tiny scale.

    python3 perfbench/selfcheck.py

1. The gates, without Spark: the planted labels written in the annotated
   table's layout pass the turn gate, one flipped row fails it, and a
   surviving "<conv>-dup" clone next to its original fails the clone gate.
2. `run.py --tiny` on every workload, untraced and traced: exit status 0,
   a last stdout line with exactly the keys correct/attempted/failed/
   metrics, and every metric BENCHMARK.json names for that mode present
   with its unit.
3. `run.py --tiny --corrupt-first-output`: one corrupted output row must
   make the run report a failed operation and exit with status 1.

Exits 0 when every check holds; prints each failure otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def check_gates(failures: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    import gate
    import inputs

    corpus = inputs.ensure_corpus(
        "pipeline", SEED, os.path.join(ROOT, ".perfbench", "inputs"), tiny=True
    )
    tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench"))
    try:
        annotated = os.path.join(tmp, "annotated")
        os.makedirs(os.path.join(annotated, "part_bucket=0"))
        pq.write_table(pq.read_table(corpus.labels),
                       os.path.join(annotated, "part_bucket=0", "part-0.parquet"))
        if (n := gate.turn_mismatches(annotated, corpus.labels)) != 0:
            failures.append(f"labels as output: {n} turn mismatches, want 0")
        gate.corrupt_one_row(annotated)
        if (n := gate.turn_mismatches(annotated, corpus.labels)) != 1:
            failures.append(f"one flipped row: {n} turn mismatches, want 1")

        for convs, want in ((["a", "a-dup", "b"], 1), (["a", "b-dup"], 0)):
            path = os.path.join(tmp, "survivors.parquet")
            pq.write_table(pa.table({"conv_id": convs}), path)
            if (n := gate.surviving_clone_pairs(path)) != want:
                failures.append(f"survivors {convs}: {n} clone pairs, want {want}")
    finally:
        shutil.rmtree(tmp)


def run_tiny(workload: str, trace: int, *extra: str):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--tiny",
         *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else None


def check_run(workload: str, trace: int, spec: list[dict], failures: list[str]) -> None:
    where = f"{workload} --trace {trace}"
    code, result = run_tiny(workload, trace)
    if code != 0 or result is None:
        failures.append(f"{where}: exit status {code}, result {result}")
        return
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        failures.append(f"{where}: result keys {sorted(result)}")
        return
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        failures.append(f"{where}: correct={result['correct']} "
                        f"attempted={result['attempted']} failed={result['failed']}")
    got = result["metrics"]
    if set(got) != {m["name"] for m in spec}:
        failures.append(f"{where}: metric names differ: "
                        f"{sorted(set(got) ^ {m['name'] for m in spec})}")
    for m in spec:
        v = got.get(m["name"])
        if v is None:
            continue
        if v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            failures.append(f"{where}: {m['name']} = {v}, want unit {m['unit']}")


def main() -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures: list[str] = []
    check_gates(failures)
    for workload in run.WORKLOADS:
        check_run(workload, 0, bench["end_to_end"], failures)
        check_run(workload, 1, bench["per_layer"], failures)
    code, result = run_tiny("pipeline", 0, "--corrupt-first-output")
    if code != 1 or result is None or result["correct"] or result["failed"] != 1:
        failures.append(f"corrupted output: exit status {code}, result {result}")
    for line in failures:
        print("FAIL", line)
    print("selfcheck:", "ok" if not failures else f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

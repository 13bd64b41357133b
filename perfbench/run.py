"""End-to-end benchmark of the transcript quality filter on one Spark driver.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipeline_hot --seed 11 --seconds 5 --trace 0

Each run is one closed-loop client in one driver process on
`local[<nproc>]`: it generates the workload's seeded corpus (cached per
workload and seed under `.perfbench/`), starts a Spark session, runs one
warm-up operation on the corpus's first quarter, then issues operations on
the whole corpus one at a time until `--seconds` have passed (at least
one). Every operation's output goes through the correctness gates in
`gate.py`; a failed gate counts the operation as failed and makes the
command exit with status 1.

Workloads (default `PipelineConfig()` / `CurationConfig()`):
  pipeline      `run_pipeline` over the standard category mix
  pipeline_hot  the same, with one conversation holding ~20% of the turns
  curate        `run_curation` over short conversations, every third one
                cloned as a near-duplicate

`--trace 0` reports the end-to-end metrics; `--trace 1` is a separate
traced run that reports the per-layer metrics (see README.md). The last
stdout line is one JSON object with keys correct, attempted, failed and
metrics; the line before it is the full report (all walls, host, plan
shape), which is also written under `.perfbench/reports/`.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("pipeline", "pipeline_hot", "curate")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="self-check scale: a corpus 25x smaller")
    p.add_argument("--corrupt-first-output", action="store_true",
                   help="self-check: flip one output row before gating")
    return p.parse_args(argv)


# --- host and process tree ---------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of host RAM, between 1 and 4 GiB: the engine's own
    default (48g) exceeds small hosts."""
    gib = mem_total_bytes() // 2**30
    return f"{max(1, min(4, gib // 4))}g"


def process_tree(root: int) -> set[int]:
    """`root` and all its descendants."""
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:  # exited while listing
            continue
    tree, frontier = {root}, {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier and p not in tree}
        tree |= frontier
    return tree


def tree_pss_bytes(root: int) -> int:
    """Resident memory of the process tree with shared pages counted once
    (summed PSS). Summed RSS would count the JVM twice whenever it forks a
    helper process, and every forked Python worker's shared pages again."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # exited since the listing
            continue
    return total


class PeakRss:
    """Samples the process tree's memory every 200 ms while active."""

    def __init__(self):
        self.peak = 0
        self._active = threading.Event()
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        me = os.getpid()
        while not self._done.is_set():
            if self._active.wait(0.2) and not self._done.is_set():
                self.peak = max(self.peak, tree_pss_bytes(me))
                time.sleep(0.2)

    def start(self):
        self._active.set()

    def pause(self):
        self._active.clear()

    def close(self):
        self._done.set()
        self._active.set()
        self._thread.join(timeout=10)


def cpu_ticks() -> list[int]:
    """The aggregate `cpu` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta[:8]))


def wait_for_children(timeout: float = 60.0) -> None:
    """Wait until every descendant has exited; kill stragglers at the end."""
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        kids = process_tree(me) - {me}
        if not kids:
            return
        if time.monotonic() > deadline:
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


# --- Spark session -----------------------------------------------------------

def start_spark(extra_conf: dict[str, str] | None = None):
    """get_spark on local[nproc] with every scratch path inside WORK;
    returns (session, wall seconds)."""
    from pii_redaction_data_pipeline_spark import get_spark

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        **(extra_conf or {}),
    }
    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{nproc()}]", extra_conf=conf)
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
    wait_for_children()


# --- one operation -----------------------------------------------------------

def run_op(spark, workload: str, transcripts: str, labels: str, op_dir: str,
           run_id: str) -> dict:
    """Run one workload operation over `transcripts` into a fresh `op_dir`;
    -> its record (`labels` are the planted labels its gate compares to).
    An operation that raises is recorded as failed, and the loop goes on."""
    shutil.rmtree(op_dir, ignore_errors=True)
    t0 = time.perf_counter()
    try:
        if workload == "curate":
            from pii_redaction_data_pipeline_spark.plans.curate import run_curation

            summary = run_curation(spark, transcripts, op_dir, run_id=run_id)
        else:
            from pii_redaction_data_pipeline_spark.plans.pipeline import run_pipeline

            summary = run_pipeline(
                spark, transcripts, os.path.join(op_dir, "annotated"),
                os.path.join(op_dir, "lineage"), run_id=run_id,
            )
    except Exception:
        traceback.print_exc()
        return {"dir": op_dir, "labels": labels, "wall_s": time.perf_counter() - t0,
                "error": True}
    wall = time.perf_counter() - t0
    return {"dir": op_dir, "labels": labels, "wall_s": wall,
            "out_bytes": dir_bytes(op_dir), "summary": summary}


def gate_op(workload: str, op: dict) -> dict:
    """Run the correctness gates on one operation's output, then delete it."""
    import gate

    if op.get("error"):
        shutil.rmtree(op["dir"], ignore_errors=True)
        return {"raised": 1}
    problems = {
        "turn_mismatches": gate.turn_mismatches(
            os.path.join(op["dir"], "annotated"), op["labels"]
        )
    }
    if workload == "curate":
        problems["surviving_clone_pairs"] = gate.surviving_clone_pairs(
            os.path.join(op["dir"], "survivor_convs")
        )
    shutil.rmtree(op["dir"], ignore_errors=True)
    return problems


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def host_info() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_bytes": mem_total_bytes(),
        "driver_memory": os.environ["SPARK_DRIVER_MEM"],
        "master": f"local[{nproc()}]",
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


# --- the two run kinds ---------------------------------------------------------

def measure(args, corpus, run_dir: str) -> tuple[dict, dict, list[dict]]:
    """Untraced run -> (end-to-end metrics, report, gate results)."""
    import layers

    spark, start_s = start_spark()
    rss = PeakRss()
    ops = []
    try:
        warm = run_op(spark, args.workload, corpus.warmup_transcripts,
                      corpus.warmup_labels, os.path.join(run_dir, "op0"), "op0")
        setup_s = start_s + warm["wall_s"]
        rss.start()
        cpu0 = cpu_ticks()
        t0 = time.perf_counter()
        while True:
            i = len(ops) + 1
            ops.append(run_op(spark, args.workload, corpus.transcripts, corpus.labels,
                              os.path.join(run_dir, f"op{i}"), f"op{i}"))
            if time.perf_counter() - t0 >= args.seconds:
                break
        steal = steal_frac(cpu0, cpu_ticks())
        rss.pause()
        shape = layers.plan_shape(spark, corpus.transcripts)
    finally:
        rss.close()
        stop_spark(spark)
    if args.corrupt_first_output:
        import gate

        gate.corrupt_one_row(os.path.join(ops[0]["dir"], "annotated"))
    gates = [gate_op(args.workload, op) for op in [warm, *ops]]
    done = [op for op in ops if not op.get("error")]
    if not done:
        raise RuntimeError("every timed operation raised")
    walls = [op["wall_s"] for op in done]
    out_ratio = statistics.median(op["out_bytes"] for op in done) / corpus.input_bytes
    metrics = {
        "turns_per_s": (corpus.turns / statistics.median(walls), "turns/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
        "out_bytes_per_in_byte": (out_ratio, "ratio"),
    }
    report = {
        "session_start_s": start_s,
        "warmup_wall_s": warm["wall_s"],
        "op_walls_s": walls,
        "ops_timed": len(walls),
        "host_steal_frac": steal,
        "out_bytes": [op["out_bytes"] for op in done],
        "plan": shape,
        "stage_walls_s": [op["summary"]["stage_walls_sec"] for op in done
                          if "stage_walls_sec" in op["summary"]],
    }
    return metrics, report, gates


def measure_traced(args, corpus, run_dir: str) -> tuple[dict, dict, list[dict]]:
    """Traced run -> (per-layer metrics, report, gate results)."""
    import layers
    from spans import Tracer, attach_event_log, patched

    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir)
    spark, start_s = start_spark({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}", spark.sparkContext)
    try:
        warm = run_op(spark, args.workload, corpus.warmup_transcripts,
                      corpus.warmup_labels, os.path.join(run_dir, "op0"), "op0")
        full = (corpus.transcripts, corpus.labels)
        # untraced, traced, untraced: the session still warms from one
        # operation to the next, so the traced wall is compared with the
        # mean of its two neighbours
        plain = run_op(spark, args.workload, *full, os.path.join(run_dir, "op1"), "op1")
        with patched(tracer), tracer.span("op", workload=args.workload):
            traced = run_op(spark, args.workload, *full,
                            os.path.join(run_dir, "op2"), "op2")
        plain2 = run_op(spark, args.workload, *full, os.path.join(run_dir, "op3"), "op3")
        ops = (warm, plain, traced, plain2)
        if any(op.get("error") for op in ops):
            raise RuntimeError("an operation of the traced run raised")
        probes = layers.probe_all(spark, tracer, args.workload, corpus, plain, traced,
                                  run_dir)
    finally:
        stop_spark(spark)
    attach_event_log(tracer, layers.single_file(log_dir))
    untraced_s = (plain["wall_s"] + plain2["wall_s"]) / 2
    metrics = layers.per_layer_metrics(tracer, probes, start_s, untraced_s, traced)
    tracer.write(os.path.join(WORK, "traces", f"{tracer.run_id}.json"))
    gates = [gate_op(args.workload, op) for op in ops]
    report = {
        "session_start_s": start_s,
        "untraced_walls_s": [plain["wall_s"], plain2["wall_s"]],
        "traced_wall_s": traced["wall_s"],
        "spans_file": os.path.relpath(
            os.path.join(WORK, "traces", f"{tracer.run_id}.json"), ROOT),
        "plan": probes["plan"],
        "stage_walls_s": probes["curate"]["stage_walls_sec"],
        "spans": [
            {k: s[k] for k in ("name", "parent") if k in s}
            | {"wall_s": Tracer.wall(s)}
            | {k: s.get(k) for k in ("tasks", "shuffle_write_bytes",
                                       "spill_bytes", "gc_s", "reduce_task_skew")}
            for s in tracer.spans if s["parent"] is None
        ],
    }
    return metrics, report, gates


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pii_redaction_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine package: {e}", file=sys.stderr)
        return 2
    import inputs

    # the Python workers Spark starts must import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["SPARK_DRIVER_MEM"] = driver_memory()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp

    corpus = inputs.ensure_corpus(
        args.workload, args.seed, os.path.join(WORK, "inputs"), tiny=args.tiny
    )
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        fn = measure_traced if args.trace else measure
        metrics, report, gates = fn(args, corpus, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(1 for g in gates if any(g.values()))
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "turns": corpus.turns,
        "input_bytes": corpus.input_bytes,
        "gen_s": corpus.gen_s,
        "gen_cached": corpus.cached,
        "host": host_info(),
        **report,
        "gates": gates,
        "attempted": len(gates),
        "failed": failed,
        "error_rate": failed / len(gates),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
    with open(os.path.join(WORK, "reports", name), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(gates),
        "failed": failed,
        "metrics": report["metrics"],
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

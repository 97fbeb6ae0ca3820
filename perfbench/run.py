"""Link-graph benchmark for ccl_spark.

    python3 perfbench/run.py --workload crawl_graph --seed 1 --seconds 10 --trace 0

Run from the repository root. One client runs the workload's phases
in sequence in one Spark application at ``local[N]``, N = the CPUs this
process may use (closed loop, one pass at a time). Set-up writes the
seeded inputs and prints their fingerprints; then passes repeat while
another one fits in ``--seconds`` (at least one). The first pass runs
in a fresh JVM, as every job submitted through ``cli.py`` does, and at
the sizes here it already outlasts the run time, so a run times one
such pass. Every pass's outputs are checked against the oracles in
``oracle.py``; each phase and each check is one operation.

The last stdout line is the result, e.g.
``{"correct": true, "attempted": 20, "failed": 0, "metrics": {...}}``.

``--trace 0`` reports the end-to-end metrics: ``job_s`` (median pass
time) and ``setup_s`` (session start + median of three input writes +
input fingerprints). ``--trace 1`` runs a warm-up pass, a traced pass
and an untraced pass, and reports the per-layer metrics of the traced
(warm) pass, its phase times, the Spark JVM's peak RSS (VmHWM) and
``trace.overhead_s`` (traced minus untraced pass time). Spark work
counts in the span whose call runs it: plans that grids and edges only
build run inside the cc or sources call that materializes them. Work files go to ``.perfbench_work/`` under the current
directory; the spans of a run are written to
``.perfbench_work/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

LAYERS = (
    "sources", "edges", "cc", "pagerank", "lpa", "triangles",
    "grids", "components", "superstep",
)
PHASES = ("ingest", "cc", "pagerank", "lpa", "triangles", "label", "track", "resume")
LAYER_EXTRAS = (
    "edges.edges_out", "grids.cells", "grids.pairs", "superstep.record_s",
    "superstep.records", "superstep.bytes_written", "superstep.files_written",
    "superstep.latest_s", "superstep.steps_replayed", "superstep.replay_ratio",
    "pagerank.iters", "cc.rounds", "cc.distributed_rounds", "lpa.rounds",
    "session.start_s", "session.peak_rss_mb", "trace.overhead_s",
)
LAYER_METRICS = ("wall_s", "exec_s", "util", "jobs", "stages", "tasks",
                 "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "failed_tasks")
PER_LAYER = (
    tuple(f"{layer}.{m}" for layer in LAYERS for m in LAYER_METRICS)
    + tuple(f"phase.{ph}_s" for ph in PHASES)
    + LAYER_EXTRAS
)


def _args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the Spark JVM")


def _stop(spark) -> None:
    """Stop Spark, end the JVM and every process it started, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = gateway.proc
    kids = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main() -> int:
    args = _args()
    root = Path.cwd()
    here = Path(__file__).resolve().parent
    if not (root / "ccl_spark" / "__init__.py").exists():
        print(f"no ccl_spark package under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(root), str(here)]
    work = root / ".perfbench_work"
    run_dir = work / f"run-{os.getpid()}"
    cache = work / "cache"
    for d in (run_dir / "tmp", run_dir / "spark-local", cache):
        d.mkdir(parents=True, exist_ok=True)
    # everything Spark, the JVM and Python workers write stays in the run dir
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"  # no /tmp/hsperfdata_*
    )
    if args.trace:
        os.environ["CCL_SPARK_DEBUG"] = "1"  # cc prints one line per round
    try:
        return _run(args, work, run_dir, cache)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, work: Path, run_dir: Path, cache: Path) -> int:
    from ccl_spark import (
        cc, components, edges, grids, lpa, pagerank, session, sources, superstep, triangles,
    )

    import spans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    tracer = spans.Tracer(enabled=bool(args.trace))
    spans.instrument(tracer, {
        "sources": sources, "edges": edges, "cc": cc,
        "pagerank": pagerank, "lpa": lpa, "triangles": triangles, "grids": grids,
        "components": components, "superstep": superstep,
    })
    rounds = spans.install_round_log() if args.trace else None
    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
    }
    if args.trace:
        conf.update({"spark.ui.retainedJobs": "1000000",
                     "spark.ui.retainedStages": "1000000"})

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    start_s = time.perf_counter() - t0
    try:
        print(f"# local[{cores}] spark {spark.version} workload {args.workload} "
              f"seed {args.seed}", flush=True)
        tracer.attach(spark)
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, run_dir, cache)
        setup = wl.setup()
        for name, (n, h) in setup["fingerprints"].items():
            print(f"# input {name}: rows={n} xor_xxhash64={h}", flush=True)
        runner = Passes(wl, tracer, rounds, run_dir)
        if args.trace:
            # the untraced pass runs after the traced one, so the JVM's
            # continued warming biases the overhead up, not down (single
            # readings still carry ~2 s of run-to-run noise); one more
            # pass would push a traced run toward three minutes
            for run_id, traced in (("warmup", False), ("pass0", True), ("pass1", False)):
                runner.run(run_id, traced)
            rss_mb = _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)  # noqa: SLF001
            metrics = _layer_metrics(runner, tracer, cores, start_s, rss_mb)
        else:
            t_begin = time.perf_counter()
            while True:
                t0 = time.perf_counter()
                runner.run(f"pass{len(runner.attempts)}", False)
                last = time.perf_counter() - t0
                if time.perf_counter() - t_begin + last > args.seconds:
                    break
            metrics = {}
            if runner.done:
                metrics["job_s"] = statistics.median(p["job_s"] for p in runner.done)
                metrics["setup_s"] = start_s + setup["gen_s"] + setup["fp_s"]
        tracer.write(work / f"spans-{args.workload}-{args.seed}.jsonl")
        attempted = len(runner.checks) + len(wl.phases) * len(runner.attempts)
        failed = runner.checks.count(False) + runner.failed_phases
        print(json.dumps({
            "correct": failed == 0 and bool(metrics),
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": _unit(k)} for k, v in metrics.items()},
        }))
        return 0
    finally:
        _stop(spark)


class Passes:
    """Runs passes of a workload into a fresh output dir and checks
    each pass's outputs outside its timed region."""

    def __init__(self, wl, tracer, rounds, run_dir: Path):
        self.wl, self.tracer, self.rounds = wl, tracer, rounds
        self.out = run_dir / "out"
        self.attempts: list[str] = []
        self.done: list[dict] = []  # passes whose phases all ran
        self.checks: list[bool] = []
        self.failed_phases = 0

    def run(self, run_id: str, traced: bool) -> None:
        wl, tracer = self.wl, self.tracer
        self.attempts.append(run_id)
        shutil.rmtree(self.out, ignore_errors=True)
        self.out.mkdir(parents=True)
        tracer.run_id, tracer.enabled = run_id, traced
        r0 = (self.rounds.rounds, self.rounds.local_finishes) if self.rounds else (0, 0)
        t0 = time.perf_counter()
        try:
            result = wl.run_pass(self.out)
        except Exception:  # noqa: BLE001 - count the failure, keep the run going
            traceback.print_exc()
            ran = {s["name"] for s in tracer.spans
                   if s["run_id"] == run_id and not s.get("error")}
            self.failed_phases += sum(f"phase.{p}" not in ran for p in wl.phases)
            return
        finally:
            tracer.enabled = False
        rec = {"run_id": run_id, "traced": traced, "job_s": time.perf_counter() - t0}
        print(f"# {run_id}: job_s={rec['job_s']:.3f} " + " ".join(
            f"{p}={tracer.wall(run_id, f'phase.{p}'):.3f}" for p in wl.phases), flush=True)
        try:
            checks = wl.check(self.out, result)
        except Exception:  # noqa: BLE001 - an unreadable output fails its pass's checks
            traceback.print_exc()
            checks = {"outputs": False}
        for name, ok in checks.items():
            self.checks.append(bool(ok))
            if not ok:
                print(f"# {run_id}: check {name} FAILED", file=sys.stderr)
        if traced:
            rec["cc.rounds"] = self.rounds.rounds - r0[0]
            rec["cc.distributed_rounds"] = rec["cc.rounds"] - (
                self.rounds.local_finishes - r0[1])
            tracer.run_id = "probe"
            rec.update(wl.trace_extras(self.out, result))
        if run_id != "warmup":
            self.done.append(rec)


def _layer_metrics(runner: Passes, tracer, cores: int, start_s: float,
                   rss_mb: float) -> dict[str, float]:
    from spans import COUNTS

    traced = [p for p in runner.done if p["traced"]]
    plain = [p["job_s"] for p in runner.done if not p["traced"]]
    if not traced or not plain:
        return {}
    p = traced[0]
    m = {}
    layers = tracer.layer_self(p["run_id"])
    for layer in LAYERS:
        v = layers.get(layer, dict.fromkeys(("wall_s",) + COUNTS, 0.0))
        for k in ("wall_s",) + COUNTS:
            m[f"{layer}.{k}"] = v[k]
        m[f"{layer}.util"] = v["exec_s"] / (v["wall_s"] * cores) if v["wall_s"] > 0 else 0.0
    for ph in PHASES:
        m[f"phase.{ph}_s"] = tracer.wall(p["run_id"], f"phase.{ph}")
    m["superstep.record_s"] = tracer.wall(p["run_id"], "superstep.record")
    m["superstep.latest_s"] = tracer.wall(p["run_id"], "superstep.latest")
    m["session.start_s"] = start_s
    m["session.peak_rss_mb"] = rss_mb
    m["trace.overhead_s"] = p["job_s"] - statistics.median(plain)
    return {name: p.get(name, m.get(name, 0.0)) for name in PER_LAYER}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("util", "ratio")):
        return "ratio"
    if name.endswith("bytes_written"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())

"""Spans around every call into a ccl_spark layer, plus Spark status-store
deltas per span.

Each public function of a layer module is replaced, in every layer
module that references it, by a wrapper that opens a span named
``<layer>.<function>``. With tracing off a span is two clock reads
(the benchmark's ``cc_s`` is built from them); with tracing on, the
listener bus is drained and the status store is read at both ends of
the span, so each span also carries the jobs, stages, tasks, executor
time, shuffle and spill of the Spark work it started. Spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import os
import sys
import time
from contextlib import contextmanager
from pathlib import Path

from ccl_spark.superstep import SuperstepHarness

COUNTS = (
    "jobs",
    "stages",
    "tasks",
    "exec_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "failed_tasks",
)
_MB = 1024.0 * 1024.0


class StatusStore:
    """Reads completed jobs and stages from Spark's live status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()  # noqa: SLF001
        self._store = self._sc.statusStore()
        jvm = sc._jvm  # noqa: SLF001
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)  # noqa: SLF001
        self._no_status = jvm.java.util.ArrayList()

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(newest job id, newest stage id); both lists are newest first."""
        jobs = self._store.jobsList(None)
        stages = self._stages()
        return (
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
        )

    def _stages(self):
        return self._store.stageList(
            None, False, False, self._no_quantiles, self._no_status
        )

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        out = dict.fromkeys(COUNTS, 0.0)
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= mark[0]:
                break
            out["jobs"] += 1
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark[1]:
                break
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["exec_s"] += s.executorRunTime() / 1000.0
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            out["shuffle_read_mb"] += s.shuffleReadBytes() / _MB
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB
        return out


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = "setup"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._status: StatusStore | None = None

    def attach(self, spark) -> None:
        if self.enabled:
            self._status = StatusStore(spark)

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        rec = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
        }
        status = self._status if self.enabled else None
        if status is not None:
            status.drain()
            mark = status.mark()
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        except BaseException:
            rec["error"] = True
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if status is not None:
                status.drain()
                rec.update(status.since(mark))
            self.spans.append(rec)

    def wall(self, run_id: str, name: str) -> float:
        """Summed duration of the spans called ``name`` in one run."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["run_id"] == run_id and s["name"] == name
        )

    def layer_self(self, run_id: str) -> dict[str, dict[str, float]]:
        """Per layer, the self values of its spans in one run: each
        span's wall time and counts minus those of its child spans."""
        spans = [s for s in self.spans if s["run_id"] == run_id]
        keys = ("wall_s",) + COUNTS
        own = {}
        for s in spans:
            own[s["id"]] = {"wall_s": s["end"] - s["start"]}
            own[s["id"]].update({k: s.get(k, 0.0) for k in COUNTS})
        selfv = {i: dict(v) for i, v in own.items()}
        for s in spans:
            if s["parent"] in selfv:
                for k in keys:
                    selfv[s["parent"]][k] -= own[s["id"]][k]
        out: dict[str, dict[str, float]] = {}
        for s in spans:
            if s["layer"] is None:
                continue
            acc = out.setdefault(s["layer"], dict.fromkeys(keys, 0.0))
            for k in keys:
                acc[k] += selfv[s["id"]][k]
        return out

    def write(self, path: Path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def instrument(tracer: Tracer, modules: dict) -> None:
    """Wrap every public function of each ``layer -> module`` in a span,
    and rebind it wherever a layer module imported it by name."""
    wrapped = {}
    for layer, mod in modules.items():
        for name, fn in vars(mod).items():
            if (
                inspect.isfunction(fn)
                and fn.__module__ == mod.__name__
                and not name.startswith("_")
            ):
                wrapped[fn] = _wrap(tracer, fn, f"{layer}.{name}", layer)
    for mod in modules.values():
        for name, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and obj in wrapped:
                setattr(mod, name, wrapped[obj])


def _wrap(tracer: Tracer, fn, span_name: str, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(span_name, layer):
            return fn(*args, **kwargs)

    return traced


def _tree(root: str) -> dict[str, int]:
    files = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            files[p] = os.path.getsize(p)
    return files


class TimedHarness(SuperstepHarness):
    """SuperstepHarness whose ``record()`` and ``latest()`` calls are
    spans; with tracing on, each record also notes the files and bytes
    it added under the harness root."""

    def __init__(self, spark, root: str, algo: str, tracer: Tracer):
        super().__init__(spark, root, algo)
        self.tracer = tracer
        self.records = 0
        self.bytes_written = 0
        self.files_written = 0

    def record(self, superstep, df, changed, delta, timer=None):
        before = _tree(self.root) if self.tracer.enabled else {}
        with self.tracer.span("superstep.record", "superstep"):
            out = super().record(superstep, df, changed, delta, timer)
        self.records += 1
        if self.tracer.enabled:
            for p, size in _tree(self.root).items():
                if before.get(p) != size:
                    self.files_written += 1
                    self.bytes_written += size
        return out

    def latest(self):
        with self.tracer.span("superstep.latest", "superstep"):
            return super().latest()


class RoundLog:
    """stderr pass-through that counts the per-round lines
    ``connected_components`` prints when CCL_SPARK_DEBUG=1."""

    def __init__(self, stream):
        self._stream = stream
        self._buf = ""
        self.rounds = 0
        self.local_finishes = 0

    def write(self, text: str) -> int:
        self._buf += text
        *lines, self._buf = self._buf.split("\n")
        for line in lines:
            if line.startswith("cc round "):
                self.rounds += 1
                self.local_finishes += "local finish" in line
        return self._stream.write(text)

    def flush(self) -> None:
        self._stream.flush()

    def __getattr__(self, name):
        return getattr(self._stream, name)


def install_round_log() -> RoundLog:
    log = RoundLog(sys.stderr)
    sys.stderr = log
    return log

"""The benchmark's workloads. Each one writes its seeded inputs once,
then runs passes: one pass is the whole job a user submits, every
phase ending in a write (or a count) that materializes its output.

- ``crawl_graph``: pages -> ``page_edges`` -> edge table, then
  connected components, PageRank (tol 1e-6), label propagation and a
  triangle count over that table. Hub-heavy skew; the edge set stays
  below ``local_finish_threshold``, so ``cc`` takes its local finish.
- ``storm_stack``: threshold a stack of gridded slices and label each
  slice (``slice_labels``, its connected components checkpointed by a
  durable superstep harness), then link labels across slices into
  tracks and count track ages. A simulated crash then removes the
  newer half of the label checkpoints and tears the newest survivor
  (no ``_SUCCESS``, data files cut short), and the label job resumes. A hub-free lattice;
  the labeling runs a distributed large-star/small-star round before
  its local finish.

Which layer metric should move which end-to-end number (``job_s``):
``pagerank.jobs``/``util`` -> crawl_graph (``phase.pagerank_s``), flat
on storm_stack; ``cc.*`` -> storm_stack (distributed round,
``phase.label_s``) and crawl_graph (local finish, ``phase.cc_s``) -- a
change to one path leaves the other workload's cc time flat;
``edges.exec_s`` -> crawl_graph ``phase.ingest_s``; ``lpa.shuffle_*`` ->
``phase.lpa_s``; ``triangles.shuffle_read_mb`` -> ``phase.triangles_s``;
``grids.wall_s`` and the cc/sources work its plans cause ->
``phase.label_s``/``phase.resume_s``;
``superstep.record_s``/``bytes_written``/``files_written`` ->
``phase.label_s``; ``superstep.latest_s``/``steps_replayed`` ->
``phase.resume_s``; ``*.spill_mb`` -> ``session.peak_rss_mb``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ccl_spark import cc, components, edges, grids, lpa, pagerank, sources, triangles
from ccl_spark.superstep import SuperstepHarness

import gen
import oracle
from spans import TimedHarness, Tracer

CRAWL_PAGES = 10_000
STORM_SHAPE = (16, 64, 128)  # slices, rows, cols
STORM_LO = 0.5
# slice_labels' own connected_components call gets a local-finish
# threshold of this share of the stack's intra-slice pairs instead of
# the 4M-pair default: one large-star/small-star round leaves ~0.77 of
# the pairs, so the benchmark-sized stack runs one distributed round
# before its local finish
STORM_FINISH_SHARE = 0.88
NODE_BASE = 1 << 20  # track node id = slice * NODE_BASE + label
GEN_REPEATS = 3


def _rm(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _read(path: Path):
    return pq.read_table(str(path)).to_pandas()


def fingerprint(spark, path: Path) -> tuple[int, int]:
    """(rows, xor of xxhash64 over all columns) of a table as read."""
    df = sources.read_table(spark, str(path))
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*df.columns)), F.lit(0)).alias("h"),
    ).first()
    return row["n"], row["h"]


class Workload:
    name = ""
    phases: tuple[str, ...] = ()
    size_tag = ""  # input size, part of the oracle cache key

    def __init__(self, spark, tracer: Tracer, seed: int, work: Path, cache: Path):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.cache = cache
        self.inputs = work / "in"
        self._oracle = None

    # -- set-up ------------------------------------------------------------
    def generate(self) -> None:
        raise NotImplementedError

    def setup(self) -> dict:
        """Write the inputs GEN_REPEATS times (deterministic, so the
        last write is the input); returns generation times and the
        fingerprint of every table as Spark reads it."""
        gen_s = []
        for _ in range(GEN_REPEATS):
            _rm(self.inputs)
            t0 = time.perf_counter()
            self.generate()
            gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        prints = {
            p.name: fingerprint(self.spark, p) for p in sorted(self.inputs.iterdir())
        }
        return {"gen_s": statistics.median(gen_s), "fp_s": time.perf_counter() - t0,
                "fingerprints": prints}

    # -- passes ------------------------------------------------------------
    def phase(self, name: str):
        return self.tracer.span(f"phase.{name}")

    def run_pass(self, out: Path) -> dict:
        raise NotImplementedError

    def oracle(self) -> dict:
        if self._oracle is None:
            path = self.cache / f"{self.name}-seed{self.seed}-{self.size_tag}.npz"
            if not path.exists():
                tmp = path.with_suffix(".tmp.npz")
                np.savez(tmp, **self.compute_oracle())
                os.replace(tmp, path)
            with np.load(path) as z:
                self._oracle = {k: z[k] for k in z.files}
        return self._oracle

    def compute_oracle(self) -> dict:
        raise NotImplementedError

    def check(self, out: Path, result: dict) -> dict[str, bool]:
        raise NotImplementedError

    def trace_extras(self, out: Path, result: dict) -> dict[str, float]:
        """Layer counts read outside the traced pass."""
        return {}


def _same_pairs(a_key, a_val, b_key, b_val) -> bool:
    ia, ib = np.argsort(a_key, kind="stable"), np.argsort(b_key, kind="stable")
    return (
        len(a_key) == len(b_key)
        and np.array_equal(np.asarray(a_key)[ia], np.asarray(b_key)[ib])
        and np.array_equal(np.asarray(a_val)[ia], np.asarray(b_val)[ib])
    )


class CrawlGraph(Workload):
    name = "crawl_graph"
    phases = ("ingest", "cc", "pagerank", "lpa", "triangles")
    size_tag = f"p{CRAWL_PAGES}"

    def generate(self) -> None:
        (self.inputs / "pages").mkdir(parents=True)
        gen.write_crawl_pages(self.inputs / "pages", self.seed, CRAWL_PAGES)

    def run_pass(self, out: Path) -> dict:
        spark = self.spark

        def edge_table():
            return sources.read_table(spark, str(out / "edges"))

        with self.phase("ingest"):
            pages = sources.read_table(spark, str(self.inputs / "pages"))
            sources.write_table(edges.page_edges(pages), str(out / "edges"))
        with self.phase("cc"):
            sources.write_table(cc.connected_components(edge_table()), str(out / "cc"))
        with self.phase("pagerank"):
            ranks = pagerank.pagerank(edge_table(), tol=1e-6)
            sources.write_table(ranks, str(out / "pagerank"))
        with self.phase("lpa"):
            labels = lpa.label_propagation(edge_table())
            sources.write_table(labels, str(out / "lpa"))
        with self.phase("triangles"):
            n_tri = triangles.triangle_count(edge_table())
        return {"triangles": n_tri}

    def compute_oracle(self) -> dict:
        src, dst = gen.crawl_edge_ids(self.seed, CRAWL_PAGES)
        cv, cl = oracle.components(src, dst)
        pv, pr = oracle.pagerank(src, dst)
        lv, ll = oracle.label_propagation(src, dst)
        return {
            "src": src, "dst": dst, "cc_v": cv, "cc_c": cl, "pr_v": pv, "pr_r": pr,
            "lpa_v": lv, "lpa_l": ll,
            "triangles": np.array(oracle.triangle_count(src, dst)),
        }

    def check(self, out: Path, result: dict) -> dict[str, bool]:
        o = self.oracle()
        e = _read(out / "edges")
        got = np.unique(np.stack([e["src"].to_numpy(), e["dst"].to_numpy()], 1), axis=0)
        want = np.stack([o["src"], o["dst"]], 1)
        ccd = _read(out / "cc")
        prd = _read(out / "pagerank").sort_values("vertex")
        pr_ok = np.array_equal(prd["vertex"].to_numpy(), o["pr_v"]) and bool(
            np.abs(prd["rank"].to_numpy() - o["pr_r"]).max() <= 1e-6
        )
        lpd = _read(out / "lpa")
        return {
            "edges": len(e) == len(got) and np.array_equal(got, want),
            "cc": _same_pairs(ccd["vertex"], ccd["component"], o["cc_v"], o["cc_c"]),
            "pagerank": pr_ok,
            "lpa": _same_pairs(lpd["vertex"], lpd["label"], o["lpa_v"], o["lpa_l"]),
            "triangles": result["triangles"] == int(o["triangles"]),
        }

    def trace_extras(self, out: Path, result: dict) -> dict[str, float]:
        """PageRank iterations and LPA rounds from the superstep lineage
        of a checkpointed rerun (same recurrence, same stopping rule)."""
        extras = {"edges.edges_out": float(pq.read_table(str(out / "edges")).num_rows)}
        e = sources.read_table(self.spark, str(out / "edges"))
        for algo, key, run in (
            ("pagerank", "pagerank.iters", lambda h: pagerank.pagerank(e, tol=1e-6, harness=h)),
            ("lpa", "lpa.rounds", lambda h: lpa.label_propagation(e, harness=h)),
        ):
            root = self.work / "lineage" / algo
            _rm(root)
            h = SuperstepHarness(self.spark, str(root), algo)
            run(h).count()
            extras[key] = float(h.lineage().agg(F.max("superstep")).first()[0] + 1)
        return extras


def track_ages(labels):
    """(component, age) of the tracks: (slice, label) nodes linked where
    consecutive slices overlap."""
    node = F.col("slice_id").cast("long") * NODE_BASE + F.col("label")
    links = grids.overlap_pairs(labels).select(
        ((F.col("slice_id") - 1).cast("long") * NODE_BASE + F.col("prev_label")).alias("src"),
        node.alias("dst"),
    )
    nodes = labels.select(node.alias("vertex")).distinct()
    comps = cc.connected_components(links, vertices=nodes)
    return components.ages(
        comps.select(F.expr(f"vertex div {NODE_BASE}").alias("snapshot_id"), "component")
    )


def crash(root: Path) -> int:
    """Simulate a crash mid-run: delete the newer half of the completed
    supersteps and tear the newest survivor's write (``_SUCCESS`` gone,
    data files cut to half). Returns the supersteps a resume must redo."""
    state = root / "state"
    steps = sorted(int(p.name.split("=", 1)[1]) for p in state.glob("step=*"))
    cut = len(steps) // 2
    for s in steps[cut + 1 :]:
        _rm(state / f"step={s}")
    torn = state / f"step={steps[cut]}"
    (torn / "_SUCCESS").unlink()
    for part in torn.glob("part-*"):
        os.truncate(part, part.stat().st_size // 2)
    return len(steps) - cut


class StormStack(Workload):
    name = "storm_stack"
    phases = ("label", "track", "resume")
    size_tag = "x".join(map(str, STORM_SHAPE))

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.harness: TimedHarness | None = None
        self.finish_pairs = 0
        # slice_labels resolves connected_components in the grids
        # module: give that call a durable harness and the scaled-down
        # local-finish threshold
        traced_cc = grids.connected_components
        grids.connected_components = lambda *a, **kw: traced_cc(
            *a,
            **{"local_finish_threshold": self.finish_pairs, "harness": self.harness, **kw},
        )

    def generate(self) -> None:
        (self.inputs / "grid").mkdir(parents=True)
        grid = gen.storm_grid(self.seed, *STORM_SHAPE)
        gen.write_storm_grid(self.inputs / "grid", grid)
        _, pairs, _ = oracle.storm_links(grid, STORM_LO)
        self.finish_pairs = int(STORM_FINISH_SHARE * len(pairs))

    def _label(self, out: Path) -> None:
        _, n_rows, n_cols = STORM_SHAPE
        grid = sources.read_table(self.spark, str(self.inputs / "grid"))
        cells = grids.threshold_cells(grid, STORM_LO, float("inf"), n_rows, n_cols)
        sources.write_table(grids.slice_labels(cells, n_rows, n_cols), str(out))

    def run_pass(self, out: Path) -> dict:
        root = str(out / "labels_ckpt")
        first = self.harness = TimedHarness(self.spark, root, "slice_labels", self.tracer)
        with self.phase("label"):
            self._label(out / "labels")
        with self.phase("track"):
            labels = sources.read_table(self.spark, str(out / "labels"))
            sources.write_table(track_ages(labels), str(out / "ages"))
        lost = crash(out / "labels_ckpt")
        resumed = self.harness = TimedHarness(self.spark, root, "slice_labels", self.tracer)
        with self.phase("resume"):
            self._label(out / "labels_resumed")
        self.harness = None
        return {"harnesses": (first, resumed), "lost": lost}

    def compute_oracle(self) -> dict:
        labels = oracle.storm_labels(gen.storm_grid(self.seed, *STORM_SHAPE), STORM_LO)
        ids, age = oracle.storm_ages(labels, NODE_BASE)
        return {"labels": labels, "track": ids, "age": age}

    def check(self, out: Path, result: dict) -> dict[str, bool]:
        o = self.oracle()
        ok = {}
        for name in ("labels", "labels_resumed"):
            lab = _read(out / name)
            got = np.zeros_like(o["labels"])
            got[lab["slice_id"], lab["row"], lab["col"]] = lab["label"]
            ok[name] = len(lab) == np.count_nonzero(o["labels"]) and np.array_equal(
                got, o["labels"]
            )
        ages = _read(out / "ages")
        ok["ages"] = _same_pairs(ages["component"], ages["age"], o["track"], o["age"])
        ok["replayed"] = result["harnesses"][1].records == result["lost"]
        return ok

    def trace_extras(self, out: Path, result: dict) -> dict[str, float]:
        first, resumed = result["harnesses"]
        _, n_rows, n_cols = STORM_SHAPE
        labels = sources.read_table(self.spark, str(out / "labels"))
        pairs = grids.intra_slice_edges(labels, n_rows, n_cols).count()
        return {
            "grids.cells": float(labels.count()),
            "grids.pairs": float(pairs),
            "superstep.records": float(first.records + resumed.records),
            "superstep.bytes_written": float(first.bytes_written + resumed.bytes_written),
            "superstep.files_written": float(first.files_written + resumed.files_written),
            "superstep.steps_replayed": float(resumed.records),
            "superstep.replay_ratio": resumed.records / result["lost"],
        }


WORKLOADS = {w.name: w for w in (CrawlGraph, StormStack)}

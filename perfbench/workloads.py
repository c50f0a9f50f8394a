"""The three workloads and the per-layer sweep.

Every timed operation is measured to its collected result and checked
against an oracle (``oracles``) after its timer stops; an exception or a
mismatch counts as a failed operation.

- ``cooc-dense``: parts co-occurring in an order. Triangle layers do
  most of their work here and every superstep carries the whole edge
  set as messages.
- ``chain-deep``: consecutive orders per customer, a disjoint union of
  paths. Little data per superstep, many supersteps: per-round job
  overhead dominates and the triangle layer is bypassed.
- ``delta-ingest``: a parquet base table plus a seeded holdout fed in
  batches through ``incremental_triangle_stream`` (closed loop, one
  client: stage one file, ``processAllAvailable()``), then a full
  ``triangle_count`` over the compacted multi-file table.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field
from functools import cached_property

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs, oracles

# Tier sizes. The co-occurrence tier runs at sf0.005 (1,000 parts, ~56k
# edges, the same ~112 average degree as sf0.1) rather than sf0.1: on a
# 4-core host each query here is dominated by seconds of fixed Spark job
# overhead, and a whole run, set-up included, has to fit in about 50 s.
# The chain tier is cheap at sf0.1 (~135k edges over ~150k vertices) and
# keeps its 12-superstep PageRank.
COOC_SF = 0.005
CHAIN_SF = 0.1
# triangle counts of the fixed tier structures (relabelling preserves them)
COOC_TRIANGLES = 311_632
SETUP_REPS = 2
DELTA_HOLDOUT, DELTA_BATCHES = 0.01, 1
SWEEP_HOLDOUT, SWEEP_BATCHES = 0.01, 1

PAGERANK_ITERATIONS = 5
LPA_ITERATIONS = 3
ALL_QUERIES = (
    "triangles",
    "triangles_per_vertex",
    "pagerank",
    "components",
    "label_propagation",
    "ingest_batch",
)
SUPERSTEP_QUERIES = {
    "pagerank": "pagerank",
    "components": "components",
    "label_propagation": "labelprop",
}
ROUTES = ("intersect", "csr_bcast", "csr_join", "wedge")


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    cores: int
    tracer: object
    _n: int = 0

    def dir(self, name: str) -> str:
        self._n += 1
        path = os.path.join(self.work, f"{self._n:03d}-{name}")
        os.makedirs(path)
        return path


@dataclass
class Recorder:
    """Times operations and defers their oracle checks: ``verify()`` runs
    them after the measured window, so no check or oracle lands inside a
    timed operation or a timed pass."""

    tracer: object
    times: dict = field(default_factory=dict)
    last: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    pending: list = field(default_factory=list)

    def op(self, name: str, fn, check=None):
        """Time ``fn()``; queue ``check(result) -> bool`` for ``verify``."""
        self.attempted += 1
        out = None
        with self.tracer.span(name, counters=True) as sp:
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception:
                self.fail(f"{name}: {traceback.format_exc(limit=4)}")
            else:
                if check is not None:
                    self.defer(
                        name, lambda: [] if check(out) else [f"{name}: result differs from the oracle"]
                    )
            dt = time.perf_counter() - t0
        self.times.setdefault(name, []).append(dt)
        self.last[name] = out
        return out, sp

    def defer(self, name: str, check) -> None:
        """Queue ``check() -> list of error messages``, one per wrong result."""
        self.pending.append((name, check))

    def verify(self) -> None:
        pending, self.pending = self.pending, []
        for name, check in pending:
            try:
                errors = check()
            except Exception:
                errors = [f"{name} check: {traceback.format_exc(limit=4)}"]
            for why in errors:
                self.fail(why)

    def fail(self, why: str) -> None:
        self.failed += 1
        self.errors.append(why)


class Expect:
    """Oracle answers over one canonical edge array, computed on demand."""

    def __init__(self, edges: np.ndarray, cores: int) -> None:
        self.edges = edges
        self.cores = cores

    @cached_property
    def triangles(self) -> int:
        return oracles.triangle_count(self.edges, self.cores)

    @cached_property
    def components(self):
        return oracles.components(self.edges)

    @cached_property
    def labels(self):
        return oracles.label_propagation(self.edges, LPA_ITERATIONS)

    def pagerank(self, iterations: int, tol: float | None):
        return oracles.pagerank(self.edges, iterations, tol)

    @cached_property
    def cost(self) -> tuple[float, float]:
        """(wedge rows W, intersect elements I) under (degree, id) orientation."""
        ids, inv = np.unique(self.edges, return_inverse=True)
        inv = inv.reshape(self.edges.shape)
        deg = np.bincount(inv.ravel(), minlength=len(ids))
        s, d = inv[:, 0], inv[:, 1]
        swap = (deg[s] > deg[d]) | ((deg[s] == deg[d]) & (s > d))
        low = np.where(swap, d, s)
        dplus = np.bincount(low, minlength=len(ids))
        return float((dplus * (dplus - 1) // 2).sum()), float((dplus * deg).sum())


def _keyed(tbl: pa.Table, key: str, val: str) -> tuple[np.ndarray, np.ndarray]:
    k = tbl.column(key).to_numpy()
    order = np.argsort(k, kind="stable")
    return k[order], tbl.column(val).to_numpy()[order]


def _labels_match(tbl: pa.Table, key: str, val: str, want) -> bool:
    k, v = _keyed(tbl, key, val)
    return np.array_equal(k, want[0]) and np.array_equal(v, want[1])


# --------------------------------------------------------------- queries


def q_triangles(rec, edges, exp: Expect, strategy: str | None = None, name="triangles"):
    from paralleltrianglecounting_spark.operators.triangles import triangle_count

    def run():
        df = triangle_count(edges) if strategy is None else triangle_count(edges, strategy=strategy)
        return int(df.collect()[0]["triangles"])

    return rec.op(name, run, lambda v: v == exp.triangles)


def q_triangles_per_vertex(rec, edges, exp: Expect):
    from pyspark.sql import functions as F

    from paralleltrianglecounting_spark.operators.triangles import triangles_per_vertex

    # consumed through a SUM: count() lets Catalyst drop the vertex join
    return rec.op(
        "triangles_per_vertex",
        lambda: int(triangles_per_vertex(edges).agg(F.sum("triangles")).collect()[0][0] or 0),
        lambda v: v == 3 * exp.triangles,
    )


def q_pagerank(rec, edges, exp: Expect, iterations: int, tol: float | None):
    from paralleltrianglecounting_spark.operators.pagerank import pagerank_run

    def run():
        r = pagerank_run(edges, iterations=iterations, tol=tol)
        return r, r.state.select("vertex", "rank").toArrow()

    def check(out):
        r, tbl = out
        ids, ranks, steps = exp.pagerank(iterations, tol)
        k, v = _keyed(tbl, "vertex", "rank")
        return (
            r.iterations == steps
            and np.array_equal(k, ids)
            and np.allclose(v, ranks, rtol=1e-6, atol=0.0)
        )

    return rec.op("pagerank", run, check)


def q_components(rec, edges, exp: Expect):
    from paralleltrianglecounting_spark.operators.components import components_run

    def run():
        r = components_run(edges)
        return r, r.state.select("vertex", "component").toArrow()

    return rec.op(
        "components", run, lambda out: _labels_match(out[1], "vertex", "component", exp.components)
    )


def q_label_propagation(rec, edges, exp: Expect):
    from paralleltrianglecounting_spark.operators.labelprop import label_propagation_run

    def run():
        r = label_propagation_run(edges, iterations=LPA_ITERATIONS, detect_stability=False)
        return r, r.state.select("vertex", "label").toArrow()

    return rec.op(
        "label_propagation", run, lambda out: _labels_match(out[1], "vertex", "label", exp.labels)
    )


class Ingest:
    """A base edge table plus holdout batches, replayed through
    ``incremental_triangle_stream`` into a fresh table per run."""

    def __init__(
        self, ctx: Ctx, base: np.ndarray, batches: list[np.ndarray], base_dir: str | None = None
    ) -> None:
        self.ctx = ctx
        self.base = base
        self.batches = [inputs.edge_table(b[:, 0], b[:, 1]) for b in batches]
        self.raw_batches = batches
        self.base_dir = base_dir or ctx.dir("base")
        inputs.write(inputs.edge_table(base[:, 0], base[:, 1]), self.base_dir, files=4)
        self.progress: list[dict] = []
        self.table_files = 0

    @cached_property
    def prefix_counts(self) -> list[int]:
        """Oracle triangle counts of base, base+b0, base+b0+b1, ..."""
        out, acc = [], self.base
        out.append(oracles.triangle_count(acc, self.ctx.cores))
        for b in self.raw_batches:
            acc = np.concatenate([acc, b])
            out.append(oracles.triangle_count(acc, self.ctx.cores))
        return out

    def run(self, rec: Recorder) -> str:
        """Ingest every batch; returns the table dir. Per-batch counts are
        checked against the oracle after the measured window."""
        from paralleltrianglecounting_spark.streaming.edge_stream import (
            incremental_triangle_stream,
        )

        spark, tracer = self.ctx.spark, self.ctx.tracer
        d = self.ctx.dir("ingest")
        table, source, staging = (os.path.join(d, x) for x in ("table", "source", "staging"))
        counts = os.path.join(d, "counts")
        shutil.copytree(self.base_dir, table)
        os.makedirs(source)
        os.makedirs(staging)
        query = incremental_triangle_stream(
            spark, source, table, counts, os.path.join(d, "checkpoint"), max_files_per_trigger=1
        ).start()
        group, seen = str(query.runId), set()
        try:
            for i, tb in enumerate(self.batches):
                name = f"batch-{i:05d}.parquet"

                def one(tb=tb, name=name):
                    pq.write_table(tb, os.path.join(staging, name))
                    os.rename(os.path.join(staging, name), os.path.join(source, name))
                    query.processAllAvailable()

                _, sp = rec.op("ingest_batch", one)
                if tracer.enabled:
                    new = [j for j in tracer.group_job_ids(group) if j not in seen]
                    seen.update(new)
                    for k, v in tracer.job_counters(new).items():
                        sp.counters[k] = sp.counters.get(k, 0) + v
        finally:
            query.stop()
        self.progress = [
            p for p in (json.loads(x.json) for x in query.recentProgress) if p["numInputRows"] > 0
        ]
        self.table_files = sum(1 for f in os.listdir(table) if f.endswith(".parquet"))
        rec.defer("ingest_batch", lambda: self._check_counts(counts))
        return table

    def _check_counts(self, counts: str) -> list[str]:
        from pyspark.sql import functions as F

        if not os.path.isdir(counts):
            return ["ingest: no per-batch counts written"]
        got = {
            int(r["batch_id"]): int(r["n"])
            for r in self.ctx.spark.read.parquet(counts)
            .groupBy("batch_id")
            .agg(F.max("new_triangles").alias("n"))
            .collect()
        }
        want = self.prefix_counts
        return [
            f"ingest batch {i}: {got.get(i)} new triangles, oracle {want[i + 1] - want[i]}"
            for i in range(len(self.batches))
            if got.get(i) != want[i + 1] - want[i]
        ]


# ------------------------------------------------------------- workloads


class Workload:
    name = ""
    queries: tuple = ()
    pagerank_args = {"iterations": PAGERANK_ITERATIONS, "tol": None}

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.edges = None
        self.oracle_edges: np.ndarray | None = None
        self.sweep_ingest: Ingest | None = None

    # set-up: write the seeded inputs, build and materialize the edge table
    def write_inputs(self, d: str) -> None:
        raise NotImplementedError

    def build(self, d: str):
        raise NotImplementedError

    def derive_oracle_edges(self) -> None:
        """Set ``oracle_edges`` from the generated inputs, without Spark."""
        raise NotImplementedError

    def warmup(self) -> None:
        """One untimed pass (its checks never run). The first pass of a
        JVM pays class loading, the JIT and Spark's code generation for
        every plan it runs (well over a hundred generated classes on
        cooc-dense; the first micro-batch of a stream runs ~1.5x slower
        than the next). Spark's codegen cache
        (``run.CODEGEN_CACHE_ENTRIES``) keeps the classes for the
        measured passes."""
        self.run_pass(Recorder(self.ctx.tracer))

    def run_pass(self, rec: Recorder) -> None:
        for q in self.queries:
            self.run_query(rec, q)

    @cached_property
    def expect(self) -> Expect:
        return Expect(self.oracle_edges, self.ctx.cores)

    def ingest_for_sweep(self) -> Ingest:
        base, batches = inputs.holdout_batches(
            self.oracle_edges, self.ctx.seed, SWEEP_HOLDOUT, SWEEP_BATCHES
        )
        return Ingest(self.ctx, base, batches)

    def run_query(self, rec: Recorder, q: str) -> None:
        e, exp = self.edges, self.expect
        if q == "triangles":
            q_triangles(rec, e, exp)
        elif q == "triangles_per_vertex":
            q_triangles_per_vertex(rec, e, exp)
        elif q == "pagerank":
            q_pagerank(rec, e, exp, **self.pagerank_args)
        elif q == "components":
            q_components(rec, e, exp)
        elif q == "label_propagation":
            q_label_propagation(rec, e, exp)
        elif q == "ingest_batch":
            if self.sweep_ingest is None:
                self.sweep_ingest = self.ingest_for_sweep()
            self.sweep_ingest.run(rec)


class CoocDense(Workload):
    name = "cooc-dense"
    queries = ("triangles", "triangles_per_vertex", "pagerank", "components", "label_propagation")

    def write_inputs(self, d: str) -> None:
        self.lineitem = inputs.lineitem(COOC_SF, self.ctx.seed)
        pq.write_table(self.lineitem, os.path.join(d, "lineitem.parquet"))

    def build(self, d: str):
        from paralleltrianglecounting_spark.sources.edges import part_graph

        return part_graph(self.ctx.spark, d)

    def derive_oracle_edges(self) -> None:
        self.oracle_edges = oracles.cooccurrence_edges(self.lineitem, self.ctx.cores)


class ChainDeep(Workload):
    name = "chain-deep"
    queries = ("components", "pagerank")
    pagerank_args = {"iterations": 20, "tol": 1e-6}

    def write_inputs(self, d: str) -> None:
        self.orders = inputs.orders(CHAIN_SF, self.ctx.seed)
        pq.write_table(self.orders, os.path.join(d, "orders.parquet"))

    def build(self, d: str):
        from paralleltrianglecounting_spark.sources.edges import order_chain_graph

        return order_chain_graph(self.ctx.spark, d)

    def derive_oracle_edges(self) -> None:
        self.oracle_edges = oracles.chain_edges(self.orders)

    def warmup(self) -> None:
        from paralleltrianglecounting_spark.operators.components import components_run
        from paralleltrianglecounting_spark.operators.pagerank import pagerank_run

        components_run(self.edges, max_iterations=2).state.toArrow()
        pagerank_run(self.edges, iterations=2, tol=1e-6).state.toArrow()


class DeltaIngest(Workload):
    name = "delta-ingest"
    queries = ("ingest_batch", "triangles")

    def write_inputs(self, d: str) -> None:
        li = inputs.lineitem(COOC_SF, self.ctx.seed)
        self.full = oracles.cooccurrence_edges(li, self.ctx.cores)
        base, batches = inputs.holdout_batches(
            self.full, self.ctx.seed, DELTA_HOLDOUT, DELTA_BATCHES
        )
        self.ingest = Ingest(self.ctx, base, batches, base_dir=d)

    def build(self, d: str):
        return self.ctx.spark.read.parquet(d)

    def derive_oracle_edges(self) -> None:
        # per-layer probes run over the base table; the final recount
        # is checked against the full graph
        self.oracle_edges = self.ingest.base
        self.full_expect = Expect(self.full, self.ctx.cores)

    def ingest_for_sweep(self) -> Ingest:
        return self.ingest

    def run_pass(self, rec: Recorder) -> None:
        from paralleltrianglecounting_spark.operators.triangles import triangle_count
        from paralleltrianglecounting_spark.streaming.edge_stream import compacted_edges

        table = self.ingest.run(rec)
        rec.op(
            "triangles",
            lambda: int(triangle_count(compacted_edges(self.ctx.spark, table)).collect()[0][0]),
            lambda v: v == self.full_expect.triangles,
        )


WORKLOADS = {w.name: w for w in (CoocDense, ChainDeep, DeltaIngest)}


# ---------------------------------------------------------------- set-up


def materialize(w: Workload, reps: int = SETUP_REPS) -> tuple[float, float, int]:
    """Write the inputs and build + persist the edge table ``reps`` times.
    Returns the median seconds of a whole repetition and of its edge
    build alone, and the edge count. The last build is kept."""
    total, build, n = [], [], 0
    for _ in range(reps):
        t0 = time.perf_counter()
        d = w.ctx.dir("input")
        w.write_inputs(d)
        t1 = time.perf_counter()
        edges = w.build(d).persist()
        n = edges.count()
        t2 = time.perf_counter()
        total.append(t2 - t0)
        build.append(t2 - t1)
        if w.edges is not None:
            w.edges.unpersist()
        w.edges = edges
    return statistics.median(total), statistics.median(build), n


# ----------------------------------------------------------------- sweep


def layer_sweep(w: Workload, rec: Recorder) -> None:
    """Per-layer probes over the workload's edge table (traced run only)."""
    from pyspark.sql import functions as F

    from paralleltrianglecounting_spark.operators import csr
    from paralleltrianglecounting_spark.operators.adjacency import adjacency, oriented_adjacency
    from paralleltrianglecounting_spark.operators.degrees import degrees
    from paralleltrianglecounting_spark.operators.delta import triangle_count_delta
    from paralleltrianglecounting_spark.operators.orientation import orient_edges
    from paralleltrianglecounting_spark.operators.triangles import strategy_cost_estimate

    e, exp, spark = w.edges, w.expect, w.ctx.spark
    m = len(exp.edges)
    rec.op("degrees", lambda: degrees(e).agg(F.sum("degree")).collect()[0][0], lambda v: v == 2 * m)
    rec.op("orientation", lambda: orient_edges(e).count(), lambda v: v == m)
    rec.op(
        "adjacency.oriented",
        lambda: oriented_adjacency(orient_edges(e).select("src", "dst"))
        .agg(F.sum(F.size("neighbors")))
        .collect()[0][0],
        lambda v: (v or 0) == m,
    )
    rec.op(
        "adjacency.full",
        lambda: adjacency(e).agg(F.sum(F.size("neighbors"))).collect()[0][0],
        lambda v: (v or 0) == 2 * m,
    )
    rec.op(
        "triangles.cost_probe",
        lambda: strategy_cost_estimate(e),
        lambda c: (c["wedge_rows"], c["intersect_elems"]) == exp.cost,
    )
    for route in ROUTES:
        q_triangles(rec, e, exp, strategy=route, name=f"triangles.{route}")

    def csr_probe():
        tbl = e.select("src", "dst").toArrow()
        uniq, row_ptr, col = csr.build_oriented_csr(
            tbl.column("src").to_numpy(), tbl.column("dst").to_numpy()
        )
        cum = csr.cumulative_row_cost(row_ptr, col)
        total = csr.run_slabs_local(uniq, row_ptr, col, cum, "count").column(0)[0].as_py()
        return int(cum[-1]) if len(cum) else 0, total

    rec.op("csr.probe", csr_probe, lambda v: v[1] == exp.triangles)

    ing = w.sweep_ingest or w.ingest_for_sweep()
    w.sweep_ingest = ing
    base = spark.read.parquet(ing.base_dir)
    delta = spark.createDataFrame(ing.batches[0])
    want = ing.prefix_counts[1] - ing.prefix_counts[0]
    rec.op(
        "delta.count",
        lambda: int(triangle_count_delta(base, delta).collect()[0]["new_triangles"]),
        lambda v: v == want,
    )


# -------------------------------------------------------- layer metrics

# sweep span -> per-layer metric (self time of the span)
LAYER_SPANS = {
    "degrees.s": "degrees",
    "orientation.s": "orientation",
    "adjacency.oriented_s": "adjacency.oriented",
    "adjacency.full_s": "adjacency.full",
    "triangles.cost_probe_s": "triangles.strategy_cost_estimate",
    **{f"triangles.{r}_s": f"triangles.{r}" for r in ROUTES},
    "delta.count_s": "delta.count",
}
COUNTERS = ("jobs", "stages", "tasks", "failed_tasks")


def layer_metrics(w: Workload, rec: Recorder, tracer) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the traced pass and the sweep."""
    m: dict[str, tuple[float, str]] = {}

    def last(name: str):
        found = tracer.find(name)
        return found[-1] if found else None

    def child_seconds(sp, *names: str) -> float:
        return sum(c.seconds for c in tracer.children(sp) if c.name in names) if sp else 0.0

    for metric, span in LAYER_SPANS.items():
        sp = last(span)
        m[metric] = (tracer.self_seconds(sp) if sp else 0.0, "s")
    cost = rec.last.get("triangles.cost_probe") or {}
    m["triangles.wedge_rows"] = (cost.get("wedge_rows", 0.0), "count")
    m["triangles.intersect_elems"] = (cost.get("intersect_elems", 0.0), "count")

    probe = last("csr.probe")
    elems = (rec.last.get("csr.probe") or (0, 0))[0]
    kernel = child_seconds(probe, "csr.run_slabs_local")
    m["csr.build_s"] = (child_seconds(probe, "csr.build_oriented_csr", "csr.cumulative_row_cost"), "s")
    m["csr.merge_elems"] = (elems, "count")
    m["csr.kernel_s"] = (kernel, "s")
    m["csr.merge_elems_per_s"] = (elems / kernel if kernel > 0 else 0.0, "1/s")

    for query, stem in SUPERSTEP_QUERIES.items():
        sp, out = last(query), rec.last.get(query)
        loop = next((c for c in tracer.children(sp) if c.name == "superstep.run"), None) if sp else None
        steps = out[0].iterations if out else 0
        exch = [x["metrics"].get("shuffle_exchanges", 0) for x in (out[0].metrics if out else [])]
        m[f"{stem}.supersteps"] = (steps, "count")
        m[f"{stem}.superstep_s"] = (loop.seconds / steps if loop and steps else 0.0, "s")
        m[f"{stem}.jobs_per_superstep"] = (
            loop.counters.get("jobs", 0) / steps if loop and steps else 0.0,
            "count",
        )
        m[f"{stem}.shuffle_exchanges"] = (statistics.mean(exch) if exch else 0.0, "count")

    ing = w.ingest if isinstance(w, DeltaIngest) else w.sweep_ingest
    prog = ing.progress if ing else []

    def med(values) -> float:
        values = list(values)
        return float(statistics.median(values)) if values else 0.0

    for metric, key in (
        ("edge_stream.trigger_ms", "triggerExecution"),
        ("edge_stream.add_batch_ms", "addBatch"),
        ("edge_stream.wal_commit_ms", "walCommit"),
    ):
        m[metric] = (med(p.get("durationMs", {}).get(key, 0) for p in prog), "ms")
    m["edge_stream.input_rows"] = (med(p.get("numInputRows", 0) for p in prog), "count")
    m["edge_stream.table_files"] = (ing.table_files if ing else 0, "count")

    for query in ALL_QUERIES:
        spans = tracer.find(query)
        m[f"{query}.s"] = (med(s.seconds for s in spans), "s")
        for k in COUNTERS:
            m[f"{query}.{k}"] = (med(s.counters.get(k, 0) for s in spans), "count")
    return m

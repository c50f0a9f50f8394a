"""Link-graph benchmark: one workload, one seed, one driver process.

    python3 perfbench/run.py --workload cooc-dense --seed 1 --seconds 28 --trace 0

Workloads: ``cooc-dense``, ``delta-ingest`` and ``chain-deep`` (see
``workloads``; the first two are the ones ``BENCHMARK.json`` lists). The
run

1. starts Spark at ``local[<usable cores>]`` with the driver memory, the
   JIT mode and the codegen cache pinned (``DRIVER_MEMORY``, ``JIT_MODE``,
   ``CODEGEN_CACHE_ENTRIES``), the package on
   the Python workers' path, and every scratch file (Spark local dirs,
   JVM and Python temp files, the inputs, the stream checkpoint and
   tables) under ``.perfbench/runs/<run id>/`` at the repository root,
   removed when the run ends;
2. sets up: writes the seeded inputs and builds + materializes the edge
   table ``SETUP_REPS`` times, then warms the JIT and codegen up with one
   untimed pass over the same table (``Workload.warmup``);
3. with ``--trace 0`` repeats the workload's pass for about ``--seconds``
   (see ``measure``) and reports the end-to-end metrics:
   ``setup_s`` (process start to the end of set-up, with the repeated
   materialization counted as its median) and ``total_s`` (median over
   the passes of a pass's wall time with host steal factored out, see
   ``steal_adjusted``);
4. with ``--trace 1`` runs one traced pass and the per-layer sweep and
   reports the per-layer metrics; spans are written to
   ``.perfbench/spans/<run id>.jsonl``;
5. checks every operation against its oracle after the measured window.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before
it is a human-readable summary with the per-query medians and the error
rate. The exit code is 0 when the run completed (check ``correct``) and
non-zero when it could not run at all (e.g. the package is missing).
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "paralleltrianglecounting_spark"
# pinned explicitly: the package default (16g) exceeds what a 15 GB host
# can give one benchmark process
DRIVER_MEMORY = "4g"
# C1-only JIT. With the default tiered C2, compiling Spark's hot paths
# runs for several passes on a 4-core host: a cooc-dense pass fell from
# 22 s to 16.5 s over four passes while C2 threads took a third of the
# CPU, and first-pass times spread ~20% run to run. Under C1 passes stop
# speeding up after the one warm-up pass a run with set-up can afford
# (they still differ from pass to pass, see README).
JIT_MODE = "-XX:TieredStopAtLevel=1"
# Spark's cache of generated code, pinned above the default 100 entries.
# At the default a cooc-dense pass compiles ~230 generated classes, every
# pass again, and the JIT compiles the new classes while the tasks run:
# the same query took 2.7-4.6 s within one run. With room for them a
# pass after the warm-up compiles ~10.
CODEGEN_CACHE_ENTRIES = 5000
# HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
NO_PERF_DATA = "-XX:-UsePerfData"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate CPU line. Pass times
    on a shared host track hypervisor steal closely, so the summary line
    reports it per pass."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def pin_environment(work: str, cores: int) -> None:
    """Everything the JVM and its Python workers inherit; must run before
    the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["TMPDIR"] = tmp
    # the spark-submit launcher is a JVM of its own
    launcher = os.environ.get("SPARK_LAUNCHER_OPTS")
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_DATA + (" " + launcher if launcher else "")


def start_spark(work: str, cores: int):
    from paralleltrianglecounting_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {NO_PERF_DATA} {JIT_MODE}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        },
    )


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM (which takes its Python
    workers with it), and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(w, rec, seconds: float) -> tuple[list[float], list[float]]:
    """Repeat the workload's pass for about ``seconds``: a pass starts
    while it is expected to end less than half a pass after the window
    (the window holds the nearest whole number of passes, at least one),
    so a run's length does not depend on where its last pass falls.
    Returns each pass's wall time and host steal share (%)."""
    passes, steals = [], []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 + passes[-1] / 2 <= seconds:
        t, c = time.perf_counter(), cpu_ticks()
        w.run_pass(rec)
        passes.append(time.perf_counter() - t)
        c1 = cpu_ticks()
        steals.append(100 * (c1[0] - c[0]) / max(c1[1] - c[1], 1))
    return passes, steals


def steal_adjusted(wall_s: float, steal_pct: float, cores: int) -> float:
    """Pass time with hypervisor steal factored out: ``wall / (1 + cores *
    steal share)``. Spark's stages are barrier-synchronous across the
    cores, so time stolen from any one vCPU delays the whole stage; on
    this host a pass's wall time fits ``T0 * (1 + cores * steal)`` across
    steal shares of 0.3-19%, and the adjusted time of ten cooc-dense runs
    spread 3% where their wall times spread 27%. Equal to the wall time
    where the hypervisor steals nothing."""
    return wall_s / (1.0 + cores * steal_pct / 100.0)


def trace(w, rec, spark, run_id: str) -> tuple[dict, float]:
    """One traced pass, every query the workload does not run itself, and
    the layer sweep; returns the per-layer metrics and the pass time."""
    from perfbench import workloads as W
    from perfbench.trace import NullTracer, Tracer, traced_layers

    tracer = Tracer(spark.sparkContext, run_id)
    w.ctx.tracer = rec.tracer = tracer
    with traced_layers(tracer):
        t = time.perf_counter()
        w.run_pass(rec)
        pass_s = time.perf_counter() - t
        for q in W.ALL_QUERIES:
            if q not in w.queries:
                w.run_query(rec, q)
        W.layer_sweep(w, rec)
    w.ctx.tracer = rec.tracer = NullTracer()
    metrics = W.layer_metrics(w, rec, tracer)
    # tracing overhead = trace.total_s minus the untraced total_s;
    # bookkeeping is the part spent in the tracer's own Spark calls
    metrics["trace.total_s"] = (pass_s, "s")
    metrics["trace.bookkeeping_s"] = (tracer.bookkeeping_s, "s")
    metrics["session.peak_rss_mb"] = (
        vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + vm_hwm_mb(os.getpid()),
        "MB",
    )
    spans_dir = os.path.join(ROOT, ".perfbench", "spans")
    os.makedirs(spans_dir, exist_ok=True)
    tracer.dump(os.path.join(spans_dir, f"{run_id}.jsonl"))
    return metrics, pass_s


def run(args: argparse.Namespace, work: str, run_id: str, cores: int) -> tuple[dict, str]:
    from perfbench import workloads as W
    from perfbench.trace import NullTracer

    spark = start_spark(work, cores)
    try:
        session_s = time.monotonic() - T_START
        w = W.WORKLOADS[args.workload](W.Ctx(spark, work, args.seed, cores, NullTracer()))
        mat_s, build_s, n_edges = W.materialize(w)
        # before the warm-up pass, whose queries read the oracle edges;
        # not part of set-up
        w.derive_oracle_edges()
        t = time.perf_counter()
        w.warmup()
        warm_s = time.perf_counter() - t
        setup_s = session_s + mat_s + warm_s

        rec = W.Recorder(NullTracer())
        rec.defer("sources", lambda: [] if n_edges == len(w.oracle_edges) else [
            f"sources: {n_edges} edges, oracle {len(w.oracle_edges)}"])
        full = w.full_expect if isinstance(w, W.DeltaIngest) else w.expect
        if not isinstance(w, W.ChainDeep):
            # relabelling preserves the tier's triangle count: a drift here
            # is a generator or oracle fault, not the program's
            rec.defer("oracle", lambda: [] if full.triangles == W.COOC_TRIANGLES else [
                f"oracle: {full.triangles} triangles, tier constant {W.COOC_TRIANGLES}"])

        if args.trace:
            metrics, pass_s = trace(w, rec, spark, run_id)
            passes, steals = [pass_s], []
            metrics["session.start_s"] = (session_s, "s")
            metrics["sources.edge_build_s"] = (build_s, "s")
            metrics["sources.edges"] = (n_edges, "count")
        else:
            passes, steals = measure(w, rec, args.seconds)
            total = statistics.median(
                steal_adjusted(p, st, cores) for p, st in zip(passes, steals)
            )
            metrics = {"setup_s": (setup_s, "s"), "total_s": (total, "s")}
        rec.verify()
    finally:
        stop_spark(spark)

    queries = {q: statistics.median(v) for q, v in rec.times.items() if q in W.ALL_QUERIES}
    summary = " ".join(
        [f"perfbench: workload={args.workload} seed={args.seed} trace={args.trace}",
         f"cores={cores} driver_memory={DRIVER_MEMORY} passes={len(passes)}",
         f"session_s={session_s:.2f}s materialize_s={mat_s:.2f}s warmup_s={warm_s:.2f}s",
         "pass_s=" + ",".join(f"{p:.2f}" for p in passes),
         "pass_steal=" + ",".join(f"{c:.1f}%" for c in steals)]
        + [f"{q}_s={v:.4f}s" for q, v in queries.items()]
        + [f"error_rate={rec.failed / max(rec.attempted, 1):.4f} ({rec.failed}/{rec.attempted})"]
    )
    for err in rec.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    result = {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, summary


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a TERM (e.g. from `timeout`) unwinds through the finally blocks, so
    # the JVM is stopped and waited for and the scratch dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cores = usable_cores()
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "runs", run_id)
    os.makedirs(work)
    try:
        pin_environment(work, cores)
        result, summary = run(args, work, run_id, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(summary)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

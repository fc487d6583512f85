#!/usr/bin/env python3
"""cinespark benchmark: run one workload, check every result, print the
metrics.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 10 --trace 0

It runs from any working directory. One process drives the engine on
``local[4]`` with one client thread. A run:

1. times a fixed CPU kernel (the drift probe);
2. set-up: starts Spark while another thread generates the seeded
   inputs and computes the expected answers, builds any serving state and runs the workload's
   warm-up operations once, untimed (all of this is ``setup_s``);
3. runs as many whole passes of the workload as fit in ``--seconds``
   (at least one), checking every result (``--trace 1`` runs this
   untraced phase and then replays the same passes traced);
4. stops Spark, times the drift kernel again and prints a summary, then
   one JSON object as the last line of stdout.

With ``--trace 0`` the JSON carries the end-to-end metrics, with
``--trace 1`` the per-layer ones. Every file it writes stays under
``.perfbench/`` at the repository root. See perfbench/README.md for
the workloads, metrics and which layer should move which metric.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import copy
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads  # noqa: E402
from probes import (  # noqa: E402
    StreamStats,
    Tracer,
    drift_kernel_s,
    host_ticks,
    median,
    percentile,
    retained,
    spark_counters,
    steal_share,
    tree_cpu_s,
)

#: a run whose closing drift-kernel time differs from its opening one by
#: more than this factor ran on a machine that changed speed under it
DRIFT_LIMIT = 1.25


class Phase:
    """What one timed phase measured."""

    def __init__(self):
        self.samples: list[tuple[str, bool, float, bool]] = []  # kind, write, s, ok
        self.passes = 0
        self.pass_walls: list[float] = []
        self.wall = self.cpu = self.jit = self.steal = 0.0
        self.since_ms = 0

    @property
    def failed(self) -> int:
        return sum(1 for s in self.samples if not s[3])


def run_op(spark, op) -> tuple[float, bool]:
    """Run one operation, tagging its Spark jobs with its kind. A crash
    or a wrong answer counts as a failed operation, never aborts."""
    sc = spark.sparkContext
    sc.setJobGroup(op.kind, op.kind)
    t0 = time.perf_counter()
    try:
        result = op.run()
        secs = time.perf_counter() - t0
        ok = bool(op.check(result))
        if not ok:
            print(f"# WRONG {op.kind}", file=sys.stderr)
    except Exception:  # every engine error is one failed operation
        secs = time.perf_counter() - t0
        ok = False
        print(f"# FAILED {op.kind}", file=sys.stderr)
        traceback.print_exc()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return secs, ok


def warm_up(spark, wl) -> Phase:
    """Run the first operation of each warm-up kind in pass 0, untimed,
    spread over ``wl.warm_threads`` threads. Each extra thread drives a
    copy of the workload on a session of its own, since the engine
    scopes SQL confs per session; only a workload whose operations share
    no state may ask for more than one."""
    n = wl.warm_threads

    def share(i: int) -> list[tuple[str, bool, float, bool]]:
        w = wl
        if i > 0:
            w = copy.copy(wl)
            w.spark = spark.newSession()
        ops, seen = [], set()
        for op in w.pass_ops(0):
            if op.kind not in seen and (w.warm_kinds is None
                                        or op.kind in w.warm_kinds):
                seen.add(op.kind)
                ops.append(op)
        return [(op.kind, op.write, *run_op(w.spark, op))
                for op in ops[i::n]]

    ph = Phase()
    with concurrent.futures.ThreadPoolExecutor(n) as ex:
        for samples in ex.map(share, range(n)):
            ph.samples.extend(samples)
    return ph


def measure(spark, wl, seconds: float, first_pass: int,
            on_op=None) -> Phase:
    """Run as many whole passes as fit in ``seconds``, at least one: the
    next pass starts only if one more pass of the mean length so far
    still ends in time."""
    ph = Phase()
    ph.since_ms = int(time.time() * 1000)
    (cpu0, jit0), ticks0 = tree_cpu_s(os.getpid()), host_ticks()
    t0 = time.perf_counter()
    while True:
        t_pass = time.perf_counter()
        for op in wl.pass_ops(first_pass + ph.passes):
            secs, ok = run_op(spark, op)
            ph.samples.append((op.kind, op.write, secs, ok))
            if on_op is not None:
                on_op(op)
        ph.passes += 1
        ph.pass_walls.append(time.perf_counter() - t_pass)
        elapsed = time.perf_counter() - t0
        if elapsed + elapsed / ph.passes > seconds:
            break
    ph.wall = time.perf_counter() - t0
    cpu1, jit1 = tree_cpu_s(os.getpid())
    ph.cpu, ph.jit = cpu1 - cpu0, jit1 - jit0
    ph.steal = steal_share(ticks0, host_ticks())
    return ph


def end_to_end(ph: Phase, setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "cpu_s": (ph.cpu / ph.passes, "s"),
    }


def pass_time(ph: Phase) -> dict:
    """Wall time and JIT compile time per pass of a timed phase."""
    return {
        "wall_s": (ph.wall / ph.passes, "s"),
        "jvm.jit_cpu_s": (ph.jit / ph.passes, "s"),
    }


def read_write_split(ph: Phase) -> dict:
    """Latency of the client's reads and writes, with sample counts."""
    reads = [s[2] for s in ph.samples if not s[1]]
    writes = [s[2] for s in ph.samples if s[1]]
    return {
        "client.read_p50_ms": (median(reads) * 1e3, "ms"),
        "client.read_p90_ms": (percentile(reads, 90) * 1e3, "ms"),
        "client.write_p50_ms": (median(writes) * 1e3, "ms"),
        "client.reads": (len(reads), "count"),
        "client.writes": (len(writes), "count"),
    }


class ResolveTimer:
    """Times every call into ``serving_io.resolve_generation`` while
    installed. The engine imports that function at call time, so
    swapping the module attribute reaches every reader."""

    def __init__(self):
        from cinegraph_spark.operators import serving_io

        self.module, self.orig, self.times = (
            serving_io, serving_io.resolve_generation, [])

    def __enter__(self):
        orig, times = self.orig, self.times

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                times.append(time.perf_counter() - t0)
        self.module.resolve_generation = timed
        return self

    def __exit__(self, *exc):
        self.module.resolve_generation = self.orig
        return False


def per_layer(spark, ph: Phase, untraced: Phase, tracer, setup_tracer,
              listener, resolve: list[float]) -> dict:
    p = ph.passes
    c = spark_counters(spark, ph.since_ms)
    held = retained(spark)
    batches = [b for b in listener.batches if b["wall_ms"] >= ph.since_ms]

    def ms(name):
        return (median(tracer.durations(name)) * 1e3, "ms")

    def setup_s(name):
        return (sum(setup_tracer.durations(name)), "s")

    return {
        "queries.build_s": (sum(tracer.durations("queries.build")) / p, "s"),
        "queries.exec_s": (sum(tracer.durations("queries.exec")) / p, "s"),
        "spark.jobs": (c["jobs"] / p, "count"),
        "spark.stages": (c["stages"] / p, "count"),
        "spark.tasks": (c["tasks"] / p, "count"),
        "spark.shuffle_write_mb": (c["shuffle_write_mb"] / p, "MB"),
        "spark.spill_mb": (c["spill_mb"] / p, "MB"),
        "spark.gc_s": (c["gc_s"] / p, "s"),
        "spark.executor_cpu_s": (c["executor_cpu_s"] / p, "s"),
        "streaming.batches": (len(batches) / p, "count"),
        "streaming.batch_p50_ms": (
            median([b["trigger_ms"] for b in batches]), "ms"),
        "streaming.addbatch_s": (
            sum(b["addbatch_ms"] for b in batches) / 1e3 / p, "s"),
        "streaming.commit_s": (
            sum(b["commit_ms"] for b in batches) / 1e3 / p, "s"),
        "streaming.state_rows_max": (
            max([b["state_rows"] for b in batches], default=0), "count"),
        "streaming.jobs_per_batch": (
            c["stream_jobs"] / len(batches) if batches else 0.0, "count"),
        "hnsw.knn_ms": ms("hnsw.knn"),
        "similarity.ivf_topk_ms": ms("similarity.ivf_topk"),
        "similarity.pq_topk_ms": ms("similarity.pq_topk"),
        "graph_build.children_ms": ms("graph_build.children"),
        "serving_io.resolve_ms": (median(resolve) * 1e3, "ms"),
        "hnsw.update_ms": ms("hnsw.update"),
        "maintenance.upsert_ms": ms("maintenance.upsert"),
        "maintenance.dv_delete_ms": ms("maintenance.dv_delete"),
        "session.start_s": setup_s("session.start"),
        "session.warmup_s": setup_s("session.warmup"),
        "pipeline.build_s": setup_s("pipeline.build"),
        "clustering.tree_s": setup_s("clustering.tree"),
        "hnsw.save_s": setup_s("hnsw.save"),
        "storage.retained_rdds": (held[0], "count"),
        "storage.retained_mb": (held[1], "MB"),
        # the same passes run untraced and then traced: the wall
        # difference is within the run-to-run noise of wall_s, the CPU
        # ratio shows the tracer's own cost more steadily
        "trace.overhead_s": (ph.wall / p - untraced.wall / untraced.passes,
                             "s"),
        "trace.overhead_cpu_frac": (
            (ph.cpu / p) / (untraced.cpu / untraced.passes) - 1, "ratio"),
        "calib.steal_frac": (ph.steal, "ratio"),
    }


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(root, "cinegraph_spark", "__init__.py")):
        print(f"perfbench: {root} holds no cinegraph_spark/; perfbench/ "
              "must sit at the root of a repository checkout", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    kernel_start = drift_kernel_s()
    t_start = time.perf_counter()

    # Everything the run writes stays under .perfbench/: Spark's local
    # dirs, the JVM's and Python's temp files, the engine's scratch dirs.
    work = os.path.join(root, ".perfbench")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark"),
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp;
        # a fixed set of JIT compiler threads, whose CPU cpu_s leaves out
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                             "-XX:-UseDynamicNumberOfCompilerThreads",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        # the Python workers import cinegraph_spark from the checkout
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    })
    tempfile.tempdir = tmp
    sys.path.insert(0, root)

    from cinegraph_spark.session import get_spark

    # the inputs and expected answers need no Spark: make them while the
    # JVM starts
    wl = workloads.WORKLOADS[args.workload]()
    pool = concurrent.futures.ThreadPoolExecutor(1)
    prepared = pool.submit(wl.prepare, os.path.join(work, "data"), args.seed)
    pool.shutdown(wait=False)
    setup_tracer = Tracer(True)
    with setup_tracer.span("session.start"):
        spark = get_spark(app_name="perfbench", master="local[4]",
                          shuffle_partitions=4)
        spark.sparkContext.setLogLevel("ERROR")
    try:
        with setup_tracer.span("inputs.wait"):
            prepared.result()
        tracer = Tracer(False)
        wl.setup(spark, setup_tracer)
        wl.tracer = tracer
        with setup_tracer.span("session.warmup"):
            warm = warm_up(spark, wl)
        setup_s = time.perf_counter() - t_start

        main_ph = measure(spark, wl, args.seconds, first_pass=1)
        phases = [warm, main_ph]
        e2e = end_to_end(main_ph, setup_s)
        held = retained(spark)
        layers = {}
        if args.trace:
            listener = StreamStats()
            spark.streams.addListener(listener)
            tracer.enabled = True
            retained_by_kind: dict[str, int] = {}

            def after_op(op):
                retained_by_kind[op.kind] = retained(spark)[0]
            with ResolveTimer() as rt:
                traced = measure(spark, wl, args.seconds, first_pass=1,
                                 on_op=after_op)
            phases.append(traced)
            layers = per_layer(spark, traced, main_ph, tracer, setup_tracer,
                               listener, rt.times)
            layers.update(pass_time(main_ph))
            layers.update(read_write_split(main_ph))
            with open(os.path.join(work, f"trace-{args.workload}.json"),
                      "w") as fh:
                json.dump({"setup_spans": setup_tracer.spans,
                           "spans": tracer.spans,
                           "retained_rdds_after": retained_by_kind,
                           "streaming_batches": listener.batches}, fh)
    except Exception:
        traceback.print_exc()
        print("perfbench: run failed; no result", file=sys.stderr)
        stop_spark(spark)
        return 1
    stop_spark(spark)
    shutil.rmtree(os.path.join(work, "data"), ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)

    kernel_end = drift_kernel_s()
    ratio = kernel_end / kernel_start
    drifted = not (1 / DRIFT_LIMIT <= ratio <= DRIFT_LIMIT)
    attempted = sum(len(ph.samples) for ph in phases)
    failed = sum(ph.failed for ph in phases)

    if args.trace:
        layers["calib.kernel_start_s"] = (kernel_start, "s")
        layers["calib.kernel_end_s"] = (kernel_end, "s")
    shown = dict(e2e)
    shown.update(pass_time(main_ph))
    shown["failed_frac"] = (failed / attempted, "ratio")
    shown["ops_per_s"] = (len(main_ph.samples) / main_ph.wall, "1/s")
    shown["op_p50_ms"] = (median([x[2] for x in main_ph.samples]) * 1e3, "ms")
    shown["retained_rdds"] = (held[0], "count")
    shown["retained_mb"] = (held[1], "MB")
    if args.trace:
        shown.update(layers)
    elif any(s[1] for s in main_ph.samples):
        shown.update(read_write_split(main_ph))
    for name, (value, unit) in shown.items():
        print(f"# {args.workload} {name} = {value:.6g} {unit}")
    for span in setup_tracer.spans:
        print(f"# {args.workload} setup {span['name']}: "
              f"{span['end'] - span['start']:.3f} s")
    by_kind: dict[str, list[float]] = {}
    for kind, _, secs, _ in main_ph.samples:
        by_kind.setdefault(kind, []).append(secs)
    for kind, secs in by_kind.items():
        print(f"# {args.workload} op {kind}: n={len(secs)} "
              f"median={median(secs) * 1e3:.1f} ms")
    print(f"# {args.workload} samples={len(main_ph.samples)} "
          f"passes={main_ph.passes} drift_ratio={ratio:.3f} "
          f"steal={main_ph.steal:.3f} pass_walls="
          + ",".join(f"{w:.2f}" for w in main_ph.pass_walls)
          + (" DRIFTED" if drifted else ""))
    metrics = layers if args.trace else e2e
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = {m["name"] for m in json.load(fh)[
            "per_layer" if args.trace else "end_to_end"]}
    if declared != set(metrics):
        print(f"perfbench: metrics differ from BENCHMARK.json: "
              f"{sorted(declared ^ set(metrics))}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

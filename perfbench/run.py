"""Benchmark harness: one workload, one seed, one process on local[nproc].

    python3 perfbench/run.py --workload export --seed 1 --seconds 15 --trace 0

Run from the repository root. Prints a human-readable report, then as the
last line one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``. Exits 1 when an operation
failed or returned a wrong answer, 2 when the program is not there.
See perfbench/README.md for the workloads, metrics and layer map.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")

#: end-to-end metrics (tracing off): name -> unit
E2E = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "first_output_s": "s",
    "recall": "ratio",
}

#: spans of the traced run; each reports SPAN_QUANTITIES
SPANS = [
    "session.get_spark",
    "session.warmup",
    "sources.registry.load_table",
    "operators.xmlpipe.write_docset_stream",
    "operators.xmlpipe.write_docset_scale",
    "operators.xmlpipe.with_doc_id",
    "operators.xmlpipe.xml_documents",
    "dedup_cli.main",
    "operators.dedup.shingle_hash_sets",
    "operators.dedup.minhash_signatures",
    "operators.dedup.minhash_lsh_pairs_collapsed",
    "operators.dedup.connected_components",
    "operators.dedup.minhash_groups_collapsed",
    "operators.dedup.unpersist_intermediates",
    "similarity_cli.main",
    "operators.similarity.brute_force_topk",
    "operators.similarity.topk_matmul",
]
SPAN_QUANTITIES = {"s": "s", "self_s": "s", "jobs": "count", "tasks": "count", "failed_tasks": "count"}
#: further per-layer quantities: name -> unit
LAYER_EXTRA = {
    "operators.xmlpipe.write_docset_stream.wait_s": "s",
    "operators.xmlpipe.write_docset_stream.sink_s": "s",
    "operators.xmlpipe.write_docset_stream.ttfd_s": "s",
    "operators.xmlpipe.write_docset_stream.util": "ratio",
    "operators.xmlpipe.xml_documents.bytes_out": "bytes",
    "operators.xmlpipe.write_docset_scale.util": "ratio",
    "operators.xmlpipe.write_docset_scale.files": "count",
    "operators.xmlpipe.write_docset_scale.bytes": "bytes",
    "sources.registry.load_table.rows": "count",
    "sources.registry.load_table.partitions": "count",
    "operators.dedup.minhash_lsh_pairs_collapsed.pairs": "count",
    "operators.dedup.minhash_lsh_pairs_collapsed.precision": "ratio",
    "session.jvm_peak_rss_mb": "MB",
    "session.driver_peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
    "run.ops": "count",
    "run.op_tail_pct": "%",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{span}.{q}": u for span in SPANS for q, u in SPAN_QUANTITIES.items()}
    units.update(LAYER_EXTRA)
    return units


def tail(values: list[float]) -> tuple[int, float]:
    """(percentile, value): the highest nearest-rank percentile that leaves
    at least ten samples above it, and never below the median."""
    n = len(values)
    if n < 20:
        return 50, statistics.median(values)
    pct = math.floor(100 * (n - 10) / n)
    return pct, sorted(values)[math.ceil(pct * n / 100) - 1]


def pin_environment(work: str) -> dict[str, str]:
    """Environment for the session and its Python workers, sized to this host."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    pins = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # a small share of the host: the inputs are tens of MB
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, min(4096, mem_mb // 8))}m",
        # Python workers import the program's UDF modules from here
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    os.makedirs(pins["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(pins["TMPDIR"], exist_ok=True)
    os.environ.update(pins)
    return pins


def peak_rss_mb(spark) -> tuple[float, float]:
    """(JVM, Python driver) peak resident set size in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm = 0.0
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024
    return jvm, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str, pins: dict[str, str]) -> dict:
    import workloads
    from spans import Span, Tracer, span_metrics

    t_run = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](args.seed, work)
    print(f"inputs generated in {time.perf_counter() - t_run:.2f} s", flush=True)

    from cql_xmlpipe_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={pins['TMPDIR']}",
        },
    )
    t_session = time.perf_counter()
    tracer = Tracer(spark) if args.trace else None
    attempted = failed = 0

    def attempt(i: int, traced: bool):
        nonlocal attempted, failed
        attempted += 1
        t = time.perf_counter()
        if traced:
            tracer.trace_id = f"op-{i}"
            wl.wrap(tracer)
        try:
            op = wl.op(spark, i)
        except Exception:
            traceback.print_exc()
            op = None
        finally:
            if traced:
                tracer.unwrap_all()
        if op is None or op.errors:
            failed += 1
            for e in (op.errors if op else [])[:5]:
                print(f"WRONG {args.workload} op {i}: {e}", file=sys.stderr)
            return None, time.perf_counter() - t
        if traced:
            annotate = getattr(wl, "annotate", None)
            if annotate:
                annotate(tracer, op)
        return op, op.latency

    try:
        if tracer:
            tracer.spans.append(Span("session.get_spark", 0, None, "setup", t0, t_session))
            warm = tracer.span("session.warmup")
        else:
            warm = contextlib.nullcontext()
        # set-up is the session start plus the warm-up ops, without the
        # oracle time the benchmark spends between them
        setup_s = t_session - t0
        with warm:
            for i in range(wl.warmup_ops):
                spent = attempt(i, traced=False)[1]
                print(f"warm-up op {i}: {spent:.3f} s", flush=True)
                setup_s += spent
        print(f"setup {setup_s:.3f} s (session {t_session - t0:.3f} s)", flush=True)

        ops, traced_lat, plain_lat = [], [], []
        busy, i = 0.0, wl.warmup_ops
        # op time, not wall time, fills the window, so the oracles' time
        # between ops does not change how many ops a run measures; a
        # traced run needs at least one traced and one untraced op
        while (busy < args.seconds or (tracer and not (traced_lat and plain_lat))) \
                and time.perf_counter() - t_run < 140:
            # U T T U U T …: op order (warm-up drift) biases neither side
            traced = tracer is not None and (i - wl.warmup_ops) % 4 in (1, 2)
            op, spent = attempt(i, traced)
            busy += spent
            if op is not None:
                ops.append(op)
                (traced_lat if traced else plain_lat).append(op.latency)
            i += 1
        print(f"measured {len(ops)} ops in {busy:.2f} s of op time: "
              + " ".join(f"{o.latency:.3f}" for o in ops), flush=True)

        report = {"attempted": attempted, "failed": failed}
        if not ops:
            report["metrics"] = {}
            return report
        lat = [o.latency for o in ops]
        pct, tail_v = tail(lat)
        e2e = {
            "setup_s": setup_s,
            "items_per_s": statistics.median(o.items / o.items_s for o in ops),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_v,
            "first_output_s": statistics.median(o.first_output for o in ops),
            "recall": statistics.median(o.recall for o in ops),
        }
        for name, v in e2e.items():
            print(f"  {name:<16} {v:>14.6f} {E2E[name]}")
        print(f"  op_tail_s is p{pct} of {len(lat)} ops; error_rate {failed / attempted:.6f} ({failed}/{attempted})")

        if tracer is None:
            report["metrics"] = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
            return report

        tracer.trace_id = "probe"
        wl.probe(spark, tracer)
        tracer.resolve_jobs()
        layer = {}
        trace_ids = sorted({s.trace_id for s in tracer.spans})
        for name, qs in span_metrics(tracer.spans, trace_ids, int(pins["SPARK_GRAFT_CPUS"])).items():
            for q, v in qs.items():
                layer[f"{name}.{q}"] = v
        from cql_xmlpipe_spark.sources import registry

        df = registry.load_table(spark, wl.table, wl.data)
        layer["sources.registry.load_table.rows"] = df.count()
        layer["sources.registry.load_table.partitions"] = df.rdd.getNumPartitions()
        layer["session.jvm_peak_rss_mb"], layer["session.driver_peak_rss_mb"] = peak_rss_mb(spark)
        if traced_lat and plain_lat:
            over = statistics.median(traced_lat) - statistics.median(plain_lat)
            layer["trace.overhead_s"] = over
            layer["trace.overhead_share"] = over / statistics.median(plain_lat)
        layer["run.ops"] = len(ops)
        layer["run.op_tail_pct"] = pct
        units = per_layer_units()
        report["metrics"] = {k: {"value": layer.get(k, 0), "unit": u} for k, u in units.items()}
        print(f"  tracing overhead {layer.get('trace.overhead_s', 0):.4f} s per op "
              f"({len(traced_lat)} traced / {len(plain_lat)} untraced ops)")
        os.makedirs(OUT, exist_ok=True)
        trace_path = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.jsonl")
        tracer.dump(trace_path)
        print(f"spans written to {os.path.relpath(trace_path, ROOT)}")
        return report
    finally:
        stop_session(spark)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["export", "dedup", "search"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10, help="op time to measure")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cql_xmlpipe_spark")):
        print(f"perfbench: no cql_xmlpipe_spark/ package in {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(OUT, f"work-{os.getpid()}")
    pins = pin_environment(work)
    for k in sorted(pins):
        print(f"env {k}={pins[k]}")
    try:
        report = run(args, work, pins)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    correct = report["failed"] == 0 and bool(report["metrics"])
    print(json.dumps({"correct": correct, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": report["metrics"]}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

"""RAG end-to-end benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload build --seed 1 --seconds 12 --trace 0

Starts one local Spark session (``local[n]``, n = min(4, usable cores)), makes
the workload's inputs from ``--seed``, prepares it, runs its closed loop
for ``--seconds``, checks every output against the independent
reference in ``verify.py`` and prints one JSON object as the last line
of standard output. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones, and writes the spans to
``.perfbench_run/trace-<workload>-<seed>.json``.

Everything the run writes stays under ``.perfbench_run/`` in the
current directory. Exit code 1 means an output mismatched the
reference (the failing ops are printed to standard error); 2 means the
engine could not be imported or the arguments are wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("build", "ask_large")
OP_KINDS = ("build", "ask", "ivf_ask", "batch", "append")
LAYER_SPANS = {  # metric -> (span name, op kind or None for any, unit factor)
    "pdf.parse_s": ("pdf.parse", None, 1.0),
    "dedup.exact_s": ("dedup.exact", None, 1.0),
    "dedup.minhash_s": ("dedup.minhash", None, 1.0),
    "chunker.chunk_s": ("chunker.chunk", None, 1.0),
    "embedder.embed_s": ("embedder.embed", None, 1.0),
    "embedder.embed_one_ms": ("embedder.embed_one", "ask", 1e3),
    "rag.store_add_s": ("rag.store_add", "build", 1.0),
    "rag.search_ms": ("rag.search", "ask", 1e3),
    # what RagPipeline.ask does itself between the calls it makes:
    # context assembly
    "rag.context_ms": ("ask", "ask", 1e3),
    "rag.answer_ms": ("rag.answer", "ask", 1e3),
    "kmeans.fit_s": ("kmeans.fit", None, 1.0),
    "ann.ivf_assign_s": ("ann.ivf_assign", None, 1.0),
    "ann.ivf_topk_ms": ("ann.ivf_topk", None, 1e3),
    "ann.ivf_append_ms": ("ann.ivf_append", None, 1e3),
    "graph.edges_s": ("graph.edges", None, 1.0),
    "knn.join_s": ("knn.join", None, 1.0),
}
COUNTS = ("pdf.docs", "dedup.pairs", "dedup.planted_found_ratio", "chunker.chunks",
          "ann.list_size_max", "graph.edges")
SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "stage_ms",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _env(work: str, cpus: int) -> None:
    """Keep every file the JVM, Spark and Python workers write inside
    ``work``; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.local.dir={os.path.join(work, 'local')} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                out.append(int(d))
    return out


def _stop(spark) -> None:
    """Stop Spark, then the gateway JVM and anything it started, and
    wait until each process has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    stack, desc = [proc.pid], []
    while stack:
        p = stack.pop()
        kids = _children(p)
        desc += kids
        stack += kids
    gw.shutdown()
    proc.terminate()
    try:
        proc.wait(timeout=20)
    except Exception:
        proc.kill()
        proc.wait(timeout=20)
    deadline = time.time() + 20
    for p in desc:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except OSError:
                pass


def _median_ms(xs: list[float]) -> float:
    return statistics.median(xs) * 1e3 if xs else 0.0


def _tail(xs: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it (the
    median when there are fewer than twenty samples)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[max(len(xs) // 2, len(xs) - 11)]


def end_to_end(run, setup_s: float, build_s: float) -> dict:
    t = run.times
    batch = run.cfg["batch"]
    return {
        "setup_s": (setup_s, "s"),
        "build_s": (build_s, "s"),
        "ask_p50_ms": (_median_ms(t["ask"]), "ms"),
        "ask_ivf_p50_ms": (_median_ms(t["ivf_ask"]), "ms"),
        "batch_qps": (batch / statistics.median(t["batch"]), "1/s"),
        "append_p50_ms": (_median_ms(t["append"]), "ms"),
        "ivf_recall_at_5": (run.recall, "ratio"),
    }


def per_layer(run, tracer, rss: float) -> dict:
    out = {"peak_rss_mb": (rss, "MB")}
    for name, (span, kind, f) in LAYER_SPANS.items():
        xs = tracer.layer_seconds(span, kind)
        out[name] = (statistics.median(xs) * f if xs else 0.0, name.rsplit("_", 1)[1])
    for name in COUNTS:
        out[name] = (run.counts.get(name, 0.0), "ratio" if name.endswith("ratio") else "count")
    ivf = [o for o in tracer.ops if o["kind"] == "ivf_ask"]
    out["ann.rows_scanned_per_result"] = (
        sum(o["input_records"] for o in ivf) / max(run.results, 1), "rows"
    )
    out["catalyst.planning_ms"] = (statistics.median(run.planning) if run.planning else 0.0, "ms")
    for kind in OP_KINDS:
        ops = [o for o in tracer.ops if o["kind"] == kind]
        for c in SPARK_COUNTERS:
            unit = "ms" if c.endswith("_ms") else ("bytes" if c.endswith("bytes") else "count")
            out[f"spark.{c}.{kind}"] = (
                statistics.mean(o[c] for o in ops) if ops else 0.0, unit
            )
    asks = [o for o in tracer.ops if o["kind"] == "ask"]
    out["spark.stage_share.ask"] = (
        statistics.median(o["stage_ms"] / o["wall_ms"] for o in asks) if asks else 0.0, "ratio"
    )
    ratios = [
        statistics.median(run.traced[k]) / statistics.median(run.times[k]) - 1
        for k in OP_KINDS
        if run.traced[k] and run.times[k]
    ]
    out["trace.overhead_pct"] = (100 * statistics.mean(ratios), "%")
    for kind in ("ask", "ivf_ask"):
        xs = run.times[kind] + run.traced[kind]
        out[f"{kind}_tail_ms"] = (_tail(xs) * 1e3, "ms")
    out["failed_op_ratio"] = (len(run.failures) / max(run.attempted, 1), "ratio")
    return out


def _log(t0: float, msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - t0:7.1f}s {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(os.getcwd(), ".perfbench_run")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cpus = min(4, len(os.sched_getaffinity(0)))
    _env(work, cpus)
    sys.path[:0] = [HERE, os.getcwd()]
    try:
        import workloads
        from rag_application_with_vectordb_spark.session import get_spark
    except ImportError as e:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    from tracing import Tracer

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    session_s = time.perf_counter() - t0
    _log(t0, "session started")
    try:
        tracer = Tracer(spark, bool(args.trace))
        run = workloads.Run(spark, tracer, work, args.seed, args.workload)
        run.make_inputs()
        run.build()
        if run.failures:  # nothing can be served from a wrong store
            raise SystemExit(f"perfbench: FAILED {run.failures[0]}")
        run.warm_up()
        # engine time only: input generation and output checks are the
        # benchmark's own work
        build_s = (run.times["build"] or run.traced["build"])[0]
        setup_s = session_s + build_s + run.warm_up_s
        _log(t0, "setup done")
        run.loop(args.seconds, trace=bool(args.trace))
        _log(t0, f"window done: {sum(map(len, run.times.values()))} ops")
        run.recheck()
        _log(t0, "rechecked")
        rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(
            __import__("pyspark").SparkContext._gateway.proc.pid
        )
        if args.trace:
            metrics = per_layer(run, tracer, rss)
            tracer.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = end_to_end(run, setup_s, build_s)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        _log(t0, "stopped")
    for f in run.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not run.failures,
                "attempted": run.attempted,
                "failed": len(run.failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 1 if run.failures else 0


if __name__ == "__main__":
    sys.exit(main())

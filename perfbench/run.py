"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload extract_ingest --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. Inputs are generated from --seed;
the program only sees the generated files. All scratch data, Spark local
dirs, temp files and the event log live under .perfbench/ in the checkout.
The last stdout line is the result:
{"correct": bool, "attempted": n, "failed": n, "metrics": {name: {value, unit}}}
With --trace 0 it holds the end-to-end metrics; with --trace 1 the per-layer
metrics of a traced run (event log on, job groups set around every call).
Earlier stdout lines carry one JSON record per timed op (with the steal share
and load average of its interval) and a summary.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {"setup_s": "s", "op_s_p50": "s", "docs_per_s": "docs/s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "session.first_job_s": "s", "session.first_python_s": "s",
    "pipeline.jobs": "count", "pipeline.stages": "count", "pipeline.tasks": "count",
    "pipeline.driver_gap_s": "s", "pipeline.core_busy_frac": "ratio",
    "extract.kernel_s": "s",
    **{f"extract.section.{s}_ms": "ms" for s in (
        "setup_dispatch", "bytes_decode", "text_markdown", "paged", "sheet", "html", "finalize")},
    "extract.exec_cpu_s": "s", "extract.gc_s": "s",
    "io.write_s": "s", "io.output_mb": "MB", "io.files_written": "count", "io.commit_s": "s",
    "dedup.lsh_s": "s", "dedup.verify_s": "s", "dedup.jobs": "count",
    "dedup.shuffle_write_mb": "MB", "dedup.spill_mb": "MB",
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio", "dedup.buckets_capped": "count",
    "skew.materialize_jobs": "count", "skew.probe_jobs": "count",
    "dedup.core_busy_frac": "ratio", "dedup.driver_gap_s": "s",
    "incremental.round_jobs": "count", "incremental.read_job_s": "s",
    "incremental.append_job_s": "s", "incremental.state_files": "count",
    "incremental.state_mb": "MB", "incremental.delta_candidates": "count",
    "trace.op_s_p50": "s",
}

# Driver heap, pinned and pre-touched: with the program's 16g default the
# heap grows at the collector's whim and peak RSS read 2.1 or 3.7 GB on
# runs of one workload; a fixed committed heap makes RSS track what the run
# holds off-heap and in the Python workers.
DRIVER_HEAP = "2g"
# Task cores. One core is left to the driver JVM (GC, JIT, scheduling) and
# this process: with every core running tasks, extract_ingest op medians over
# five seeds spread ~14 % on a 4-core VM, against ~8 % on 3 task cores.
CORES = min(3, max(1, len(os.sched_getaffinity(0)) - 1))
LSH_SPANS = ("dedup.minhash_banded_frame", "incremental.delta_candidate_pairs")
VERIFY_SPANS = ("dedup.jaccard_verify",)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="timed op time to accumulate (and at least the workload's MIN_OPS ops)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiplies every input size (the benchmark's own tests use a small one)")
    return p.parse_args(argv)


def isolate(work: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside `work`; returns
    the Spark conf doing the JVM side."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # local-mode Python workers inherit the driver's environment
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit (its Python
    workers are stopped by the JVM)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def span_metrics(prof, ops: list[int], dedup_workload: bool) -> dict[str, float]:
    """The layer-table entries derived from spans and the event log alone:
    per timed op, then the median over timed ops."""
    from perfbench.trace import median_over

    def over(names, fn, default=0.0):
        def per_op(op):
            spans = prof.named(op, *names)
            return fn(spans) if spans else default
        return median_over(ops, per_op)

    def jobs(*names):
        return over(names, lambda s: len(prof.usage(s).jobs))

    run = ("pipeline.run_extraction",)
    op_span = ("op",) if dedup_workload else ()
    dedup_names = LSH_SPANS + VERIFY_SPANS
    return {
        "pipeline.jobs": jobs(*run),
        "pipeline.stages": over(run, lambda s: len(prof.usage(s).stages)),
        "pipeline.tasks": over(run, lambda s: prof.usage(s).tasks),
        "pipeline.driver_gap_s": over(run, lambda s: prof.driver_gap_s(s[0])),
        "pipeline.core_busy_frac": over(run, lambda s: prof.core_busy_frac(s[0])),
        "io.commit_s": median_over(ops, lambda op: prof.wall(
            op, "io.snapshot_commit", "io.append_lineage")),
        "dedup.lsh_s": median_over(ops, lambda op: prof.wall(op, *LSH_SPANS)),
        "dedup.verify_s": median_over(ops, lambda op: prof.wall(op, *VERIFY_SPANS)),
        "dedup.jobs": jobs(*dedup_names),
        "dedup.shuffle_write_mb": over(dedup_names, lambda s: prof.usage(s).total("shuffle_write_mb")),
        "dedup.spill_mb": over(dedup_names, lambda s: prof.usage(s).total("spill_mb")),
        "skew.materialize_jobs": jobs("skew.materialize"),
        "skew.probe_jobs": jobs("skew.broadcast_build_fits"),
        "dedup.core_busy_frac": over(op_span, lambda s: prof.core_busy_frac(s[0])),
        "dedup.driver_gap_s": over(op_span, lambda s: prof.driver_gap_s(s[0])),
        "incremental.round_jobs": jobs("incremental.round"),
        "incremental.read_job_s": median_over(ops, lambda op: prof.wall(
            op, "incremental.read_signature_state")),
        "incremental.append_job_s": median_over(ops, lambda op: prof.wall(
            op, "incremental.append_signatures")),
    }


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = isolate(work)
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(work, "eventlog"),
                     "spark.eventLog.compress": "false"})
        os.makedirs(conf["spark.eventLog.dir"])

    from ocr_toolkit_spark.session import get_spark
    from perfbench import sysstat, trace
    from perfbench.workloads import WORKLOADS

    ctx = SimpleNamespace(seed=args.seed, scale=args.scale, work=work,
                          spark=None, tracer=trace.Tracer())
    wl = WORKLOADS[args.workload](ctx)
    t_prepare = time.time()
    wl.prepare()

    t_setup = time.time()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      master=f"local[{CORES}]", extra_conf=conf)
    session = {"session.start_s": time.time() - t_setup}
    ctx.spark = spark
    if args.trace:
        ctx.tracer = trace.Tracer(spark.sparkContext)
    samples: list[dict] = []
    errors: dict[int, list[str]] = {}
    try:
        with sysstat.RssSampler(spark.sparkContext._gateway.proc.pid) as rss, ctx.tracer:
            t = time.time()
            spark.range(1).count()
            session["session.first_job_s"] = time.time() - t
            t = time.time()
            spark.range(0, CORES, 1, CORES).mapInArrow(lambda it: it, "id long").collect()
            session["session.first_python_s"] = time.time() - t
            wl.setup()
            setup_s = time.time() - t_setup

            timed, i = 0.0, 0
            while timed < args.seconds or i < wl.MIN_OPS:
                wl.stage(i)
                os.sync()  # earlier ops' dirty pages must not be written back inside this one
                cpu0 = sysstat.cpu_stat()
                ctx.tracer.op = i
                t = time.perf_counter()
                try:
                    with ctx.tracer.span("op"):
                        n_docs, result = wl.op(i)
                    raised = None
                except Exception:
                    n_docs, raised = 0, traceback.format_exc()
                dt = time.perf_counter() - t
                ctx.tracer.op = None
                t = time.perf_counter()
                try:
                    errors[i] = [raised] if raised else wl.check(i, result)
                    if args.trace and not raised:
                        wl.observe(i, result)
                except Exception:
                    errors[i] = [traceback.format_exc()]
                gate_s = time.perf_counter() - t
                sample = {"op": i, "op_s": dt, "docs": n_docs, "ok": not errors[i], "gate_s": gate_s,
                          "steal_pct": sysstat.steal_pct(cpu0, sysstat.cpu_stat()),
                          "load1": sysstat.load1()}
                samples.append(sample)
                print(json.dumps(sample), flush=True)
                timed += dt
                i += 1
            t_finish = time.time()
            for op, errs in wl.finish().items():
                for target in (samples if op is None else [samples[op]]):
                    errors[target["op"]] += errs
            finish_s = time.time() - t_finish
            if args.trace:
                wl.extras()
        peak_rss_mb = rss.peak_bytes / 2**20
    finally:
        stop_session(spark)

    for op, errs in errors.items():
        for e in errs:
            print(f"op {op} failed: {e}", file=sys.stderr)
    ok = [s for s in samples if errors[s["op"]] == []]
    timed_ok = ok or samples
    op_s_p50 = statistics.median(s["op_s"] for s in timed_ok)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "op_samples": len(samples),
                      "ops_ok": len(ok), "op_s": [s["op_s"] for s in samples],
                      "prepare_s": t_setup - t_prepare, "finish_s": finish_s,
                      "wall_s": time.time() - t_prepare}), flush=True)
    if args.trace:
        prof = trace.Profile(ctx.tracer.spans, trace.read_event_log(conf["spark.eventLog.dir"]),
                             CORES)
        ops = [s["op"] for s in samples]
        values = {**dict.fromkeys(PER_LAYER, 0.0), **session,
                  **span_metrics(prof, ops, args.workload.startswith("dedup")),
                  **wl.layer_metrics(prof, ops), "trace.op_s_p50": op_s_p50}
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        ctx.tracer.dump(os.path.join(out_dir, f"{args.workload}-{args.seed}.spans.json"))
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "op_s_p50": op_s_p50,
            "docs_per_s": sum(s["docs"] for s in ok) / sum(s["op_s"] for s in ok) if ok else 0.0,
            "peak_rss_mb": peak_rss_mb,
        }
        units = END_TO_END
    shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": not any(errors.values()),
        "attempted": len(samples),
        "failed": len(samples) - len(ok),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import ocr_toolkit_spark  # noqa: F401  the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

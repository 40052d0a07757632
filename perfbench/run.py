"""Benchmark of the point-in-time feature engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the root of a source checkout (the engine package
``video_features_spark`` must sit beside this directory). Builds a local Spark
session on all cores but one, generates the workload's inputs from ``--seed``,
warms up, then runs operations back to back (a closed loop, one client) while
the next one is expected to end inside ``--seconds``, checks the outputs, and
prints one JSON object as the last line of stdout:

- ``--trace 0``: the end-to-end metrics (``setup_s``, ``step1_s``,
  ``step2_s``, ``items_per_s``);
- ``--trace 1``: the per-layer metrics. The same loop runs, then one more
  operation with span-recording wrappers around the engine's layer functions,
  a layer-by-layer materialisation ladder, and one more untraced operation;
  counts come from the session's own Spark event log.

A detail line (sample counts, raw step times, spans) precedes the result.
Exit status is 0 only when every output check passed. Everything the run
writes lives under ``.perfbench_work/`` in the checkout and is removed at
exit. See NOTES.md for the workloads and the layer -> metric table.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import spans as tr

# parallelism comes from Spark tasks only, and the in-process embed reference
# must round like the engine's single-threaded Python workers: pin BLAS before
# numpy is imported anywhere in this process or its children
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "step1_s": "s",
    "step2_s": "s",
    "items_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.scan_s": "s",
    "sources.scan_tasks": "count",
    "sources.scan_bytes": "B",
    "functions.decode_ms_per_img": "ms",
    "functions.embed_ms_per_img": "ms",
    "functions.pool_images_per_s": "img/s",
    "features.self_s": "s",
    "features.tasks": "count",
    "features.python_init_s": "s",
    "features.python_run_s": "s",
    "features.bytes_to_python": "B",
    "features.bytes_from_python": "B",
    "features.rows_quarantined": "count",
    "features.floor_ratio": "ratio",
    "gate.self_s": "s",
    "plans.build_s": "s",
    "plans.jobs": "count",
    "plans.embed_rows_per_written_row": "ratio",
    "checkpoint.write_s": "s",
    "checkpoint.manifest_s": "s",
    "checkpoint.parts_written": "count",
    "checkpoint.parts_skipped": "count",
    "asof.self_s": "s",
    "asof.shuffle_bytes": "B",
    "asof.task_skew": "ratio",
    "asof.rows_out": "count",
    "windows.self_s": "s",
    "windows.shuffle_bytes": "B",
    "windows.exchanges": "count",
    "windows.task_skew": "ratio",
    "dedup.signatures_s": "s",
    "dedup.candidates_s": "s",
    "dedup.verify_s": "s",
    "dedup.components_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_ratio": "ratio",
    "text.curate_self_s": "s",
    "text.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.spill_bytes": "B",
    "spark.leaked_caches": "count",
    "trace.pipeline_passes": "count",
    "trace.accounted_ratio": "ratio",
    "trace.overhead_s": "s",
}


# operation numbers: warm-up operations count down from -1, timed ones up
# from 1, the traced one is 0 and the untraced one after it is this (a
# pit_job operation writes to an output base of its own number)
AFTER_OP = -100


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    cores: int
    tracer: object
    leaked: list = field(default_factory=list)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(work: str, cores: int, trace: bool):
    from video_features_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's temp files here, and skip its /tmp/hsperfdata file
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={os.path.join(work, 'derby')} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for the JVM to end
    (``main`` reaps whatever else it spawned)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - must not leave the JVM behind
            proc.kill()
            proc.wait()


def run(args, work: str) -> tuple[dict, dict, int]:
    import workloads

    nproc = len(os.sched_getaffinity(0))
    # Spark tasks leave one core to the JVM's compiler and collector threads
    # and this process: on 4 cores, pit_job ran 5-10% faster and spread less
    # on local[3] than on local[4], alternated run by run
    cores = max(nproc - 1, 1)
    tracer = tr.Tracer()
    t0 = time.time()
    spark = start_spark(work, cores, bool(args.trace))
    session_s = time.time() - t0
    ctx = Context(spark, work, args.seed, cores, tracer)
    wl = workloads.WORKLOADS[args.workload](ctx)
    try:
        wl.prepare()
        prepare_s = time.time() - t0 - session_s
        wl.warm()
        ctx.leaked.append(tr.release_caches(spark))
        setup_s = time.time() - t0

        attempted = failed = 0
        ops = []  # (step1_s, step2_s) of each successful operation
        last_op_s = 0.0
        loop_t0 = time.time()
        # start another operation only while it is expected (from the last
        # one) to end inside the window; the first always runs
        while attempted == 0 or (
            ops and time.time() - loop_t0 + last_op_s <= args.seconds
        ):
            attempted += 1
            mark, op_t0 = len(tracer.spans), time.time()
            try:
                wl.op(attempted)
                last_op_s = time.time() - op_t0
                steps = {s["name"]: s["end"] - s["start"] for s in tracer.spans[mark:]}
                ops.append((steps["step1"], steps["step2"]))
            except Exception:  # noqa: BLE001 - a failed operation is counted, the loop goes on
                failed += 1
                traceback.print_exc(file=sys.stderr)
            ctx.leaked.append(tr.release_caches(spark))
        if not ops:
            raise RuntimeError(f"all {attempted} operations failed")
        check_t0 = time.time()
        errors = wl.check()
        ctx.leaked.append(tr.release_caches(spark))
        check_s = time.time() - check_t0

        step1 = [a for a, _ in ops]
        step2 = [b for _, b in ops]
        detail = {
            "workload": args.workload, "seed": args.seed, "cores": cores, "nproc": nproc,
            "ops": len(ops), "attempted": attempted, "failed": failed,
            "step1_s": step1, "step2_s": step2, "session_s": session_s,
            "prepare_s": prepare_s, "warm_s": setup_s - session_s - prepare_s, "check_s": check_s,
            "leaked_caches": ctx.leaked, "check_errors": errors,
        }
        metrics = {
            "setup_s": setup_s,
            "step1_s": statistics.median(step1),
            "step2_s": statistics.median(step2),
            "items_per_s": statistics.median(wl.items / s for s in step1),
        }
        if args.trace:
            spark = None  # traced_pass stops the session
            metrics, side_errors = traced_pass(wl, ctx, sum(ops[-1]))
            detail["check_errors"] += side_errors
            metrics["session.start_s"] = session_s
        detail["spans"] = tracer.dump()
        return metrics, detail, failed
    finally:
        if spark is not None:
            stop_spark(spark)


def traced_pass(wl, ctx, before_s: float) -> tuple[dict, list[str]]:
    """One operation with layer spans, the workload's ladder, then one more
    operation without spans. The untraced reference is the mean of the
    operations just before and just after the traced one, which cancels the
    session's warm-up drift. Then the workload's side layers, once untraced
    to warm them and once with spans, and their checks. The session is
    stopped here so the event log is complete before it is read. Returns the
    per-layer metrics and the side checks' errors."""
    tracer = ctx.tracer
    try:
        with tr.layer_spans(tracer):
            with tracer.span("traced_op") as op:
                wl.traced_stats = wl.op(0)
            ctx.leaked.append(tr.release_caches(ctx.spark))
            with tracer.span("ladder"):
                wl.ladder()
            ctx.leaked.append(tr.release_caches(ctx.spark))
        with tracer.span("after_op") as after:
            wl.op(AFTER_OP)
        ctx.leaked.append(tr.release_caches(ctx.spark))
        wl.side()
        ctx.leaked.append(tr.release_caches(ctx.spark))
        with tr.layer_spans(tracer), tracer.span("side") as side:
            wl.side()
        ctx.leaked.append(tr.release_caches(ctx.spark))
        side_errors = wl.check_side()
        ctx.leaked.append(tr.release_caches(ctx.spark))
        if wl.name == "pit_job":
            import floor
            from workloads import MODEL

            decode_ms, embed_ms = floor.kernel_ms_per_image(wl.images, MODEL, 1024)
            # the floor is the whole machine's: one process per core
            pool_ips = floor.pool_images_per_s(ROOT, wl.images, MODEL, len(os.sched_getaffinity(0)))
    finally:
        stop_spark(ctx.spark)
    ev = tr.EventLog(os.path.join(ctx.work, "eventlog"))
    reference = (before_s + tr.duration(after)) / 2

    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(wl.layers(tracer, ev, op, side))
    if wl.name == "pit_job":
        m["functions.decode_ms_per_img"] = decode_ms
        m["functions.embed_ms_per_img"] = embed_ms
        m["functions.pool_images_per_s"] = pool_ips
        m["features.floor_ratio"] = (wl.n_images / m["features.self_s"]) / pool_ips
    whole = ev.summary(op)
    m["spark.tasks"] = whole["tasks"]
    m["spark.executor_cpu_s"] = whole["executor_cpu_s"]
    m["spark.spill_bytes"] = whole["spill_bytes"]
    m["spark.leaked_caches"] = max(ctx.leaked)
    m["trace.accounted_ratio"] = m.pop("trace.accounted_s") / reference
    m["trace.overhead_s"] = tr.duration(op) - reference
    return m, side_errors


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "video_features_spark", "__init__.py")):
        print(f"perfbench: no video_features_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Spark prefers this variable over spark.local.dir: keep shuffle files here
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived JVM that assembles Spark's launch command: no /tmp files
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"

    # orphans of the JVM's Python workers become this process's children,
    # and every path out ends with all descendants stopped and reaped
    tr.become_subreaper()
    try:
        with tr.RssSampler() as rss:
            metrics, detail, failed = run(args, work)
    finally:
        killed = tr.stop_descendants()
        if killed:
            print(f"perfbench: killed leftover processes {killed}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    detail["peak_rss_mb"] = rss.peak_bytes / 2**20
    if args.trace:
        metrics["session.peak_rss_mb"] = detail["peak_rss_mb"]
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps(detail))
    correct = not detail["check_errors"]
    for e in detail["check_errors"]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": detail["attempted"],
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""The repository benchmark: closed-loop workloads over starchart_spark.

    python3 perfbench/run.py --workload frontier|crawl \
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a checkout. Each run is one driver process with one
``local[N]`` session (N = min(4, usable cores), driver heap 3g); it issues
one Spark action at a time and starts no second JVM. A run makes its inputs
from ``--seed``, then repeats the workload's step until ``--seconds`` of
measured time have passed (at least one step). Outputs are checked against
an independent recount after the timed loop; a mismatch or an exception
counts as a failed operation, is printed with its type, and is never
retried.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones: ``setup_s`` (process start to the first
timed step: session, inputs, warm-up), ``throughput_per_s`` (items per
second of a step, median over the run's steps: URLs on frontier, documents
fetched on crawl) and ``step_s_p50`` (median seconds of one step: a
scheduling pass on frontier, an engine micro-batch on crawl).

``--trace 1`` turns on Spark's event log and takes exactly three steps: the
second with the log listener attached, the first and third with it
detached. The tracing overhead is the second step over the third; the first
absorbs any remaining warm-up. Layers that the timed steps cannot separate
then run on their own under a job group, the other workload's layers run
once at smoke size, and the log is folded into per-layer metrics.

A JSON line of annotations precedes the result: cores, heap, shuffle dir,
the peak resident memory of the driver JVM and its Python workers (VmHWM;
it moves with the JVM's heap sizing too much to bound), the error rate and
each failure, and on traced runs a DRAM probe.

``--smoke`` shrinks every workload (200k URLs, a 2-forge crawl, sf0.001
query tables) for ``test_run.py``. Everything a run writes goes to
``.perfbench_run/`` in the checkout, which is removed when the run ends.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("frontier", "crawl")
DRIVER_MEM = "3g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    return ap.parse_args(argv)


def _sandbox(work: str) -> dict[str, str]:
    """Point every path Spark, the JVM and Python write to inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local, os.path.join(work, "events")):
        os.makedirs(d)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "TMPDIR": tmp,
            "STARCHART_LOCAL_DIR": local,
            "SPARK_LOCAL_DIRS": local,
            "STARCHART_DRIVER_MEM": DRIVER_MEM,
            "STARCHART_DRIVER_JAVA_OPTS": "-XX:+ExplicitGCInvokesConcurrent "
            f"-XX:G1HeapRegionSize=32m -Djava.io.tmpdir={tmp}",
            # every JVM (the launcher too) would otherwise write /tmp/hsperfdata_*
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        }
    )
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)


def _dram_probe() -> float | None:
    """Single-process DRAM copy bandwidth (GB/s) from the repo's ``membw``,
    shortened to one second. An annotation of traced runs only, to keep
    the untraced runs short."""
    import membw

    membw.SECONDS = 1.0
    try:
        return membw.measure(1)
    except OSError:
        return None


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "starchart_spark", "__init__.py")):
        print(f"perfbench: no starchart_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_run")
    shutil.rmtree(work, ignore_errors=True)
    conf = _sandbox(work)
    sys.path[:0] = [HERE, ROOT]

    import common
    from starchart_spark.session import get_spark

    wl = importlib.import_module(args.workload)
    cores = min(4, len(os.sched_getaffinity(0)))
    if args.trace:
        conf.update(common.TRACE_CONF)
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf=conf,
    )
    session_s = time.monotonic() - T_START
    ctx = common.Ctx(
        spark=spark, work=work, seed=args.seed, seconds=args.seconds,
        smoke=args.smoke, trace=bool(args.trace),
    )
    try:
        st = wl.prepare(ctx)
        setup_s = time.monotonic() - T_START
        results = _timed_loop(ctx, wl, st, args.workload)
        rss = common.peak_rss_mb(spark)
        wl.check(ctx, st, results)
        complete = bool(results) and (len(results) == 3 or not ctx.trace)
        direct = wl.layers(ctx, st, results) if ctx.trace and complete else None
        # every traced run reports every layer: the other workloads' layers
        # are measured at smoke size
        others = {}
        if direct is not None:
            ctx.smoke, smoke = True, ctx.smoke
            others = {w: importlib.import_module(w).smoke_layers(ctx)
                      for w in WORKLOADS if w != args.workload}
            ctx.smoke = smoke
    finally:
        _stop(spark)

    annotations = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "driver_heap": DRIVER_MEM,
        "shuffle_dir": os.environ["STARCHART_LOCAL_DIR"],
        "session_s": session_s,
        "steps": len(results),
        "peak_rss_mb": rss,
        **ctx.notes,
        "error_rate": len(ctx.failures) / max(ctx.attempted, 1),
        "failures": ctx.failures,
        **(wl.annotate(results) if results else {}),
    }
    metrics: dict[str, float] = {}
    if complete and ctx.trace:
        log_dir = os.path.join(work, "events")
        groups = common.fold_event_log(os.path.join(log_dir, os.listdir(log_dir)[0]))
        metrics = wl.from_log(groups, direct)
        for w, d in others.items():
            metrics.update(importlib.import_module(w).from_log(groups, d))
        # step 2 ran with the event log attached, step 3 without; step 3 is
        # the warmer one, so the overhead errs high
        t_on, t_off = results[1]["wall_s"], results[2]["wall_s"]
        metrics.update({
            "trace.step_wall_s_traced": t_on,
            "trace.step_wall_s_untraced": t_off,
            "trace.overhead_share": t_on / t_off - 1.0,
        })
        annotations["dram_gb_s"] = _dram_probe()
    elif complete:
        metrics = {
            "setup_s": setup_s,
            "throughput_per_s": common.median([r["items"] / r["wall_s"] for r in results]),
            "step_s_p50": common.median([s for r in results for s in r["step_s"]]),
        }
    units = _units("per_layer" if ctx.trace else "end_to_end")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"annotations": annotations}))
    print(
        json.dumps(
            {
                "correct": complete and not ctx.failures,
                "attempted": max(ctx.attempted, 1),
                "failed": len(ctx.failures) if complete else max(ctx.attempted, 1),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _timed_loop(ctx, wl, st, workload: str) -> list[dict]:
    """Repeat the workload's step until ``ctx.seconds`` of measured time
    have passed; traced runs take exactly three steps, only the second with
    the event log attached. A step that raises ends the loop."""
    import common

    switch = common.EventLogSwitch(ctx.spark) if ctx.trace else None
    results: list[dict] = []
    measured = 0.0
    while (len(results) < 3) if ctx.trace else (measured < ctx.seconds or not results):
        if switch is not None:
            switch.set(len(results) == 1)
        try:
            r = wl.step(ctx, st)
        except Exception as exc:  # recorded with its type, never retried
            ctx.attempted += 1
            ctx.fail(f"{workload}.step{len(results)}", exc)
            break
        results.append(r)
        measured += r["wall_s"]
    if switch is not None:
        switch.set(True)
    return results


def _units(section: str) -> dict[str, str]:
    """Metric name -> unit for one section of BENCHMARK.json, in order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


if __name__ == "__main__":
    sys.exit(main())

"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload flagship --seed 42 --seconds 15 --trace 0

One driver process on local[4]. Set-up is timed as ``setup_s``: session
start, plus the median of several runs of the seeded input set-up, plus
the first (cold) iteration. ``WARMUP_ITERATIONS`` - 1 more warm-up
iterations follow; they are not timed. Then a closed
loop runs one iteration at a time, with ``spark.catalog.clearCache()``
before each, until ``--seconds`` have passed. Each iteration's output
summary must equal the warm-up's (and the digest recorded in
``expected.json`` for recorded inputs); an iteration that raises or
mismatches is failed.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced iterations and reports the per-layer metrics (medians
over the traced iterations) with the tracing overhead; the spans are
written to ``.perfbench/traces/``.

The last stdout line is the result JSON; the line before it holds the
run's details: failed_share, the driver JVM's peak RSS, per-iteration
walls and host state.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))



def metric_units() -> dict[str, str]:
    """Each metric's unit, as BENCHMARK.json lists it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def host_state() -> dict:
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    with open("/proc/vmstat") as f:
        majflt = next(int(line.split()[1]) for line in f if line.startswith("pgmajfault "))
    return {"load1": load1, "steal_ticks": steal, "pgmajfault": majflt}


def host_stamp(start: dict, end: dict) -> dict:
    return {
        "nproc": os.cpu_count(),
        "load1_start": start["load1"],
        "load1_end": end["load1"],
        "steal_s": (end["steal_ticks"] - start["steal_ticks"]) / os.sysconf("SC_CLK_TCK"),
        "pgmajfault": end["pgmajfault"] - start["pgmajfault"],
    }


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--entities", type=int, help="override the workload's input size")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    host0 = host_state()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # everything the run writes stays under the checkout; the Python
    # workers import the engine from it
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    try:
        from perfbench import tracer as tracing
        from perfbench import workloads as W
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        return run(args, work, host0, W, tracing)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work, host0, W, tracing) -> int:
    setup, iterate = W.WORKLOADS[args.workload]
    entities = args.entities or W.ENTITIES[args.workload]
    with open(os.path.join(ROOT, "perfbench", "expected.json")) as f:
        recorded = json.load(f).get(f"{args.workload}/{entities}/{args.seed}")

    def one(tracer=None) -> tuple[float, dict]:
        """One iteration on an empty plan cache; returns (wall, summary)."""
        try:
            spark.catalog.clearCache()
            if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
                raise RuntimeError("cached plans survived clearCache")
            with tracer.iteration() if tracer else nullcontext():
                t = time.perf_counter()
                summary = iterate(spark, inp, tracer)
                wall = time.perf_counter() - t
            return wall, summary
        finally:
            shutil.rmtree(inp.ckpt_dir, ignore_errors=True)

    # set-up = session start + input set-up + the first (cold) iteration;
    # the input set-up runs SETUP_REPEATS times and counts by its median
    t_setup = time.perf_counter()
    spark = W.build_spark(work)
    try:
        session_s = time.perf_counter() - t_setup
        inp = W.Inputs(work, entities, args.seed)
        inputs_s = []
        for _ in range(W.SETUP_REPEATS):
            t = time.perf_counter()
            setup(spark, inp)
            inputs_s.append(time.perf_counter() - t)
        first_s, warm = one()
        setup_s = session_s + statistics.median(inputs_s) + first_s
        reference = W.digest(warm)
        problems0 = W.check(args.workload, inp, warm)
        # the JVM's JIT and heap are still settling after one iteration,
        # and timing that curve adds spread
        warmup_walls = [first_s]
        for _ in range(W.WARMUP_ITERATIONS - 1):
            wall, summary = one()
            warmup_walls.append(wall)
            if W.digest(summary) != reference:
                problems0.append("warm-up summaries differ")
        if recorded is not None and reference != recorded:
            problems0.append("warm-up summary differs from the recorded digest")
        tracer = tracing.Tracer(spark, W.CORES) if args.trace else None

        walls = {False: [], True: []}
        layers, spans, failures = [], [], []
        attempted = 0
        t_loop = time.perf_counter()
        while True:
            traced = bool(args.trace) and attempted % 2 == 1
            done = time.perf_counter() - t_loop >= args.seconds
            if done and attempted >= 1 + args.trace:  # traced: one of each kind
                break
            attempted += 1
            problems = list(problems0)
            try:
                wall, summary = one(tracer if traced else None)
                walls[traced].append(wall)
                problems += W.check(args.workload, inp, summary)
                if W.digest(summary) != reference:
                    problems.append("summary differs from the warm-up's")
                if traced:
                    layers.append(tracer.last)
                    spans.extend(tracer.spans)
                    if args.workload != "blocking_sweep" and (
                            tracer.last["properties.objects"] != inp.n_pages):
                        problems.append("featurize did not run on every page "
                                        "(served from a cached plan?)")
            except Exception:  # a failed iteration is counted, not fatal
                problems.append(traceback.format_exc())
            if problems:
                failures.append({"iteration": attempted, "problems": problems})
                print(f"perfbench: iteration {attempted} failed: {problems}", file=sys.stderr)

        untraced = walls[False]
        if not untraced or (args.trace and not layers):
            print("perfbench: no iteration completed", file=sys.stderr)
            return 1
        wall_s = statistics.median(untraced)
        rss_mb = jvm_peak_rss_mb(spark)
        if args.trace:
            metrics = {k: statistics.median(d[k] for d in layers) for k in layers[0]}
            metrics.update(tracing.geometry_kernel_timing(args.seed))
            traced_wall = statistics.median(walls[True])
            metrics["trace.wall_s"] = traced_wall
            metrics["trace.untraced_wall_s"] = wall_s
            metrics["trace.overhead_share"] = traced_wall / wall_s - 1.0
            metrics["jvm.peak_rss_mb"] = rss_mb
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"layers": layers, "spans": spans}, f)
        else:
            metrics = {
                "setup_s": setup_s,
                "wall_s": wall_s,
                "pages_per_s": inp.n_pages / wall_s,
            }
    finally:
        stop_spark(spark)

    failed = len(failures)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "entities": entities,
        "pages": inp.n_pages,
        "cores": W.CORES,
        "failed_share": {"value": failed / attempted, "unit": "fraction"},
        "jvm_peak_rss_mb": {"value": rss_mb, "unit": "MB"},
        "setup": {"session_s": session_s, "inputs_s": inputs_s,
                  "warmup_walls_s": warmup_walls},
        "wall_s_samples": len(untraced),
        "walls_s": walls[False],
        "traced_walls_s": walls[True],
        "digest": reference,
        "host": host_stamp(host0, host_state()),
        "failures": failures,
    }
    print(json.dumps({"detail": detail}))
    units = metric_units()
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Point-in-time benchmark of the feathr_spark engine.

    python3 perfbench/run.py --workload pit_tokens_zipf --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all            # every workload, one process each

One Spark driver process per run, ``local[<cores>]``, closed loop: one
iteration at a time, each a fixed set of engine calls over inputs that
``feathr_spark.datagen`` synthesizes from ``--seed``. The run sets up
``SETUP_REPS`` times, runs one cold iteration and ``WARMUP`` warm-up
iterations, then times iterations for ``--seconds`` seconds and at least the
workload's ``min_timed`` iterations.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates traced
and untraced iterations and prints the per-layer metrics. The last line of
standard output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. The exit code is 0 only when every output check passed.
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3      # set-ups per run; setup_s is session start + their median
WARMUP = 1          # untimed warm-up iterations after the cold one
# No timed iteration starts this long after the run started, once one has
# finished: on a contended host a run then measures fewer iterations
# instead of taking longer.
RUN_CAP_S = 55

# The metrics BENCHMARK.json bounds (name -> unit). Wall times move with
# whatever else a shared host runs, by up to 30% between runs, so the
# per-iteration figure bounded here is CPU time, which steal and run-queue
# waits do not inflate; the wall-time figures are printed on the summary
# lines and are per-layer metrics of the traced run.
END_TO_END = {"cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
REPORTED = dict(END_TO_END, wall_s="s", rows_per_s="rows/s", first_iter_s="s")
PER_LAYER = {
    "run.wall_s": "s",
    "run.rows_per_s": "rows/s",
    "run.first_iter_s": "s",
    "session.wall_s": "s",
    "datagen.wall_s": "s",
    "datagen.executor_run_s": "s",
    "iter.wall_s": "s",
    "iter.driver_s": "s",
    "iter.executor_run_s": "s",
    "iter.executor_cpu_s": "s",
    "iter.idle_frac": "ratio",
    "iter.shuffle_write_bytes": "bytes",
    "iter.shuffle_read_bytes": "bytes",
    "iter.spill_bytes": "bytes",
    "iter.jobs": "count",
    "iter.tasks": "count",
    "iter.task_max_over_p50": "ratio",
    "iter.broadcast_joins": "count",
    "iter.shuffled_hash_joins": "count",
    "iter.sort_merge_joins": "count",
    "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "arrow.bytes_per_fact_row": "bytes",
    "materialize.partitions_written": "count",
    "materialize.rows_written": "count",
    "materialize.bytes_written": "bytes",
    "materialize.partitions_skipped": "count",
    "jvm.jit_s": "s",
    "jvm.gc_s": "s",
    "trace.overhead_s": "s",
}
WORKLOAD_NAMES = ("pit_tokens_zipf", "client_backfill_uniform")
# steal above this share of CPU time over the timed iterations flags the run
STEAL_BOUND = 0.02


def pin_env(work: str) -> dict:
    """Fix the knobs the engine reads from the environment. Must run before
    ``feathr_spark`` is imported (``session`` reads the core count then)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    mem_gb = mem_kb / 2**20
    old_pp = os.environ.get("PYTHONPATH")
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        # a sixth of physical RAM, 1-8 GB: the host is shared, and the
        # Python workers and the shuffle files need the rest
        "FEATHR_SPARK_DRIVER_MEM": f"{max(1, min(8, int(mem_gb / 6)))}g",
        "FEATHR_SPARK_LOCAL_DIR": os.path.join(work, "spark-local"),
        # local mode prefers this over spark.local.dir when it is set
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # commit the whole heap at JVM start: no page-fault stalls inside
        # timed iterations, and a peak RSS that GC timing does not move
        "FEATHR_SPARK_PRETOUCH": "1",
        # Python workers import feathr_spark wherever the JVM starts them
        "PYTHONPATH": ROOT + (os.pathsep + old_pp if old_pp else ""),
        "TMPDIR": os.path.join(work, "tmp"),
        # the JVM unpacks native codecs into java.io.tmpdir and would keep
        # perf data in /tmp; set here, as spark.driver.extraJavaOptions
        # carries the pre-touch flags
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    os.environ.pop("FEATHR_SPARK_MASTER", None)
    os.environ.update(env)
    for d in (env["FEATHR_SPARK_LOCAL_DIR"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return dict(env, cores=cores, mem_total_gb=round(mem_gb, 2))


def shutdown_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_workload(args) -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, work: str) -> int:
    env = pin_env(work)
    sys.path.insert(0, ROOT)
    try:
        from bench import _cpu_jiffies, _host_block
        from feathr_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from spans import RssSampler, StatusReader, Tracer, jvm_times_s, tree_cpu_s
    from workloads import WORKLOADS

    cores = env["cores"]
    traced_run = bool(args.trace)
    tracer = Tracer(None, enabled=traced_run)
    epoch0 = time.time() - (time.monotonic() - tracer.t0)
    t_start = time.monotonic()
    phases = {}  # phase -> seconds since the run started, for budgeting
    expected = _pinned(args.scale, args.workload, args.seed)
    walls, traced_walls, cpus, samples, fails = [], [], [], [], []
    attempted = 0
    first_ck = first_iter_s = None
    with RssSampler() as rss:
        with tracer.span("session") as sp_session:
            spark = get_spark(cpus=cores, app_name="perfbench", extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            })
        tracer.spark = spark
        phases["session"] = time.monotonic() - t_start
        reader = StatusReader(spark, cores) if traced_run else None
        try:
            wl = WORKLOADS[args.workload](spark, args.scale, args.seed, work)
            datagen = []
            for rep in range(SETUP_REPS):
                if rep:
                    wl.teardown()
                with tracer.span("datagen") as sp:
                    wl.setup()
                datagen.append(sp)
            datagen_s = [sp.end - sp.start for sp in datagen]
            phases["setup"] = time.monotonic() - t_start
            if traced_run:
                reader.drain()
                for sp in datagen:
                    sp.metrics = reader.span_counters(sp, sp.end - sp.start, epoch0)

            jiff0 = load0 = None
            it = 0
            while True:
                phase = "cold" if it == 0 else ("warmup" if it <= WARMUP else "timed")
                if phase == "timed" and jiff0 is None:
                    phases["untimed"] = time.monotonic() - t_start
                    jiff0, load0, t_timed = _cpu_jiffies(), os.getloadavg(), time.monotonic()
                if phase == "timed":
                    n_timed = len(walls) + len(traced_walls)
                    now = time.monotonic()
                    if n_timed >= wl.min_timed and now - t_timed >= args.seconds:
                        break
                    # a traced run needs one traced and one untraced iteration
                    if n_timed >= 1 + traced_run and now - t_start >= RUN_CAP_S:
                        break
                # traced runs alternate traced and untraced timed iterations
                tracer.enabled = traced_run and (phase != "timed" or it % 2 == 0)
                attempted += 1
                try:
                    jvm0 = jvm_times_s(spark) if tracer.enabled else None
                    cpu0 = tree_cpu_s()
                    with tracer.span("iter") as root:
                        res = wl.run_once(tracer, it)
                    cpu = tree_cpu_s() - cpu0
                    jvm1 = jvm_times_s(spark) if tracer.enabled else None
                    wall = root.end - root.start
                    bad = wl.check(res, deep=(it == 0))
                    if first_ck is None:
                        first_ck = res.checksum
                    if res.checksum != first_ck:
                        bad.append(f"checksum {res.checksum} differs from the first iteration's {first_ck}")
                    if expected is not None and res.checksum != expected:
                        bad.append(f"checksum {res.checksum} differs from the pinned {expected}")
                    if tracer.enabled and phase == "timed":
                        samples.append(_iteration_sample(reader, tracer, root, wl, res, epoch0))
                        samples[-1].update({f"jvm.{k}": jvm1[k] - jvm0[k] for k in jvm0})
                    wl.release(res)
                except Exception:
                    traceback.print_exc()
                    bad, wall, res = ["iteration raised"], None, None
                if bad:
                    fails.append({"iteration": it, "checks": bad})
                    print(f"perfbench: iteration {it} failed: {bad}", file=sys.stderr)
                elif phase == "cold":
                    first_iter_s = wall
                    rows = res.rows
                elif phase == "timed":
                    if tracer.enabled:
                        traced_walls.append(wall)
                    else:
                        walls.append(wall)
                        cpus.append(cpu)
                it += 1
            host = _host_block(jiff0, _cpu_jiffies(), load0)
            phases["timed"] = time.monotonic() - t_start
        finally:
            shutdown_spark(spark)
    phases["stopped"] = time.monotonic() - t_start

    correct = not fails and bool(walls) and first_iter_s is not None
    report = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "trace": args.trace, "run_id": tracer.run_id,
        "env": {k: env[k] for k in sorted(env)},
        "host": dict(host, steal_flagged=host.get("cpu_steal_frac", 0.0) > STEAL_BOUND),
        "checksum": first_ck, "checksum_pinned": expected is not None,
        "attempted": attempted, "failed": len(fails),
        "failed_frac": len(fails) / attempted if attempted else 1.0,
        "failures": fails,
        "timed_walls_s": walls, "timed_cpu_s": cpus, "traced_walls_s": traced_walls,
        "setup_datagen_s": datagen_s,
        "phases_s": phases,
    }
    metrics = {}
    if correct:
        wall_s = median(walls)
        end_to_end = {
            # the mean, not the median: JIT compilation, a third to a half
            # of an early iteration's CPU time, shifts between neighbouring
            # iterations from run to run, and a sum over the window absorbs it
            "cpu_s": sum(cpus) / len(cpus),
            "setup_s": (sp_session.end - sp_session.start) + median(datagen_s),
            "peak_rss_mb": rss.peak_mb,
            "wall_s": wall_s,
            "rows_per_s": rows / wall_s,
            "first_iter_s": first_iter_s,
        }
        report["end_to_end"] = end_to_end
        if traced_run:
            layers = _per_layer(samples, sp_session, datagen)
            layers["trace.overhead_s"] = median(traced_walls) - median(walls)
            for k in ("wall_s", "rows_per_s", "first_iter_s"):
                layers[f"run.{k}"] = end_to_end[k]
            report["per_layer"] = layers
            report["spans"] = [s.to_json() for s in tracer.spans]
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": end_to_end[k], "unit": u} for k, u in END_TO_END.items()}
    _write_report(report, args)
    print(_summary(report))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(fails),
                      "metrics": metrics}))
    return 0 if correct else 1


def _iteration_sample(reader, tracer, root, wl, res, epoch0) -> dict:
    """Counters of one traced iteration: every span of it, by span name."""
    reader.drain()
    kids = tracer.children(root)
    out = {}
    for sp in [root] + kids:
        covered = sum(c.end - c.start for c in tracer.children(sp))
        c = reader.span_counters(sp, (sp.end - sp.start) - covered, epoch0)
        joins, arrow = reader.plan_counts(sp.first_job, sp.end_job)
        c.update(joins)
        sp.metrics = c
        out.update({f"{'iter' if sp is root else sp.name}.{k}": v for k, v in c.items()})
        if sp is root:
            out.update({f"arrow.{k}": v for k, v in arrow.items()})
            out["arrow.bytes_per_fact_row"] = arrow["bytes_to_python"] / wl.fact_rows
    out.update(wl.layer_counts(res))
    return out


def _per_layer(samples, sp_session, datagen) -> dict:
    """Median over traced iterations of every counter, plus set-up spans."""
    keys = dict.fromkeys(k for s in samples for k in s)
    out = {k: median(s.get(k, 0) for s in samples) for k in keys}
    out["session.wall_s"] = sp_session.end - sp_session.start
    out["datagen.wall_s"] = median(sp.end - sp.start for sp in datagen)
    out["datagen.executor_run_s"] = median(sp.metrics.get("executor_run_s", 0.0) for sp in datagen)
    for k in PER_LAYER:
        out.setdefault(k, 0)
    return out


def _pinned(scale: str, workload: str, seed: int):
    path = os.path.join(HERE, "expected.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        table = json.load(fh)
    return table.get(scale, {}).get(workload, {}).get(str(seed))


def _write_report(report: dict, args) -> None:
    d = os.path.join(ROOT, ".perfbench_work", "results")
    os.makedirs(d, exist_ok=True)
    name = f"{args.workload}-{args.scale}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(d, name), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True, default=str)


def _summary(report: dict) -> str:
    lines = [f"# {report['workload']} seed={report['seed']} scale={report['scale']} "
             f"trace={report['trace']} checksum={report['checksum']} "
             f"pinned={report['checksum_pinned']} env={json.dumps(report['env'], sort_keys=True)}",
             f"# host {json.dumps(report['host'], sort_keys=True)}",
             f"{report['workload']} failed_frac {report['failed_frac']:.4f} ratio "
             f"({report['failed']}/{report['attempted']})"]
    for k, v in report.get("end_to_end", {}).items():
        lines.append(f"{report['workload']} {k} {v:.6g} {REPORTED[k]}")
    for k, v in sorted(report.get("per_layer", {}).items()):
        lines.append(f"{report['workload']} {k} {v:.6g}")
    return "\n".join(lines)


def run_all(args) -> int:
    """Every workload in its own process, then one combined result line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", args.scale]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        combined["correct"] &= bool(res["correct"]) and proc.returncode == 0
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        combined["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(combined))
    return 0 if combined["correct"] else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "feathr_spark")):
        print(f"perfbench: no feathr_spark/ package next to {HERE}", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_workload(args)


if __name__ == "__main__":
    sys.exit(main())

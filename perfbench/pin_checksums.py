#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the output checksum of every
workload for a range of seeds, at one scale.

    python3 perfbench/pin_checksums.py --scale bench --seeds 0-31
    python3 perfbench/pin_checksums.py --scale smoke --seeds 1

The benchmark compares each iteration's checksum with the pinned value when
its seed is in the table. Re-pin only when a change is meant to alter the
outputs, and say so in the change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from run import HERE, ROOT, pin_env, shutdown_spark


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench")
    ap.add_argument("--seeds", default="0-31", help="e.g. 0-31 or 1,5,9")
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"pin-{os.getpid()}")
    env = pin_env(work)
    sys.path.insert(0, ROOT)
    from feathr_spark.session import get_spark
    from spans import Tracer
    from workloads import WORKLOADS

    path = os.path.join(HERE, "expected.json")
    table = json.load(open(path)) if os.path.exists(path) else {}
    spark = get_spark(cpus=env["cores"], app_name="perfbench-pin",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    tracer = Tracer(spark, enabled=False)
    try:
        for name, cls in WORKLOADS.items():
            pins = table.setdefault(args.scale, {}).setdefault(name, {})
            for seed in _seeds(args.seeds):
                wl = cls(spark, args.scale, seed, work)
                wl.setup()
                res = wl.run_once(tracer, 0)
                fails = wl.check(res, deep=True)
                wl.release(res)
                wl.teardown()
                if fails:
                    print(f"{name} seed {seed}: checks failed, not pinned: {fails}",
                          file=sys.stderr)
                    return 1
                pins[str(seed)] = res.checksum
                print(f"{name} seed {seed}: {res.checksum}", flush=True)
    finally:
        shutdown_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(path, "w") as fh:
        json.dump(table, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

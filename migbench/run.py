"""Migration benchmark: one workload per process.

    python3 migbench/run.py --workload bulk_migrate --seed 1 --seconds 5 --trace 0

Run from the repository root.  The last stdout line is one JSON object,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The line
before it carries run notes (op count, op times, sends).  Everything the
run writes goes under ``.migbench_work/`` and is removed at exit.

Steadiness mode repeats one or more workloads in fresh processes with
seeds seed, seed+1, ... and prints the median and interquartile range of
every metric:

    python3 migbench/run.py --workload bulk_migrate,dual_write_stream --repeat 5

``--sets 2`` interleaves two such sets and compares their medians
against the bounds in BENCHMARK.json.

Exit status: 0 with a result line; 3 when the open loop's generator ran
late (the run is invalid and reports no metrics); anything else when the
benchmark could not run, e.g. outside a checkout of the package.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ("bulk_migrate", "validate_repair", "dual_write_stream")
EXIT_INVALID = 3


def parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   help="workload name, or a comma list with --repeat")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--repeat", type=int, default=0,
                   help="steadiness mode: runs per workload and set")
    p.add_argument("--sets", type=int, default=1,
                   help="steadiness mode: interleaved sets to compare")
    args = p.parse_args(argv)
    names = args.workload.split(",")
    unknown = [n for n in names if n not in WORKLOAD_NAMES]
    if unknown:
        p.error(f"unknown workload(s) {unknown}; choose from {WORKLOAD_NAMES}")
    if len(names) > 1 and not args.repeat:
        p.error("several workloads need --repeat")
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    if args.repeat == 1 or args.repeat < 0:
        p.error("--repeat needs at least 2 runs")
    if args.sets < 1 or (args.sets > 1 and not args.repeat):
        p.error("--sets needs --repeat and at least 1 set")
    return args


def measure(args: argparse.Namespace) -> int:
    sys.path.insert(0, str(ROOT))
    import workloads  # the package must be importable: fail before any set-up
    from harness import END_TO_END, PER_LAYER, result_line

    work = ROOT / ".migbench_work" / f"{args.workload}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # keep the JVM's and Python's temporary files inside the checkout
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    cores = max(1, len(os.sched_getaffinity(0)) - 1)

    run = workloads.run_workload(
        args.workload, args.seed, args.seconds, bool(args.trace), str(work), cores
    )
    notes = {"workload": args.workload, "seed": args.seed, **run.notes}
    if args.trace:
        # the end-to-end figures of the traced run, to set beside an
        # untraced run of the same seed: what tracing costs in total
        notes["e2e"] = {k: round(v, 6) for k, v in run.e2e.items()}
    print("# " + json.dumps(notes))
    if "invalid" in run.notes:
        print(f"invalid run: {run.notes['invalid']}", flush=True)
        return EXIT_INVALID
    correct = run.failed == 0 and run.attempted > 0
    values, units = (run.layer, PER_LAYER) if args.trace else (run.e2e, END_TO_END)
    print(result_line(correct, run.attempted, run.failed, values, units), flush=True)
    return 0


def run_once(name: str, seed: int, args: argparse.Namespace) -> dict | None:
    """One benchmark run in a fresh process; its result line, or None."""
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", name,
        "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        print(f"{name} seed {seed}: exit {out.returncode}\n"
              f"{out.stdout[-2000:]}{out.stderr[-4000:]}", file=sys.stderr)
        return None
    res = json.loads(lines[-1])
    print(f"{name} seed {seed}: {wall:.1f}s wall, correct={res['correct']} "
          f"{lines[-2] if len(lines) > 1 else ''}", flush=True)
    return {**res, "wall_s": wall}


def steadiness(args: argparse.Namespace) -> int:
    """Repeat each workload in fresh processes; print each metric's median
    and IQR/median -- the spread the benchmark's bounds are set from.

    With ``--sets S`` the runs of S sets are interleaved (set s uses seeds
    seed + 1000*s + k), so that a drift in the host's speed reaches every
    set alike, and each set's medians are compared with set 0's against
    the bounds in BENCHMARK.json."""
    from harness import spread

    names = args.workload.split(",")
    bounds = {
        m["name"]: (m["bound"], m["better"])
        for m in json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]
    }
    results: dict[tuple[str, int], list[dict]] = {
        (n, st): [] for n in names for st in range(args.sets)
    }
    for k in range(args.repeat):
        for st in range(args.sets):
            for name in names:
                res = run_once(name, args.seed + 1000 * st + k, args)
                if res is not None:
                    results[name, st].append(res)
    summary: dict[str, dict] = {}
    for (name, st), rs in results.items():
        key = f"{name}/set{st}"
        if len(rs) < 2:
            summary[key] = {"runs": len(rs)}
            continue
        metrics = {}
        for m, v in rs[0]["metrics"].items():
            sp = spread([r["metrics"][m]["value"] for r in rs])
            metrics[m] = {"unit": v["unit"], **{k: round(x, 6) for k, x in sp.items()}}
            base = summary.get(f"{name}/set0", {}).get("metrics", {}).get(m)
            if st and base and m in bounds:
                bound, better = bounds[m]
                ratio = sp["median"] / base["median"]
                worse = ratio - 1 if better == "lower" else 1 - ratio
                metrics[m].update(vs_set0=round(ratio, 4), within_bound=worse <= bound)
            print(f"  {key:24s} {m:36s} median {sp['median']:14.4f} {v['unit']:8s} "
                  f"IQR/median {sp['iqr_frac']:.4f}"
                  + (f"  set{st}/set0 {metrics[m]['vs_set0']:.3f}" if "vs_set0" in metrics[m] else ""))
        summary[key] = {
            "runs": len(rs),
            "all_correct": all(r["correct"] and r["failed"] == 0 for r in rs),
            "wall_s_median": round(statistics.median(r["wall_s"] for r in rs), 2),
            "metrics": metrics,
        }
    print(json.dumps(summary))
    return 0


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    return steadiness(args) if args.repeat else measure(args)


if __name__ == "__main__":
    sys.exit(main())

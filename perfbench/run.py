"""Repository benchmark: one workload per invocation, or all of them.

    python3 perfbench/run.py --workload sketch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

A single-workload run prints, as the last line of stdout, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. ``--workload all`` runs every workload untraced and then
traced, each in its own process, and prints every metric by name and
unit, the correctness verdict and the tracing overhead. Run from the
repository root; see perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import shutil
import subprocess
import sys
import tempfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run_all(args) -> int:
    """Every workload, untraced then traced, one process each."""
    from perfbench.workloads import WORKLOADS

    cmd = [sys.executable, str(HERE / "run.py"), "--seed", str(args.seed),
           "--seconds", str(args.seconds)]
    results, ok = {}, True
    for w in WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run(cmd + ["--workload", w, "--trace", str(trace)],
                               cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.stderr.write(p.stderr[-4000:])
                print(f"{w} trace={trace}: exit {p.returncode}")
                return 1
            results[(w, trace)] = r = json.loads(lines[-1])
            ok &= r["correct"]
    for w in WORKLOADS:
        plain, traced = results[(w, 0)], results[(w, 1)]
        print(f"== {w}: correct={plain['correct'] and traced['correct']} "
              f"attempted={plain['attempted']} failed={plain['failed']}")
        for name, m in plain["metrics"].items():
            print(f"  {name:32s} {m['value']:>16.6g} {m['unit']}")
        print("  -- per layer (traced run) --")
        for name, m in traced["metrics"].items():
            print(f"  {name:40s} {m['value']:>16.6g} {m['unit']}")
        over = (traced["metrics"]["trace.cycle_cpu_s"]["value"]
                / plain["metrics"]["cycle_cpu_s"]["value"] - 1.0)
        print(f"  tracing overhead on CPU per cycle: {over:+.1%}")
    print(json.dumps({"correct": ok, "workloads": {
        f"{w}.trace{t}": r for (w, t), r in results.items()}}))
    return 0


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not (ROOT / "cuckoofilter_spark").is_dir():
        print(f"perfbench: no cuckoofilter_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    WORK.mkdir(exist_ok=True)
    tmp = pathlib.Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK))
    try:
        from perfbench.harness import Bench

        bench = Bench(args.workload, args.seed, args.seconds,
                      bool(args.trace), tmp, ROOT)
        result, record = bench.run()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(WORK / "runs.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    print(f"[perfbench] host {json.dumps(record['host'])}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload newcards --seeds 1-10 [--trace 0]

For every end-to-end metric (or per-layer metric with ``--trace 1``) it
prints the median, the quartiles (``statistics.quantiles(values, n=4)``) and
the spread: the distance between the quartiles as a share of the median, the
figure compared against each metric's ``bound`` in BENCHMARK.json.  Runs are
sequential; each is one ``run.py`` process.  ``--out`` appends every run's
result and detail lines to a JSONL file.  ``--baseline FILE`` records the
summary, with the sample count and the cores, in FILE under the workload and
the seed set (perfbench/BASELINE.json holds the baseline made this way).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--baseline")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in
              bench["per_layer" if args.trace else "end_to_end"]}
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    details = []
    for seed in seeds(args.seeds):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines() or ["{}"]
        result = json.loads(lines[-1])
        detail = json.loads(lines[-2]).get("detail") if len(lines) > 1 else None
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, "exit": proc.returncode,
                                    "result": result, "detail": detail}) + "\n")
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        details.append(detail)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
        print(f"seed {seed}: " + " ".join(
            f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    stats = {name: summary(vals) for name, vals in values.items()}
    print(f"{'metric':<28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name, s in stats.items():
        b = bounds.get(name)
        print(f"{name:<28} {s['median']:12.5g} {s['q1']:12.5g} {s['q3']:12.5g} "
              f"{s['spread']:8.3f} {'' if b is None else b:>6}")
    if args.baseline:
        path = Path(args.baseline)
        doc = json.loads(path.read_text()) if path.exists() else {}
        doc.setdefault(args.workload, {})[args.seeds] = {
            "runs": len(details),
            "run_seconds": bench["run_seconds"],
            "trace": args.trace,
            "cores": details[0]["cores"],
            "timed_iterations_per_run": statistics.median(
                len(d["iterations"]) for d in details),
            "host_cpu_busy_cores": statistics.median(d["cpu_busy_cores"] for d in details),
            "host_steal_pct": statistics.median(d["steal_pct"] for d in details),
            "metrics": {name: {"unit": units[name], **s} for name, s in stats.items()},
        }
        path.write_text(json.dumps(doc, indent=2) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Run the benchmark over several seeds and summarise the spread.

    python3 perfbench/spread.py --label set1 --seeds 1-10 [--workloads etl_cold query_mix]
                                [--trace 0] [--out perfbench/results.json]

For every workload and seed it runs ``perfbench/run.py`` once, in a
fresh process, for ``run_seconds`` of ``BENCHMARK.json``, and records
the reported metrics, the run's elapsed time, its timed passes, the
host's steal share, the CPU calibration and the median pass wall time. Per metric it prints the
median and the interquartile range as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound in
``BENCHMARK.json``. ``--out`` stores the summary under ``--label``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / med if med else None, "values": values}


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--label", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    summary = {}
    for wl in args.workloads:
        runs = []
        for seed in _seeds(args.seeds):
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            elapsed = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            facts = next((json.loads(x[6:]) for x in lines if x.startswith("facts ")), {})
            run = next((json.loads(x[4:]) for x in lines if x.startswith("run ")), {})
            runs.append({"seed": seed, "rc": proc.returncode, "elapsed_s": elapsed,
                         "cpu_calibration_s": facts.get("cpu_calibration_s"),
                         "timed_passes": run.get("timed_passes"),
                         "host_steal": run.get("host_steal"), "wall_s": run.get("wall_s"),
                         "result": result})
            print(f"{wl} seed {seed}: rc={proc.returncode} {elapsed:.1f}s "
                  f"passes={run.get('timed_passes')} steal={run.get('host_steal')} "
                  f"wall={run.get('wall_s')} "
                  f"cal={facts.get('cpu_calibration_s')} "
                  + (json.dumps({k: round(v['value'], 4) for k, v in result["metrics"].items()})
                     if result and not args.trace else ""), flush=True)
        ok = [r["result"] for r in runs if r["result"]]
        metrics = {}
        for name in (ok[0]["metrics"] if ok else {}):
            metrics[name] = summarise([r["metrics"][name]["value"] for r in ok])
        summary[wl] = {
            "runs": len(runs),
            "all_correct": all(r["rc"] == 0 and r["result"] and r["result"]["correct"] for r in runs),
            "elapsed_s": summarise([r["elapsed_s"] for r in runs]),
            "cpu_calibration_s": [r["cpu_calibration_s"] for r in runs],
            "timed_passes": [r["timed_passes"] for r in runs],
            "host_steal": [r["host_steal"] for r in runs],
            # not bounded (it follows the host's steal share), kept beside it
            "wall_s": summarise(walls) if (walls := [r["wall_s"] for r in runs if r["wall_s"]]) else None,
            "metrics": metrics,
        }
        for name, m in metrics.items():
            if name in bounds:
                print(f"  {wl} {name}: median {m['median']:.4g}  IQR/median "
                      f"{m['iqr_share']:.3f}  bound {bounds[name]}")
    if args.out:
        out = Path(args.out)
        data = json.loads(out.read_text()) if out.exists() else {}
        data[args.label] = {"seconds": spec["run_seconds"], "seeds": args.seeds,
                            "trace": args.trace, "workloads": summary}
        out.write_text(json.dumps(data, indent=1) + "\n")
    return 0 if all(s["all_correct"] for s in summary.values()) else 1


if __name__ == "__main__":
    sys.exit(main())

"""Steadiness check: run one workload over several seeds and report, per metric,
the median and the inter-quartile distance as a share of the median.

    python3 servebench/steady.py --workload plan_tenants --seeds 1-10

Runs use --trace 0: only the end-to-end metrics have bounds to compare a spread
against. A metric is steady when that share stays well below its bound in
BENCHMARK.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402


def seeds(spec: str):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for s in seeds(a.seeds):
        cmd = [*bench["command"], "--workload", a.workload, "--seed", str(s),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, cwd=HERE.parent, capture_output=True, text=True)
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        *_, stamp, last = p.stdout.strip().splitlines()
        res, st = json.loads(last), json.loads(stamp)["servebench_stamp"]
        print(f"seed {s}: correct={res['correct']} failed={res['failed']}/{res['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()) +
              f" | spark_ready_ms={st['spark_ready_ms']:.0f} host_steal_ms={st['host_steal_ms']}",
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        spread = stats.iqr_share(xs) if len(xs) >= 2 and statistics.median(xs) else float("nan")
        b = bounds.get(k)
        print(f"{k:32s} median={statistics.median(xs):.4g} iqr/median={spread:.3f}" +
              (f" bound={b} ({'ok' if spread < b / 3 else 'WIDE'})" if b else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Steadiness record: runs the benchmark on seeds 1 to 10 per workload and
reports, per end-to-end metric, the median and the spread (distance between
the first and third quartile as a share of the median) beside the metric's
bound, plus the per-pass times that show whether warm-up is long enough.

    python3 perfbench/steady.py <record.json> [workload...]

Run from the repository root; one run at a time, as the benchmark needs a
quiet machine. Each call adds one set of runs to the record file (made if
missing); from the second set on, the record also holds each median's change
from the first set to the latest.
"""
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

RUNS = 10
FIRST_SEED = 1


def spread(values):
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else float("inf")


def run_set(bench, names):
    report = {}
    for w in names:
        values = {m["name"]: [] for m in bench["end_to_end"]}
        passes, steal, failed = [], [], 0
        for seed in range(FIRST_SEED, FIRST_SEED + RUNS):
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], stdout=subprocess.PIPE, text=True)
            if r.returncode != 0:
                raise SystemExit(f"steady: {w} seed {seed} failed")
            res = json.loads(r.stdout.strip().splitlines()[-1])
            failed += res["failed"]
            for k, v in res["metrics"].items():
                values[k].append(v["value"])
            rec = max(glob.glob(os.path.join(build.BUILD, "runs", f"{w}-seed{seed}-trace0-*.json")),
                      key=os.path.getmtime)
            with open(rec) as fh:
                record = json.load(fh)
            passes.append([p["seconds"] for p in record["passes"]])
            steal.append(record["host"]["steal_fraction"])
            print(f"[steady] {w} seed {seed}: {json.dumps(res)}", file=sys.stderr)
        report[w] = {
            "runs": RUNS, "failed_ops": failed,
            "pass_seconds_per_run": passes, "steal_fraction_per_run": steal,
            "metrics": {m["name"]: {"median": statistics.median(values[m["name"]]),
                                    "spread": spread(values[m["name"]]),
                                    "bound": m["bound"], "values": values[m["name"]]}
                        for m in bench["end_to_end"]}}
    return report


def main():
    if len(sys.argv) < 2:
        raise SystemExit("usage: steady.py <record.json> [workload...]")
    out, names = sys.argv[1], sys.argv[2:]
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    names = names or [w["name"] for w in bench["workloads"]]
    record = {"sets": []}
    if os.path.exists(out):
        with open(out) as fh:
            record = json.load(fh)
    latest = run_set(bench, names)
    record["sets"].append(latest)
    first = record["sets"][0]
    if len(record["sets"]) > 1:
        record["median_change_latest_vs_first"] = {
            w: {k: m["median"] / first[w]["metrics"][k]["median"] - 1
                for k, m in latest[w]["metrics"].items()}
            for w in latest if w in first}
    with open(out, "w") as fh:
        fh.write(json.dumps(record, indent=1) + "\n")
    print(json.dumps({w: {k: {"median": m["median"], "spread": m["spread"]}
                          for k, m in latest[w]["metrics"].items()} for w in latest}, indent=1))


if __name__ == "__main__":
    main()

"""graft benchmark: one command, one JVM, local[nproc], closed loop, one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine with the benchmark
(`perfbench/build.py`), generates the inputs (`perfbench/gen.py`, cached
under `.bench_build/data`), starts one JVM for the run and prints, as the
last line of standard output, one JSON object: `correct`, `attempted`,
`failed` and `metrics` -- the end-to-end metrics of BENCHMARK.json with
`--trace 0`, its per-layer metrics with `--trace 1`. Failed or wrong
operations are listed on standard error; the full run record (every
operation, pass times, host-noise forensics) is kept in
`.bench_build/runs/`, and a traced run's spans in `.bench_build/traces/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

# JVM start, set-ups, warm-up and check take about a minute; the timed
# loop takes `--seconds` plus the pass in flight
JVM_ALLOWANCE_S = 150
HEAP = "4g"


def inputs():
    """Generated inputs, rebuilt only when the generator changes."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()
    root = os.path.join(build.BUILD, "data")
    stamp = os.path.join(root, "stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        shutil.rmtree(root, ignore_errors=True)
        r = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), root])
        if r.returncode != 0:
            raise SystemExit("run: input generation failed")
        with open(stamp, "w") as fh:
            fh.write(digest)
    return root


def java_cmd(cp, mode, **kv):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false"]
            + build.JVM_OPENS + ["-cp", cp, "graftbench.Main", mode]
            + [f"{k}={v}" for k, v in kv.items()])


def run_jvm(cmd, log_path, timeout):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"run: JVM exceeded {timeout:.0f}s, see {log_path}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        raise SystemExit(f"run: unknown workload {args.workload}")
    cp = build.build()
    data = inputs()
    cores = len(os.sched_getaffinity(0))
    for d in ("runs", "traces", "logs"):
        os.makedirs(os.path.join(build.BUILD, d), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time() * 1000)}"
    out = os.path.join(build.BUILD, "runs", f"{tag}.json")
    log = os.path.join(build.BUILD, "logs", f"{tag}.log")
    rc = run_jvm(java_cmd(
        cp, "run", workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=args.trace, data=data, work=os.path.join(build.BUILD, "work"), out=out,
        cores=cores, expected=os.path.join(HERE, "expected.json")), log,
        JVM_ALLOWANCE_S + args.seconds)
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"run: benchmark JVM failed ({rc}), see {log}")
    with open(out) as fh:
        res = json.load(fh)

    for op in res["ops"]:
        if "error" in op:
            print(f"[bench] FAILED {op['kind']} {op['label']}: {op['error']}", file=sys.stderr)
    print(f"[bench] host {json.dumps(res['host'])}", file=sys.stderr)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {m["name"]: {"value": res["metrics"].get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

"""Records the reference outputs the benchmark checks against.

    python3 perfbench/record.py [--suite]   (from the repository root)

Runs every registered query on the generated sf0.1 inputs twice and writes
`perfbench/expected.json`: per query its module, row count, content hash and
warm cost. A query enters the `suite_mix` pool only if both passes succeed
with the same digest, its warm cost is at most SUITE_COST_CAP_S, so no
single query dominates a pass, and its first pass took at most twice its
second (a cost that erratic is no module's typical query). Of the pool,
each module contributes its median-cost query. This takes about 40 minutes
on 4 cores. With `--suite` it records only the queries already in
`expected.json` (a few minutes), for when the inputs change but the query
choice stands. Re-record only at a commit whose outputs are known to be right.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402

SUITE_COST_CAP_S = 3.5


def record(cp, data, names=None):
    """Runs the `record` JVM on `data`: every registered query, or `names`."""
    extra = {"queries": ",".join(names)} if names else {}
    out = os.path.join(build.BUILD, "record.jsonl")
    if os.path.exists(out):
        os.remove(out)
    log = os.path.join(build.BUILD, "record.log")
    with open(log, "w") as fh:
        r = subprocess.run(run.java_cmd(cp, "record", work=os.path.join(build.BUILD, "work"),
                                        data=data, cores=len(os.sched_getaffinity(0)), out=out,
                                        **extra),
                           stdout=fh, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"record: JVM failed, see {log}")
    return [json.loads(line) for line in open(out)]


def stable(lines):
    """name -> entry for queries whose two passes agree, with the warm cost."""
    by = {}
    for x in lines:
        by.setdefault(x["name"], {})[x["pass"]] = x
    out = {}
    for name, p in by.items():
        a, b = p.get(1, {}), p.get(2, {})
        if "rows" in a and "rows" in b and (a["rows"], a["hash"]) == (b["rows"], b["hash"]):
            out[name] = {"module": b["module"], "rows": b["rows"], "hash": b["hash"],
                         "cost_s": round(b["cost_s"], 3), "cold_cost_s": a["cost_s"]}
    return out


def main():
    cp = build.build()
    data = run.inputs()
    if sys.argv[1:] == ["--suite"]:
        with open(os.path.join(HERE, "expected.json")) as fh:
            names = sorted(json.load(fh)["suite_mix"])
        got = stable(record(cp, data, names))
        unstable = sorted(set(names) - set(got))
        if unstable:
            raise SystemExit(f"record: failed or unstable: {', '.join(unstable)}")
        write(got)
    else:
        write(sample(stable(record(cp, data))))


def sample(suite):
    """Per module, the pool query of median cost."""
    pool = {n: e for n, e in suite.items()
            if e["cost_s"] <= SUITE_COST_CAP_S and e["cold_cost_s"] <= 2 * e["cost_s"]}
    out = {}
    for m in sorted({e["module"] for e in pool.values()}):
        qs = sorted((e["cost_s"], n) for n, e in pool.items() if e["module"] == m)
        name = qs[(len(qs) - 1) // 2][1]
        out[name] = pool[name]
    return out


def write(pool):
    for e in pool.values():
        e.pop("cold_cost_s")
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump({"suite_mix": dict(sorted(pool.items()))}, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()

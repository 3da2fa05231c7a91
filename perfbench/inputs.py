"""Compares the generated inputs with a reference copy of the sf0.1 tables.

    python3 perfbench/inputs.py <reference sf0.1 dir>

Run from the repository root. For each of the ten tables it prints, side by
side for the generated tables (`gen.py`) and the reference: row count, and
per column the distinct and null counts, min, max and mean (mean length for
strings); for `documents` also the token statistics and the duplicate and
near-duplicate counts the dedup operators work on. It also runs the
`suite_mix` queries of `expected.json` on both (the `record` JVM: two passes
each, shared caches released before each query) and reports their output
row counts and warm cost. It writes all of it to `perfbench/inputs.json`.
"""
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import record  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _num(v):
    return round(float(v), 4) if isinstance(v, (int, float)) else str(v)


def table_stats(con, path):
    cols = con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()
    out = {"rows": con.execute(f"SELECT count(*) FROM '{path}'").fetchone()[0], "columns": {}}
    for name, typ, *_ in cols:
        if typ.endswith("[]"):
            expr = f"list_aggregate({name}, 'sum') / len({name})"
            what = "mean element"
        elif typ == "VARCHAR":
            expr, what = f"length({name})", "mean length"
        else:
            expr, what = name, "mean"
        mean = "NULL" if typ in ("TIMESTAMP", "DATE") else f"avg({expr})"
        d, n, lo, hi, m = con.execute(
            f"SELECT count(DISTINCT {name}), count(*) - count({name}), "
            f"min({expr}), max({expr}), {mean} FROM '{path}'").fetchone()
        out["columns"][name] = {"distinct": d, "nulls": n, "min": _num(lo), "max": _num(hi),
                                what: None if m is None else _num(m)}
    return out


def document_stats(con, path):
    toks = f"(SELECT doc_id, string_split(text, ' ') AS t FROM '{path}')"
    n_tok, p50, lo, hi = con.execute(
        f"SELECT avg(len(t)), median(len(t)), min(len(t)), max(len(t)) FROM {toks}").fetchone()
    vocab = con.execute(
        f"SELECT count(DISTINCT w) FROM (SELECT unnest(t) AS w FROM {toks})").fetchone()[0]
    exact = con.execute(
        f"SELECT count(*) - count(DISTINCT text) FROM '{path}'").fetchone()[0]
    # near duplicates: documents equal to another one plus a last word
    near = con.execute(
        f"SELECT count(DISTINCT a.doc_id) FROM {toks} a JOIN '{path}' b "
        f"ON array_to_string(a.t[1:len(a.t) - 1], ' ') = b.text").fetchone()[0]
    top = con.execute(
        f"SELECT max(c) / avg(c) FROM (SELECT count(*) AS c FROM "
        f"(SELECT unnest(t) AS w FROM {toks}) WHERE w <> 'dup' GROUP BY w)").fetchone()[0]
    return {"tokens_per_doc_mean": _num(n_tok), "tokens_per_doc_p50": _num(p50),
            "tokens_per_doc_min": lo, "tokens_per_doc_max": hi, "vocabulary": vocab,
            "exact_duplicate_docs": exact, "near_duplicate_docs": int(near),
            "top_token_freq_over_mean": _num(top)}


def stats(root):
    con = duckdb.connect()
    out = {t: table_stats(con, os.path.join(root, f"{t}.parquet")) for t in TABLES}
    out["documents"]["text"] = document_stats(con, os.path.join(root, "documents.parquet"))
    return out


def queries(cp, root):
    names = sorted(json.load(open(os.path.join(HERE, "expected.json")))["suite_mix"])
    lines = record.record(cp, root, names)
    return {x["name"]: {"rows": x.get("rows"), "warm_cost_s": round(x.get("cost_s", 0.0), 3),
                        "error": x.get("error")}
            for x in lines if x["pass"] == 2}


def main():
    if len(sys.argv) != 2:
        raise SystemExit("usage: inputs.py <reference sf0.1 dir>")
    ref, gen = sys.argv[1], run.inputs()
    cp = build.build()
    report = {"tables": {"generated": stats(gen), "reference": stats(ref)},
              "queries": {"generated": queries(cp, gen), "reference": queries(cp, ref)}}
    with open(os.path.join(HERE, "inputs.json"), "w") as fh:
        fh.write(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()

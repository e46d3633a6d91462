#!/usr/bin/env python3
"""Compare the shape of two graft.Bench records (before/after a Bench change).

Usage: python3 tools/bench_schema_diff.py <before.json> <after.json>

Reports every difference in: top-level key order; the skip_codes,
scale_order, scale_probe_runs, runs_per_query and bench_budget_s
values; the decimals each numeric field is printed with; the block_env
keys; and the key sets of queries, queries_min and the five sf_* maps.
It also re-derives each side's regression gate (`regressed`,
`pin_env_ratio`) from its own queries_min and the pins in
records/BENCH_r12_rehearsal{3,4}.json, and counts the probe rows that
did not read -3 (skipped_budget). Exit status 1 when anything differs.
"""
import json
import os
import sys

RECORDS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "records")

FIXED = ["skip_codes", "scale_order", "scale_probe_runs", "runs_per_query",
         "bench_budget_s"]
KEYED = ["queries", "queries_min", "sf_x10", "sf_x100", "sf_x1000",
         "sf_x100_organic", "sf_x1000_organic"]
SF = KEYED[2:]


def load(path):
    """The record with every number kept as its printed text."""
    with open(path) as f:
        return json.loads(f.read(), parse_float=str, parse_int=str)


def pins():
    a, b = (json.load(open(os.path.join(RECORDS, f"BENCH_r12_rehearsal{i}.json")))["queries_min"]
            for i in (3, 4))
    return {k: min(v, b[k]) if b.get(k, -1) >= 0 else v
            for k, v in a.items() if v >= 0}


def gate(rec, pin):
    """(pin_env_ratio, regressed) as Bench computes them."""
    mins = {k: float(v) for k, v in rec["queries_min"].items()}
    ratios = sorted(m / pin[k] for k, m in mins.items()
                    if m >= 0 and pin.get(k, 0) > 0.05)
    env = max(1.0, ratios[len(ratios) // 2]) if ratios else 1.0
    reg = sorted(k for k, m in mins.items() if m >= 0 and k in pin
                 and m > pin[k] * env * 2.0 and m > pin[k] * env + 0.25)
    return env, reg


def decimals(v):
    return len(v.split(".")[1]) if isinstance(v, str) and "." in v else 0


def main(before, after):
    recs = {"before": load(before), "after": load(after)}
    a, b = recs["before"], recs["after"]
    diffs = []
    if list(a) != list(b):
        diffs.append(f"top-level key order: {list(a)} != {list(b)}")
    for k in FIXED:
        if a.get(k) != b.get(k):
            diffs.append(f"{k}: {a.get(k)} != {b.get(k)}")
    for k in a.keys() & b.keys():
        if isinstance(a[k], str) and isinstance(b[k], str) and \
                decimals(a[k]) != decimals(b[k]):
            diffs.append(f"{k} printed with {decimals(a[k])} vs {decimals(b[k])} decimals")
    if list(a.get("block_env", {})) != list(b.get("block_env", {})):
        diffs.append(f"block_env keys: {list(a['block_env'])} != {list(b['block_env'])}")
    for k in KEYED:
        ka, kb = set(a.get(k, {})), set(b.get(k, {}))
        if ka != kb:
            diffs.append(f"{k} keys: {len(ka - kb)} only before {sorted(ka - kb)[:10]}, "
                         f"{len(kb - ka)} only after {sorted(kb - ka)[:10]}")
    pin = pins()
    for side, rec in recs.items():
        env, reg = gate(rec, pin)
        # mins are printed to 3 dp, so the re-derived ratio is close,
        # not exact
        if abs(env / float(rec["pin_env_ratio"]) - 1) > 0.005 or \
                reg != sorted(rec["regressed"]):
            diffs.append(f"{side}: gate does not re-derive "
                         f"(pin_env_ratio {rec['pin_env_ratio']} vs {env:.3f}, "
                         f"regressed {rec['regressed']} vs {reg})")
        rows = {k: len(rec[k]) for k in SF}
        live = sum(1 for k in SF for v in rec[k].values() if float(v) != -3.0)
        print(f"{side}: complete={rec['complete']} queries={len(rec['queries'])} "
              f"probe rows {rows} not -3: {live} regressed={len(rec['regressed'])}")
    for d in diffs:
        print("DIFF", d)
    print(f"{len(diffs)} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))

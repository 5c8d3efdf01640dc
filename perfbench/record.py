#!/usr/bin/env python3
"""Writes perfbench/expected.json from recorded runs.

Usage: python3 perfbench/record.py

Reads every perfbench/.work/out/record-<workload>-<seed>.json left by
`run.py --record` (record at least two seeds per workload, on a commit
whose graft.Verify dump passes scripts/check.py). A key whose row count
and digest agree across all recorded calls keeps both; a key whose digest
varies (sampling, random walks) keeps its row count only and is listed; a
key whose row count varies cannot be checked and stops the script.
Workloads without records keep their entries.
"""
import glob
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    seen = {}
    for path in sorted(glob.glob(os.path.join(HERE, ".work", "out", "record-*.json"))):
        workload, seed = re.match(r"record-(\w+)-(\d+)\.json", os.path.basename(path)).groups()
        for c in json.load(open(path)):
            if c.get("error"):
                sys.exit(f"{workload} seed {seed}: {c['key']} failed: {c['error']}")
            seen.setdefault(workload, {}).setdefault(c["key"], []).append((seed, c["rows"], c["digest"]))
    path = os.path.join(HERE, "expected.json")
    expected = json.load(open(path)) if os.path.exists(path) else {}
    for workload, keys in sorted(seen.items()):
        seeds = {s for obs in keys.values() for s, _, _ in obs}
        if len(seeds) < 2:
            sys.exit(f"{workload}: record at least two seeds (have {sorted(seeds)})")
        expected[workload] = {}
        for key, obs in sorted(keys.items()):
            rows = {r for _, r, _ in obs}
            if len(rows) > 1:
                sys.exit(f"{workload}: {key} row count varies: {sorted(rows)}")
            entry = {"rows": rows.pop()}
            if len({d for _, _, d in obs}) == 1:
                entry["digest"] = obs[0][2]
            else:
                print(f"{workload}: {key} digest varies across runs; checking its row count only")
            expected[workload][key] = entry
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote expected values for {', '.join(f'{w} ({len(k)} keys)' for w, k in expected.items())}")


if __name__ == "__main__":
    main()

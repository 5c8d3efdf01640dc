#!/usr/bin/env python3
"""Join census of a graft.Bench event log: per bench key, its Spark jobs and
the join operators of its final adaptive plans.

graft.Bench labels every job of a key with the description `bench:<key>`;
Spark copies that description onto the key's SQL executions. This script
attributes executions and jobs to keys through it, takes each execution's
last plan (the final adaptive plan, query stages included) and counts the
BroadcastHashJoin, BroadcastNestedLoopJoin, SortMergeJoin and
ShuffledHashJoin nodes in it.

Usage:
  scripts/join_census.py LOG                      # one census table
  scripts/join_census.py PARENT_LOG CHANGE_LOG    # only the keys that differ
  ... [--bench PARENT_JSON [CHANGE_JSON]]         # add wall times from bench_<sf>.json

LOG is an event-log file or a rolling event-log directory (its events_*
files are read in order). The logs must be uncompressed; record them with
  GRAFT_EXTRA_JVM_OPTS="-Dspark.eventLog.enabled=true \
    -Dspark.eventLog.compress=false -Dspark.eventLog.dir=file:///some/dir" \
  sbt -batch "runMain graft.Bench"
"""
import argparse
import json
import os
import re
import sys
from collections import defaultdict

SHORT = {"BroadcastHashJoin": "bhj", "BroadcastNestedLoopJoin": "bnlj",
         "SortMergeJoin": "smj", "ShuffledHashJoin": "shj"}
COLUMNS = ("jobs",) + tuple(SHORT.values())
SQL = "org.apache.spark.sql.execution.ui."


def event_files(path):
    if os.path.isdir(path):
        names = [n for n in os.listdir(path) if n.startswith("events_")]
        index = lambda n: int(re.match(r"events_(\d+)_", n).group(1))
        return [os.path.join(path, n) for n in sorted(names, key=index)]
    return [path]


def key_of(description):
    if description and description.startswith("bench:"):
        return description[len("bench:"):]
    return None


def count_joins(plan, counts):
    name = plan.get("nodeName", "")
    if name in SHORT:
        counts[SHORT[name]] += 1
    for child in plan.get("children", []):
        count_joins(child, counts)


def census(path):
    """{key: {column: count}} for every key with at least one job."""
    exec_key = {}
    final_plan = {}
    table = defaultdict(lambda: dict.fromkeys(COLUMNS, 0))
    for f in event_files(path):
        with open(f, encoding="utf-8") as lines:
            for line in lines:
                if '"Event":"SparkListenerJobStart"' not in line and SQL not in line:
                    continue
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    key = key_of((e.get("Properties") or {}).get("spark.job.description"))
                    if key:
                        table[key]["jobs"] += 1
                elif kind == SQL + "SparkListenerSQLExecutionStart":
                    key = key_of(e.get("description"))
                    if key:
                        exec_key[e["executionId"]] = key
                        final_plan[e["executionId"]] = e["sparkPlanInfo"]
                elif kind == SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                    if e["executionId"] in exec_key:
                        final_plan[e["executionId"]] = e["sparkPlanInfo"]
    for execution, key in exec_key.items():
        count_joins(final_plan[execution], table[key])
    return dict(table)


def walls(path):
    if not path:
        return {}
    with open(path, encoding="utf-8") as f:
        bench = json.load(f)
    return {**bench.get("setup", {}), **bench.get("queries", {})}


def row(values):
    return " ".join(f"{values[c]:>5}" for c in COLUMNS)


def seconds(wall, key):
    w = wall.get(key)
    return f"{'-' if w is None else f'{w:.2f}':>8}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("logs", nargs="+", help="one log for a census, two to compare")
    ap.add_argument("--bench", nargs="+", default=[], help="bench_<sf>.json per log, for wall times")
    args = ap.parse_args()
    if len(args.logs) > 2 or len(args.bench) > len(args.logs):
        ap.error("give one or two logs, and at most one bench file per log")
    tables = [census(p) for p in args.logs]
    times = [walls(p) for p in args.bench] + [{}] * (len(args.logs) - len(args.bench))
    header = " ".join(f"{c:>5}" for c in COLUMNS)
    if len(tables) == 1:
        (table,), (wall,) = tables, times
        print(f"{'key':<34} {header} {'wall_s':>8}")
        for key in sorted(table):
            print(f"{key:<34} {row(table[key])} {seconds(wall, key)}")
        totals = {c: sum(v[c] for v in table.values()) for c in COLUMNS}
        print(f"{'TOTAL (' + str(len(table)) + ' keys)':<34} {row(totals)}")
        return 0
    parent, change = tables
    zero = dict.fromkeys(COLUMNS, 0)
    differ = [k for k in sorted(set(parent) | set(change))
              if parent.get(k, zero) != change.get(k, zero)]
    print(f"{'key':<34} side   {header} {'wall_s':>8}")
    for key in differ:
        for side, table, wall in (("parent", parent, times[0]), ("change", change, times[1])):
            print(f"{key:<34} {side} {row(table.get(key, zero))} {seconds(wall, key)}")
    same = len(set(parent) | set(change)) - len(differ)
    print(f"{len(differ)} keys differ, {same} unchanged")
    return 0


if __name__ == "__main__":
    sys.exit(main())

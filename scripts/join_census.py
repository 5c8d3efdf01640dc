#!/usr/bin/env python3
"""Join census of a graft.Bench event log: per bench key, its Spark jobs, its
parquet schema-inference jobs and the join operators of its final adaptive
plans.

graft.Bench labels every job of a key with the description `bench:<key>`;
Spark copies that description onto the key's SQL executions. This script
attributes executions and jobs to keys through it, takes each execution's
last plan (the final adaptive plan, query stages included) and counts the
BroadcastHashJoin, BroadcastNestedLoopJoin, SortMergeJoin and
ShuffledHashJoin nodes in it. A join that AQE split for skew
(`SortMergeJoin(skew=true)`, `ShuffledHashJoin(skew=true)`) counts under its
join type and again in the `skew` column. The `schema` column counts the
jobs that `spark.read.parquet` runs to infer a schema: their stage is named
after the call site (`parquet at Tables.scala:13`), and they run outside any
SQL execution, unlike a parquet write's jobs. A one-log census also lists
these jobs by call site, keyed or not.

Usage:
  scripts/join_census.py LOG                      # one census table
  scripts/join_census.py PARENT_LOG CHANGE_LOG    # only the keys that differ
  scripts/join_census.py --parent LOG... --change LOG...
                                                  # the same, several runs per side
  ... [--bench JSON...]                           # add wall times from bench_<sf>.json,
                                                  # one per log, in log order

With several runs per side each side shows its min-max per column. Job
counts of one tree can differ by a job between runs, so a key differs only
when its join counts differ or its job ranges do not overlap.

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
SKEW = "(skew=true)"
COLUMNS = ("jobs", "schema") + tuple(SHORT.values()) + ("skew",)
INFER = "parquet at "
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
    join = name.removesuffix(SKEW)
    if join in SHORT:
        counts[SHORT[join]] += 1
        counts["skew"] += join != name
    for child in plan.get("children", []):
        count_joins(child, counts)


def schema_site(job):
    """The call site of a schema-inference job, or None for any other job."""
    if "spark.sql.execution.id" in (job.get("Properties") or {}):
        return None
    return next((s["Stage Name"] for s in job["Stage Infos"]
                 if s["Stage Name"].startswith(INFER)), None)


def census(path):
    """({key: {column: count}} for every key with at least one job,
    {call site: schema-inference jobs})."""
    exec_key = {}
    final_plan = {}
    table = defaultdict(lambda: dict.fromkeys(COLUMNS, 0))
    sites = defaultdict(int)
    for f in event_files(path):
        with open(f, encoding="utf-8") as lines:
            for line in lines:
                if '"Event":"SparkListenerJobStart"' not in line and SQL not in line:
                    continue
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    key = key_of((e.get("Properties") or {}).get("spark.job.description"))
                    site = schema_site(e)
                    if site:
                        sites[site] += 1
                    if key:
                        table[key]["jobs"] += 1
                        table[key]["schema"] += site is not None
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
    return dict(table), dict(sites)


def walls(path):
    if not path:
        return {}
    with open(path, encoding="utf-8") as f:
        bench = json.load(f)
    return {**bench.get("setup", {}), **bench.get("queries", {})}


def spans(tables, key):
    """{column: (min, max)} of `key` over one side's census tables."""
    zero = dict.fromkeys(COLUMNS, 0)
    values = [t.get(key, zero) for t in tables]
    return {c: (min(v[c] for v in values), max(v[c] for v in values)) for c in COLUMNS}


def differs(parent, change):
    lo_p, hi_p = parent["jobs"]
    lo_c, hi_c = change["jobs"]
    return hi_p < lo_c or hi_c < lo_p or any(parent[c] != change[c] for c in COLUMNS[1:])


def span_row(span):
    return " ".join(f"{str(lo) if lo == hi else f'{lo}-{hi}':>7}" for lo, hi in span.values())


def seconds(walls, key):
    ws = [w.get(key) for w in walls]
    text = "/".join("-" if w is None else f"{w:.2f}" for w in ws) if ws else "-"
    return f"{text:>8}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("logs", nargs="*", help="one log for a census, two to compare")
    ap.add_argument("--parent", nargs="+", default=[], help="the parent's logs")
    ap.add_argument("--change", nargs="+", default=[], help="the change's logs")
    ap.add_argument("--bench", nargs="+", default=[], help="bench_<sf>.json per log, in log order")
    args = ap.parse_args()
    if args.parent or args.change:
        if args.logs or not (args.parent and args.change):
            ap.error("give --parent and --change logs, and no positional log")
        sides = [args.parent, args.change]
    elif len(args.logs) == 1:
        sides = [args.logs]
    elif len(args.logs) == 2:
        sides = [args.logs[:1], args.logs[1:]]
    else:
        ap.error("give one or two logs, or --parent and --change")
    logs = [p for side in sides for p in side]
    if len(args.bench) > len(logs):
        ap.error("give at most one bench file per log")
    walls_by_log = [walls(p) for p in args.bench] + [None] * (len(logs) - len(args.bench))
    tables, sites, times, i = [], [], [], 0
    for side in sides:
        censuses = [census(p) for p in side]
        tables.append([t for t, _ in censuses])
        sites.append([s for _, s in censuses])
        times.append([w for w in walls_by_log[i:i + len(side)] if w is not None])
        i += len(side)
    header = " ".join(f"{c:>7}" for c in COLUMNS)
    if len(sides) == 1:
        (table,), (wall,), ((site,),) = tables, times, sites
        print(f"{'key':<34} {header} {'wall_s':>8}")
        for key in sorted(table[0]):
            print(f"{key:<34} {span_row(spans(table, key))} {seconds(wall, key)}")
        totals = {c: (sum(v[c] for v in table[0].values()),) * 2 for c in COLUMNS}
        print(f"{'TOTAL (' + str(len(table[0])) + ' keys)':<34} {span_row(totals)}")
        print(f"\nschema-inference jobs by call site ({sum(site.values())}, keyed or not):")
        for call, n in sorted(site.items(), key=lambda kv: (-kv[1], kv[0])):
            print(f"{n:>7}  {call}")
        return 0
    keys = sorted(set().union(*(t.keys() for side in tables for t in side)))
    differ = [k for k in keys if differs(spans(tables[0], k), spans(tables[1], k))]
    print(f"{'key':<34} side   {header} {'wall_s':>8}")
    for key in differ:
        for side, table, wall in zip(("parent", "change"), tables, times):
            print(f"{key:<34} {side} {span_row(spans(table, key))} {seconds(wall, key)}")
    print(f"{len(differ)} keys differ, {len(keys) - len(differ)} unchanged")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload iterative|single_pass|volume_sf1 \
      --seed N --seconds S --trace 0|1 [--record]

Builds the engine and the benchmark from source (once per source tree),
generates the workload's inputs from the seed, runs set-up and a closed
loop of whole passes over the workload's operator calls for S seconds, and
checks every call's row count and digest against perfbench/expected.json.
With --trace 0 it prints the end-to-end metrics, with --trace 1 the
per-layer metrics (and writes a span file under perfbench/.work/out/).
The last stdout line is one JSON object: correct, attempted, failed,
metrics. --record also stores every call's output for record.py.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOAD_SF = {"iterative": "0.1", "single_pass": "0.1", "volume_sf1": "1"}
# End-to-end metrics, in the order BENCHMARK.json lists them.
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("call_p50_s", "s")]
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170
# Median wall time of one speed-probe chunk (Speed.scala) on an idle 4-core
# Xeon VM at 2.0 GHz. End-to-end times are scaled to this speed.
REF_PROBE_NS = 650_000
START = time.time()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    """Cores from nproc; a non-numeric answer is refused, not guessed at."""
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    out = subprocess.run(["nproc"], capture_output=True, text=True, env=env).stdout.strip()
    if not out.isdigit() or int(out) < 1:
        fail(f"nproc returned {out!r}, not a core count")
    return int(out)


def heap():
    """The Tier-1 SPARK_DRIVER_MEM formula: half of RAM, clamped to 2..8 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return files


def tree_id():
    h = hashlib.sha1()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def commit(tree):
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return f"tree-{tree[:12]}"


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build(tree):
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == tree and os.path.isdir(CLASSES):
        return False
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(WORK, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (log: {log})")
    with open(stamp, "w") as f:
        f.write(tree)
    print(f"built in {time.time() - t0:.1f}s")
    return True


def run_jvm(args, n_cores, mem, data, warm, out, spans, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{mem}", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "graft.perfbench.Main", "--workload", args.workload, "--data", data, "--warm", warm,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out, "--spans", spans]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_SHUFFLE_PARTITIONS"}
    env.update(SPARK_GRAFT_CPUS=str(n_cores), SPARK_DRIVER_MEM=mem,
               SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_LIMIT_S}s (log: {log})")
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"benchmark JVM exited with {rc} (log: {log})")
    with open(out) as f:
        return json.load(f)


def percentile(xs, q):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(len(xs) * q / 100) - 1)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"no engine sources under {ROOT}: run from a checkout of the repository")
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    n_cores, mem = cores(), heap()
    os.makedirs(WORK, exist_ok=True)
    tree = tree_id()
    # A build may take the first run past the usual limit; the run itself may not.
    deadline = (time.time() if build(tree) else START) + RUN_LIMIT_S

    sf = WORKLOAD_SF[args.workload]
    t0 = time.time()
    base = os.path.join(WORK, "base")
    warm = gen.ensure_base(base, "0.001")
    data = os.path.join(WORK, "run", f"{args.workload}-{args.seed}")
    shutil.rmtree(data, ignore_errors=True)
    gen.permute(gen.ensure_base(base, sf), data, args.seed)
    print(f"inputs: sf{sf}, seed {args.seed}, generated in {time.time() - t0:.1f}s (not in setup_s)")

    outdir = os.path.join(WORK, "out")
    os.makedirs(outdir, exist_ok=True)
    tag = f"{args.workload}-{args.seed}-{args.trace}"
    spans = os.path.join(outdir, f"spans-{tag}.jsonl")
    try:
        res = run_jvm(args, n_cores, mem, data, warm, os.path.join(outdir, f"result-{tag}.json"),
                      spans, deadline)
    finally:
        shutil.rmtree(data, ignore_errors=True)

    e = res["env"]
    print(f"env: cores={n_cores} ({e['master']}) heap={mem} ({e['heap_mb']:.0f} MB max) gc={e['gc']} "
          f"spark={e['spark']} shuffle_partitions={e['shuffle_partitions']} commit={commit(tree)} "
          f"steal={e['steal_pct']:.2f}%")

    calls = res["calls"]
    expected = {}
    exp_path = os.path.join(HERE, "expected.json")
    if os.path.exists(exp_path):
        expected = json.load(open(exp_path)).get(args.workload, {})
    errors = [c for c in calls if "error" in c]
    mismatches = []
    for c in calls:
        if "error" in c or args.record:
            continue
        want = expected.get(c["key"])
        if want is None or want["rows"] != c["rows"] or want.get("digest", c["digest"]) != c["digest"]:
            mismatches.append(c)
    for c in errors:
        print(f"FAIL {c['key']} (pass {c['pass']}): {c['error'][:300]}")
    for c in mismatches:
        print(f"MISMATCH {c['key']} (pass {c['pass']}): rows={c['rows']} digest={c['digest']} "
              f"expected={expected.get(c['key'])}")
    if args.record:
        with open(os.path.join(outdir, f"record-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump([{k: c.get(k) for k in ("key", "rows", "digest", "error")} for c in calls], f)

    attempted, failed = len(calls), len(errors) + len(mismatches)
    untraced = [p for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    secs = [c["seconds"] for c in calls if not res["passes"][c["pass"]]["traced"]]
    setup = res["setup"]
    print(f"calls: {attempted} attempted, {failed} failed, error_rate={failed / attempted:.4f} "
          f"over {len(res['passes'])} passes of {len(calls) // len(res['passes'])} calls")
    if args.trace == 0:
        n = len(secs)
        # On a shared host the same work takes longer while the hypervisor
        # takes CPU time from the machine (steal) or neighbours slow every
        # core. Each time below has its interval's steal share removed and
        # is scaled by this run's probe speed, so runs in busy and quiet
        # minutes measure the same thing. NOTES.md, "Noise", says why.
        speed = REF_PROBE_NS / statistics.median(res["speed_ns"])
        raw_setup = setup["create_s"] + setup["warmup_s"] + setup["memo_s"]
        raw_wall = statistics.median(p["wall_s"] for p in untraced)
        e2e = {
            "setup_s": raw_setup * (1 - setup["steal_share"]) * speed,
            "wall_s": statistics.median(p["wall_s"] * (1 - p["steal_share"]) for p in untraced) * speed,
            "call_p50_s": statistics.median(c["seconds"] * (1 - c["steal_share"]) for c in calls
                                            if not res["passes"][c["pass"]]["traced"]) * speed,
        }
        pass_steal = ", ".join(f"{p['steal_share']:.2%}" for p in untraced)
        print(f"speed: x{speed:.4f} (median of {len(res['speed_ns'])} probe chunks "
              f"against {REF_PROBE_NS / 1e6:g} ms); steal share: set-up "
              f"{setup['steal_share']:.2%}, passes {pass_steal}")
        print(f"setup_s: create {setup['create_s']:.3f} s + warm-up {setup['warmup_s']:.3f} s "
              f"+ memo {setup['memo_s']:.3f} s = {raw_setup:.3f} s as measured")
        print(f"wall_s: median pass wall of {len(untraced)} passes; {raw_wall:.3f} s as measured")
        print(f"call_p50_s: median of {n} calls; {statistics.median(secs):.3f} s as measured")
        # Printed, not bounded: too unsteady at sf0.1 (see NOTES.md).
        print(f"peak_heap_mb: {res['peak_heap_mb']:.1f} MB after full collections")
        tail = [q for q in (99, 95, 90, 75, 50) if n - math.ceil(n * q / 100) >= 10]
        if tail:
            print(f"call_tail_s: p{tail[0]} of {n} calls = {percentile(secs, tail[0]):.4f} s")
        else:
            print(f"call_tail_s: omitted, {n} calls leave fewer than ten beyond the median")
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    else:
        metrics = {l["name"]: {"value": l["value"], "unit": l["unit"]} for l in res["layers"]}
        for l in res["layers"]:
            if l["base"]:
                print(f"{l['name']}: base {l['base']}")
        wall_t, wall_u = statistics.median(p["wall_s"] for p in traced), untraced[-1]["wall_s"]
        accounted = sum(v["value"] for k, v in metrics.items()
                        if k.endswith(".call_s")) + metrics["session.release_s"]["value"]
        print(f"traced wall_s={wall_t:.4f} over {len(traced)} passes; tracing overhead "
              f"{wall_t - wall_u:+.4f} s against the untraced pass before them ({wall_u:.4f} s)")
        print(f"module call_s + session.release_s = {accounted:.4f} s of traced wall_s "
              f"{statistics.mean(p['wall_s'] for p in traced):.4f} s (mean)")
        print(f"spans: {os.path.relpath(spans, ROOT)}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload logdriver|queries --seed N --seconds S --trace 0|1

Builds the program and the harness from source (perfbench/build.sbt, sbt
offline) when the sources changed, runs perfbench.Main in a fresh JVM sized
from the host over the committed sf0.1 fixture, checks the outputs and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full record (raw samples, named failures, session
settings, host gauges, spans) is kept under perfbench/.work/artifacts/.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import metrics  # noqa: E402

T0 = time.time()
WORKLOADS = ("logdriver", "queries")
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench {time.time() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def sources():
    trees = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and harness with sbt (offline) if needed;
    return the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    want = stamp(sources())
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                with open(cp_file) as c:
                    return c.read().strip()
    log("building (sbt exportClasspath)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                       "-Dsbt.server.autostart=false -Xmx2g")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        env["SBT_OPTS"] += f" -Dsbt.repository.config={repos}"
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    with open(cp_file) as c:
        return c.read().strip()


def heap():
    """Driver heap from MemTotal: half the RAM in GiB, clamped to 2..8 g."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def java_command(cp, args, run_dir, lists):
    """The JVM command line; the seed is passed on and used for nothing else."""
    out = os.path.join(run_dir, "raw.json")
    cmd = ["java", f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=1g",
           f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--fixture", lists["fixture"], "--work", run_dir, "--out", out]
    for k in ("queries", "fixed", "probe-queries", "warmup", "check", "results"):
        if k in lists:
            cmd += [f"--{k}", lists[k]]
    return cmd


def launch(cp, args, run_dir, lists):
    out = os.path.join(run_dir, "raw.json")
    cmd = java_command(cp, args, run_dir, lists)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=1800 if os.environ.get("PERFBENCH_ALL") else 170)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("run exceeded its time limit")
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"benchmark JVM failed (rc={rc})")
    with open(out) as fh:
        return json.load(fh)


def check_queries(raw, names, results, expected):
    """Row count and digest of every query result against the committed
    DuckDB-twin digests; failures are named in the record. A result that
    is missing or cannot be read fails its check: the run is not correct."""
    import duckdb
    con = duckdb.connect()
    rec = raw["record"]
    for name in names:
        rec["attempted"] += 1
        path = os.path.join(results, name)
        if not os.path.isdir(path):
            if not any(f["name"] in (name, f"{name}.result") for f in rec["failures"]):
                rec["failures"].append({"name": f"{name}.check", "kind": "wrong",
                                        "reason": "no result written"})
            continue  # otherwise the JVM already named this failure
        try:
            rows, dig = metrics.digest(con, con.sql(f"SELECT * FROM '{path}/*.parquet'"))
        except Exception as e:  # noqa: BLE001 - any read error is a failure
            rec["failures"].append({"name": f"{name}.check", "kind": "wrong",
                                    "reason": str(e)[:300]})
            continue
        want = expected.get(name)
        if want is None:
            ok = rows > 0
        else:
            ok = rows == want["rows"] and dig == want["digest"]
        if not ok:
            rec["failures"].append({"name": f"{name}.check", "kind": "wrong", "reason":
                                    f"rows={rows} digest={dig[:12]} want {want}"})


def correct(rec):
    """A run is correct when no output check found a wrong or missing
    result; failed or refused operations are counted, and named in the
    artifact, but leave the outputs checkable."""
    return not any(f["kind"] == "wrong" for f in rec["failures"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("program sources not found: run from the repository root")
    with open(os.path.join(HERE, "queries.json")) as fh:
        spec = json.load(fh)
    t0 = time.time()
    cp = build()
    lists = {"fixture": os.path.join(HERE, "fixture", "sf0.1")}
    os.makedirs(WORK, exist_ok=True)
    for stale in os.listdir(WORK):  # left by a run that was killed
        if stale.startswith("run-"):
            shutil.rmtree(os.path.join(WORK, stale), ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)

    def list_file(key, items):
        lists[key] = os.path.join(run_dir, f"{key}.txt")
        with open(lists[key], "w") as fh:
            fh.write("\n".join(items) + "\n")

    list_file("warmup", spec["lists"]["warmup"])
    names = []
    if args.workload != "logdriver":
        # PERFBENCH_ALL=floor|heavy: every query of that class once (for derive.py)
        cls = os.environ.get("PERFBENCH_ALL")
        names = spec["classes"][cls] if cls else spec["lists"]["queries"]
        list_file("queries", names)
        list_file("fixed", [] if cls else spec["lists"]["fixed_order"])
        # every run checks half the list, alternating with the seed's parity,
        # so two consecutive seeds check every query
        checked = [n for i, n in enumerate(names) if (i + args.seed) % 2 == 0]
        list_file("check", checked)
        lists["results"] = os.path.join(run_dir, "results")
    else:
        list_file("probe-queries", spec["lists"]["probe"])
    adir = os.path.join(WORK, "artifacts")
    os.makedirs(adir, exist_ok=True)
    apath = os.path.join(adir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t0)}.json")
    try:
        raw = launch(cp, args, run_dir, lists)
        log("JVM done")
        if names:
            check_queries(raw, checked, lists["results"], spec["digests"])
            log("outputs checked")
        rec = raw["record"]
        try:
            cores = rec["values"]["session"]["cores"]
            e2e = metrics.end_to_end(args.workload, raw)
            layers = metrics.per_layer(args.workload, raw, cores) if args.trace else {}
        except Exception:
            with open(apath, "w") as fh:
                json.dump({"error": "metrics", "raw": raw}, fh)
            raise
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    chosen = layers if args.trace else e2e
    result = {
        "correct": correct(rec),
        "attempted": int(rec["attempted"]),
        "failed": len(rec["failures"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "wall_s": time.time() - t0,
        "session": rec["values"]["session"],
        "host": {"start": rec["values"]["host_start"], "end": rec["values"]["host_end"]},
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
        "failures": rec["failures"], "raw": raw,
    }
    with open(apath, "w") as fh:
        json.dump(artifact, fh)
    for f in rec["failures"]:
        log(f"{f['kind'].upper()} {f['name']}: {f['reason']}")
    for k, (v, u) in sorted(e2e.items()):
        log(f"{k} = {v:.6g} {u}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()

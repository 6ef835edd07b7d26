#!/usr/bin/env python3
"""Benchmark entry point: build the program and the harness, run one
workload, check its outputs and print the metrics as one JSON line.

    python3 perfbench/run.py --workload topic_scan --seed 1 --seconds 15 --trace 0

Run it from the repository root. The first run in a checkout compiles the
program and the harness with sbt (offline) and caches the classpath under
`.bench_build/`; later runs reuse it while the sources are unchanged. The
harness JVM writes `result.json`; this script adds the registry's DuckDB
oracle comparison, computes the end-to-end metrics (`--trace 0`) or the
per-layer metrics (`--trace 1`) named in BENCHMARK.json, and prints them as
the last line of standard output. Everything else goes to standard error.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("topic_scan", "topic_tail", "registry_heavy")
# Whole benchmark process must end within this; the harness gets the rest.
BUDGET_S = 175
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Hash of every input of the build: program and harness sources."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Classpath of the compiled program plus harness, building if stale."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"program sources not found: {need} is missing under {ROOT}")
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"], stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness with sbt")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("build failed")
    classpath = r.stdout.strip().splitlines()[-1].strip()
    log(f"built in {time.time() - t0:.1f}s")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath, stamp


def git_sha():
    """HEAD of the checkout, or None when the checkout is not itself a git
    repository (a parent directory's repository does not count)."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    lines = r.stdout.split()
    if r.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_mb():
    """A fifth of the machine's memory, between 1 and 4 GiB."""
    total_kb = 8 << 20
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
    except OSError:
        pass
    return max(1024, min(4096, total_kb // 5 // 1024))


def run_harness(classpath, args, work, fixture, deadline):
    cmd = (["java", f"-Xms{heap_mb()}m", f"-Xmx{heap_mb()}m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), work, fixture, str(cores())])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise SystemExit("harness timed out" if rc is None else f"harness exited with {rc}")


def compare(got_rel, want_rel):
    """None when the two relations hold the same rows (column names sorted,
    rows sorted, doubles equal to 1e-9 relative), else the first difference."""
    gc = [c.lower() for c in got_rel.columns]
    wc = [c.lower() for c in want_rel.columns]
    if sorted(gc) != sorted(wc):
        return f"columns {sorted(gc)} != {sorted(wc)}"

    def norm(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted((tuple(r[i] for i in order) for r in rows),
                      key=lambda r: tuple(str(x) for x in r))
    got, want = norm(got_rel.fetchall(), gc), norm(want_rel.fetchall(), wc)
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, float):
                if not (a == b or (math.isnan(a) and math.isnan(b))
                        or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))):
                    return f"row {g} != {w}"
            elif a != b:
                return f"row {g} != {w}"
    return None


def check_registry(result, fixture, work):
    """Each entry's warm-up output against DuckDB running its oracle SQL on
    the same fixture, and every timed operation's row count against the
    oracle's. Returns False when the oracle itself could not run."""
    import duckdb
    con = duckdb.connect()
    for name in os.listdir(fixture):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(fixture, name)}')")
    verdict = {}
    for entry, sql in result["oracles"].items():
        try:
            want = con.sql(sql)
            n_want = len(con.sql(sql).fetchall())
        except duckdb.Error as e:
            log(f"oracle for {entry} failed: {e}")
            return False
        out = os.path.join(work, "registry-out", entry)
        if not os.path.isdir(out):
            verdict[entry] = ("no output from the warm-up pass", n_want)
            continue
        got = con.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')")
        verdict[entry] = (compare(got, want), n_want)
    for op in result["ops"]:
        why, n_want = verdict[op["name"]]
        if why is None and op["ok"] and op["rows"] != n_want:
            why = f"count {op['rows']}, oracle {n_want}"
        if why is not None and op["ok"]:
            op["ok"], op["detail"] = False, why
            log(f"{op['name']} wrong: {why}")
    return True


def percentile(sorted_ms, q):
    """Nearest-rank percentile."""
    return sorted_ms[max(0, math.ceil(q * len(sorted_ms)) - 1)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + BUDGET_S

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath, stamp = build()
    deadline = max(deadline, time.time() + 150)  # a first build may use its own budget
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    with open(os.path.join(HERE, "fixture.py"), "rb") as f:
        generator = hashlib.sha256(f.read()).hexdigest()[:12]
    fixture = os.path.join(BUILD, f"fixture-{args.seed}-{generator}")
    if args.workload == "registry_heavy" and not os.path.exists(os.path.join(fixture, "_DONE")):
        sys.path.insert(0, HERE)
        import fixture as fx
        fx.write(args.seed, fixture)
        open(os.path.join(fixture, "_DONE"), "w").close()
    try:
        run_harness(classpath, args, work, fixture, deadline)
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
        oracle_ran = True
        if args.workload == "registry_heavy":
            oracle_ran = check_registry(result, fixture, work)
    finally:
        if args.trace:
            spans = os.path.join(work, "spans.json")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(BUILD, f"spans-{args.workload}-{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)

    ops = result["ops"]
    ok_ms = sorted(o["ms"] for o in ops if o["ok"])
    failed = sum(1 for o in ops if not o["ok"])
    # a failed or wrong operation makes the whole run incorrect
    correct = oracle_ran and failed == 0
    env = dict(result["env"], git_sha=git_sha(), source_sha256=stamp,
               workload=args.workload, seconds=args.seconds, trace=args.trace)
    print(json.dumps({"env": env}))
    if args.trace:
        layers = dict(result["layers"], **result["setup"])
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        if not ok_ms:
            raise SystemExit("no operation succeeded")
        values = {
            "setup_s": result["setup_s"],
            "op_p50_ms": percentile(ok_ms, 0.5),
            "op_p90_ms": percentile(ok_ms, 0.9),
            "ops_per_s": len(ok_ms) / (sum(o["ms"] for o in ops) / 1000.0),
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

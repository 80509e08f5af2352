#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the repository root:

    python3 bench/run.py --workload <query_mix|cdc_bulk> \
        --seed <n> --seconds <s> --trace <0|1>

The first run builds the program and the harness from source with sbt
(offline) into the build directory; later runs reuse the build while
the sources are unchanged. Each run starts one JVM on local[nproc],
measures for --seconds, checks every output, prints a report and, as
its last line, one JSON object with `correct`, `attempted`, `failed`
and the end-to-end (--trace 0) or per-layer (--trace 1) metrics named
in BENCHMARK.json. The exit code is 0 only when every output is
correct.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
TOOLS = os.path.join(ROOT, "tools")
BUILD = os.path.join(ROOT, ".bench_build")
# query_mix input tables: the repository's fixed-seed generator, so every
# seed runs the same work; the seed shuffles the query order
QUERY_SF = "0.1"
GEN_TABLES = os.path.join(TOOLS, "gen_sf.py")
JVM_HEAP = "3g"
RUN_LIMIT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[bench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), BENCH]
    for top in roots:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            for f in files if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Classpath of the harness and the program, building if needed."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    print("[bench] building program and harness with sbt", flush=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), capture_output=True, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[bench] build took {time.time() - t0:.1f} s", flush=True)
    return cp


def query_tables():
    """The query_mix tables from tools/gen_sf.py, generated once per
    version of that generator."""
    with open(GEN_TABLES, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:16]
    data = os.path.join(BUILD, f"tables-sf{QUERY_SF}-{tag}")
    if not os.path.isdir(data):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        p = subprocess.run([sys.executable, GEN_TABLES, QUERY_SF, tmp],
                           capture_output=True, text=True, timeout=600)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
            fail("table generation failed")
        os.rename(tmp, data)
    return data


def oracle_check(data, out_dir, names):
    """{query: failure} for every query whose output differs from its
    DuckDB oracle, with the semantics of tools/compare.py."""
    sys.path.insert(0, TOOLS)
    import compare
    con = compare.connect(data)
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    wrong = {}
    for name in names:
        if name not in oracles:
            wrong[name] = "no oracle SQL"
            continue
        ok, msg = compare.compare_one(
            con, name, compare.read_spark(os.path.join(out_dir, name)),
            oracles[name])
        if not ok:
            wrong[name] = msg
    return wrong


def run_jvm(cp, args, work, deadline):
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.stderr.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stdout, stderr=err)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded its time limit (JVM log: {log})")
    if proc.returncode != 0:
        fail(f"harness exited with {proc.returncode} (JVM log: {log})")


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["query_mix", "cdc_bulk"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.exists(GEN_TABLES):
        fail("no program sources here: run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)

    cp = build()
    # built and generated inputs are cached across runs, so they are
    # made before set-up time starts
    data = query_tables() if a.workload == "query_mix" else None
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    start_ms = int(time.time() * 1000)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", os.path.join(work, "result.json"),
            "--start-ms", str(start_ms)]
    if data:
        args += ["--data", data]
    print(f"[bench] workload={a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace} nproc={os.cpu_count()} "
          f"loadavg={os.getloadavg()[0]:.2f}", flush=True)
    run_jvm(cp, args, work, deadline)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    attempted, failed = res["attempted"], res["failed"]
    if a.workload == "query_mix":
        out_dir = os.path.join(work, "query_out")
        with open(os.path.join(out_dir, "oracle_sql.json")) as f:
            names = json.load(f).keys()
        wrong = oracle_check(data, out_dir,
                             sorted(set(names) | set(res["failures"])))
        passes = res["facts"]["passes"]
        for name, msg in sorted(wrong.items()):
            print(f"[bench] WRONG {name}: {msg}")
        failed = min(attempted, failed + passes * len(wrong))
        print(f"[bench] oracle: {len(wrong)} of {len(names)} queries differ; "
              f"query_failed_frac={failed / attempted:.4f}")

    want = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["per_layer"] if a.trace else res["end_to_end"]
    unknown = set(got) - {m["name"] for m in want}
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    for m in want:
        v = got.get(m["name"])
        if v is None and not a.trace:
            fail(f"workload did not measure {m['name']}")
        metrics[m["name"]] = {"value": float(v or 0.0), "unit": m["unit"]}
    for k in sorted(got):
        print(f"[bench] {k} = {got[k]}")
    print(f"[bench] loadavg_end={os.getloadavg()[0]:.2f} "
          f"wall_s={time.time() - t_start:.1f}", flush=True)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

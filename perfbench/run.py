#!/usr/bin/env python3
"""graft's benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--cores <n>]

Run from the root of a checkout. It builds the checked-out commit with the
repository's own sbt build (and the harness with its build in
perfbench/harness), unless the build stamp of the current sources already
matches; it never reuses classes built from other sources. It then runs
the workload in one JVM on a session from `GraftSession.local(cores)`,
checks every output against a computation made apart from graft, deletes
the run's directories and prints, as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value": v, "unit": u}}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end ones, with
--trace 1 its per_layer ones. Everything it writes stays under
.perfbench/ in the checkout (and the build's own target/ directories).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
STATE = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170.0

# Spark 4 on JDK 17 outside spark-submit: the --add-opens list of the
# repository's build.sbt, fixed here so that both commits of a comparison
# run the same JVM.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "4g"

SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true -Dsbt.repository.config="
    + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx3g",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ------------------------------------------------------------------ build

def source_files(top, prune):
    """Every file under `top` that decides what its build produces."""
    picks = []
    for d, subdirs, files in os.walk(top):
        subdirs[:] = sorted(s for s in subdirs if s != "target" and os.path.join(d, s) not in prune)
        picks += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(picks)


def stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt(cwd, *commands):
    env = dict(os.environ, **SBT_ENV)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", *commands],
        cwd=cwd, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit(f"build failed in {cwd}")
    return out.stdout


def build():
    """Classpath of the harness and graft's classes, both built from the
    sources as they are now. Each of the two builds is redone from clean
    when its stamp (a hash of its sources) changed; a new graft build
    also rebuilds the harness."""
    bdir = os.path.join(STATE, "build")
    os.makedirs(bdir, exist_ok=True)
    graft_src = [os.path.join(ROOT, "build.sbt")] + source_files(
        os.path.join(ROOT, "project"), {os.path.join(ROOT, "project", "project")}
    ) + source_files(os.path.join(ROOT, "src", "main"), set())
    harness_src = source_files(HARNESS, set())
    stamps = {"graft": stamp(graft_src), "harness": stamp(graft_src) + stamp(harness_src)}
    cp_file = os.path.join(bdir, "classpath")

    def current(name):
        p = os.path.join(bdir, f"{name}.stamp")
        return os.path.exists(p) and open(p).read() == stamps[name]

    t0 = time.time()
    if not current("graft") or not os.path.isdir(os.path.join(ROOT, "target", "scala-2.13", "classes")):
        log("building graft: sbt clean compile")
        for n in ("graft", "harness"):
            if os.path.exists(os.path.join(bdir, f"{n}.stamp")):
                os.remove(os.path.join(bdir, f"{n}.stamp"))
        sbt(ROOT, "clean", "compile")
        with open(os.path.join(bdir, "graft.stamp"), "w") as f:
            f.write(stamps["graft"])
    if not current("harness") or not os.path.exists(cp_file):
        log("building the harness: sbt clean compile")
        out = sbt(HARNESS, "clean", "compile", "export Runtime/fullClasspath")
        cp = [l for l in out.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(os.path.join(bdir, "harness.stamp"), "w") as f:
            f.write(stamps["harness"])
    if time.time() - t0 > 1:
        log(f"built in {time.time() - t0:.0f} s")
    return open(cp_file).read()


# ----------------------------------------------------------------- oracle

def oracle_check(data_dir, entries):
    """DuckDB on each query's oracle SQL over the same parquet; returns
    the list of mismatches."""
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import frame_hash  # graft's own canonical result hash

    con = duckdb.connect()
    for t in sorted(os.listdir(data_dir)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{t}/*.parquet')")
    bad = []
    for name, out_dir, sql in entries:
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')")
            got_rows, got_cols = got.fetchall(), [d[0] for d in got.description]
            exp = con.execute(sql)
            exp_rows, exp_cols = exp.fetchall(), [d[0] for d in exp.description]
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            bad.append(f"{name}: {e}")
            continue
        if sorted(got_cols) != sorted(exp_cols):
            bad.append(f"{name}: columns {sorted(got_cols)} vs {sorted(exp_cols)}")
        elif len(got_rows) != len(exp_rows):
            bad.append(f"{name}: {len(got_rows)} rows vs {len(exp_rows)}")
        elif frame_hash(got_rows, got_cols) != frame_hash(exp_rows, exp_cols):
            bad.append(f"{name}: value hash differs")
    return bad


# -------------------------------------------------------------------- run

def run_jvm(cp, args, work, spans, deadline):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xms{HEAP}", f"-Xmx{HEAP}",
        # a fixed set of JIT compiler threads, so that Jvm.jitCpuNs sees all
        # of the compiler's CPU time (a dynamic one ends and takes it along)
        "-XX:-UseDynamicNumberOfCompilerThreads",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--cores", str(args.cores),
        "--work", work, "--out", os.path.join(work, "result.json"), "--spans", spans,
    ]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=lf, stderr=lf,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as lf:
            sys.stderr.write("".join(lf.readlines()[-60:]))
        raise SystemExit(f"the workload JVM ended with {code}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=cores())
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {args.workload}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("no graft sources here (build.sbt, src/main/scala): nothing to benchmark")

    cp = build()
    # The deadline covers the run, not a build this call had to make; a run
    # on fewer cores than the machine has gets proportionally longer.
    if time.time() - t_start > 5:
        t_start = time.time()
    deadline = t_start + DEADLINE_S * max(1.0, cores() / args.cores)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(STATE, "runs", run_id)
    spans = os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, args, work, spans, deadline)
        errors = list(res["errors"])
        if res["oracle"]:
            errors += oracle_check(os.path.join(work, "data"), res["oracle"])
        if errors:
            for e in errors:
                log(f"check failed: {e}")
    finally:
        if os.path.exists(os.path.join(work, "jvm.log")):
            os.makedirs(os.path.join(STATE, "logs"), exist_ok=True)
            shutil.copy(os.path.join(work, "jvm.log"), os.path.join(STATE, "logs", f"{args.workload}-seed{args.seed}.log"))
        shutil.rmtree(work, ignore_errors=True)

    key = "per_layer" if args.trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[key]}
    got = {k: v for k, v in res["metrics"].items() if k in want}
    missing = sorted(set(want) - set(got))
    extra = sorted(set(res["metrics"]) - set(want))
    if missing or extra or any(v["value"] is None for v in got.values()):
        raise SystemExit(f"metrics do not match BENCHMARK.json {key}: missing {missing}, extra {extra}")
    for k, v in got.items():
        if v["unit"] != want[k]:
            raise SystemExit(f"metric {k} has unit {v['unit']}, BENCHMARK.json says {want[k]}")
    out = {
        "correct": res["correct"] and not errors,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: got[k] for k in want},
    }
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds graft and the benchmark from source
with sbt (offline) and keeps the compiled classes and class path in the
build directory ($CARGO_TARGET_DIR, default .bench_build), under a
subdirectory named after a hash of the sources, so checkouts of
different sources that share a build directory do not rebuild each
other's output.
Each run starts one JVM at local[k], k = min(4, nproc). The last line
of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 the per-layer metrics, and the span file
and per-layer table are written under .bench_out/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("governed_lake", "corpus_prep")
DEADLINE_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    pats = [os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties"),
            os.path.join(HERE, "src", "**", "*"),
            os.path.join(ROOT, "src", "main", "**", "*")]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(p, recursive=True) if os.path.isfile(f))
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir, want):
    """Compile graft and the benchmark whose sources hash to `want`;
    return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("graft sources (src/main/scala) not found next to perfbench/")
    out = os.path.join(build_dir, want[:16])
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    env.setdefault("SBT_OPTS",
                   "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building graft and the benchmark with sbt")
    t0 = time.time()
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    p = subprocess.run(
        ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
         f"-J-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    sys.stderr.write(p.stdout[-4000:])
    if p.returncode != 0:
        raise RuntimeError(f"sbt failed with code {p.returncode}")
    cp = [ln for ln in p.stdout.splitlines()
          if ln.startswith("/") and ".jar" in ln and "classes" in ln]
    if not cp:
        raise RuntimeError("sbt printed no classpath")
    # copy the compiled classes next to the class path, so the build
    # stays whole whatever sbt later compiles into its own target
    classes = os.path.join(out, "classes")
    shutil.rmtree(out, ignore_errors=True)
    entries = []
    for e in cp[-1].strip().split(os.pathsep):
        if os.path.isdir(e) and e.startswith(HERE + os.sep):
            shutil.copytree(e, classes, dirs_exist_ok=True)
            e = classes
        if e not in entries:
            entries.append(e)
    with open(cp_file + ".tmp", "w") as f:
        f.write(os.pathsep.join(entries))
    os.replace(cp_file + ".tmp", cp_file)
    log(f"built in {time.time() - t0:.1f}s")
    return os.pathsep.join(entries)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def oracle_checks(oracle_dir):
    """Compare operator outputs with graft's DuckDB oracles, as
    tools/check.py does. Returns the list of failures."""
    import duckdb
    with open(os.path.join(oracle_dir, "corpus_dir")) as f:
        corpus = f.read().strip()
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in glob.glob(os.path.join(corpus, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    bad = []
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(oracle_dir, name, "*.parquet"))
        try:
            if not files:
                raise AssertionError("no output")
            want = canon(con.execute(sql).df())
            got = canon(con.execute(f"SELECT * FROM read_parquet({files!r})").df())
            if list(want.columns) != list(got.columns):
                raise AssertionError(f"columns {list(got.columns)} != {list(want.columns)}")
            if list(want.dtypes) != list(got.dtypes):
                raise AssertionError("column types differ")
            if len(want) != len(got):
                raise AssertionError(f"{len(got)} rows, oracle {len(want)}")
            if not want.equals(got):
                raise AssertionError("values differ from the oracle")
        except Exception as e:  # every failure is reported, none skipped
            bad.append(f"{name}: {e}")
    return bad


def tracing_overhead(workload, seed, build_stamp, traced_op_ms):
    """Traced op_ms over untraced op_ms, minus one, against untraced
    runs of the same build in .bench_out: the same seed's run when
    there is one, else the median over the workload's runs. Returns
    None when no untraced run of this build is there."""
    base = {}
    for path in glob.glob(os.path.join(ROOT, ".bench_out", f"{workload}-seed*-trace0",
                                       "run.json")):
        with open(path) as f:
            r = json.load(f)
        if r.get("build_stamp") == build_stamp:
            base[r["seed"]] = r["e2e"]["op_ms"]["value"]
    if not base:
        return None
    if seed in base:
        return traced_op_ms / base[seed] - 1
    return traced_op_ms / statistics.median(base.values()) - 1


def cpu_times():
    """(steal, total) jiffies of all CPUs, from /proc/stat (Linux)."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
        return xs[7] if len(xs) > 7 else 0, sum(xs)
    except OSError:
        return 0, 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds through the cleanups below, which stop sbt or
    # the JVM and wait for them
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    try:
        build_stamp = stamp()
        cp = build(build_dir, build_stamp)
    except Exception as e:
        log(f"build failed: {e}")
        return 2
    # the time limit counts from here, so a build does not eat into it
    start = time.time()

    nproc = os.cpu_count() or 1
    cores = min(4, nproc)
    load0 = os.getloadavg()
    steal0, total0 = cpu_times()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--cores", str(cores)])
    jvm = None
    try:
        jvm = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
        try:
            code = jvm.wait(timeout=max(10, DEADLINE_S - (time.time() - start)))
        except subprocess.TimeoutExpired:
            log("the benchmark JVM ran out of time")
            return 3
        if code != 0:
            log(f"the benchmark JVM exited with code {code}")
            return 4
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        failures = list(res["failures"])
        failed = res["failed"]
        if args.workload == "corpus_prep":
            bad = oracle_checks(os.path.join(work, "oracle"))
            for b in bad:
                log(f"FAILED oracle {b}")
            failures += [f"oracle {b}" for b in bad]
            failed += len(bad)
    finally:
        if jvm is not None and jvm.poll() is None:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(work, ignore_errors=True)

    have = res["layers"] if args.trace else res["e2e"]
    overhead = None
    if args.trace:
        overhead = tracing_overhead(args.workload, args.seed, build_stamp,
                                    have["trace.op_ms"]["value"])
        if overhead is None:
            # a number is required; -1 (a traced run taking no time)
            # cannot be measured, so it marks the figure as missing
            log("no untraced run of this build to compare with: "
                "trace.overhead_frac reads -1 (missing)")
        have["trace.overhead_frac"] = {"value": -1.0 if overhead is None else overhead}
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in have:
            metrics[name] = {"value": have[name]["value"], "unit": m["unit"]}
        elif args.trace:
            # a layer this workload never enters
            metrics[name] = {"value": 0.0, "unit": m["unit"]}
        else:
            log(f"end-to-end metric {name} missing from the run")
            return 5
    attempted = max(1, res["attempted"])
    failed = min(failed, attempted)
    steal1, total1 = cpu_times()
    # CPU time the hypervisor gave to other guests during the run: the
    # main source of run-to-run noise on a shared virtual machine
    steal = (steal1 - steal0) / max(1, total1 - total0)
    report = dict(res, failed=failed, failures=failures, build_stamp=build_stamp,
                  trace_overhead_frac=overhead, environment={
        "nproc": nproc, "local": f"local[{cores}]",
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "cpu_steal_frac": round(steal, 4), "wall_s": round(time.time() - start, 3)})
    with open(os.path.join(out, "run.json"), "w") as f:
        json.dump(report, f, indent=1)
    log(f"{args.workload} seed={args.seed} rounds={res['rounds']} "
        f"samples={res['samples']} attempted={attempted} failed={failed} "
        f"nproc={nproc} local[{cores}] load={load0[0]:.2f}->{os.getloadavg()[0]:.2f} "
        f"steal={steal:.1%} "
        f"wall={time.time() - start:.1f}s report={os.path.relpath(out, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark of the graft engine, driven from outside through its public API.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Each run generates its inputs from the seed, starts one JVM running the
harness in ``perfbench/src`` (one Spark session, ``local[<cores>]``, one
closed-loop client), checks every output, and prints one JSON object as
the last line of stdout: end-to-end metrics with ``--trace 0``, the
per-layer split with ``--trace 1``. The line before it carries sample
counts and the per-workload names of the metrics. Workloads, metrics and
the layer map are described in ``perfbench/README.md``.

The first run in a checkout builds the engine and the harness with sbt
and caches the runtime classpath in ``.bench_build/``; later runs start
``java`` directly. Inputs, outputs and scratch live in a temporary
directory under ``.bench_tmp/`` that is removed when the run ends.
"""
import argparse
import contextlib
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

# Input sizes per workload: for measured runs, and for the build's
# class-data training run.
TRAIN_SIZES = {
    "headline": {"customers": 150, "events": 1000, "docs": 100, "vectors": 100},
    "reload_maintain": {"rows": 2000, "docs": 200, "files": 2},
}
WORKLOADS = {
    "headline": {"customers": 500, "events": 3000, "docs": 300, "vectors": 300},
    "reload_maintain": {"rows": 25_000, "docs": 1200, "files": 4},
}
SETUPS = 2
JVM_TIMEOUT_S = 165  # a run, set-up to report, must end within 180 s
HEAP = "3g"

# End-to-end metrics (--trace 0) and their units.
END_TO_END = {"setup_s": "s", "rep_s": "s", "op_p50_s": "s", "retained_heap_mb": "MB"}
# Per-layer metrics (--trace 1); a layer the workload does not use reads 0.
PER_LAYER = {
    "sources.resolve_s": "s", "sources.resolve_jobs": "count",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "plans.planning_s": "s", "plans.exchanges": "count",
    "spark.session_s": "s", "spark.jobs": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_deser_s": "s", "spark.sched_delay_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "etl.load_s": "s", "etl.rows": "count",
    "model.run_s": "s", "model.bytes_written": "bytes",
    "dq.run_s": "s", "dq.jobs": "count",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.trigger_overhead_s": "s", "streaming.jobs_per_trigger": "count",
    "trace.overhead_pct": "%", "error_rate": "ratio",
}
# What rep_s and op_p50_s are called on each workload.
ALIASES = {
    "headline": {"rep_s": "suite_s", "op_p50_s": "query_p50_s"},
    "reload_maintain": {"rep_s": "reload_maintain_s", "op_p50_s": "trigger_p50_s"},
}
JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def fingerprint(root):
    """Hash of every file the build reads, so a cached build is reused
    only for the same sources."""
    h = hashlib.sha256()
    paths = []
    for base in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                 "perfbench/project", "perfbench/src"):
        p = os.path.join(root, base)
        if os.path.isfile(p):
            paths.append(p)
        for d, dirs, files in os.walk(p):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            paths += [os.path.join(d, f) for f in files]
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile engine and harness, then record a class-data archive from a
    short run of every workload, so each run's JVM starts from the same
    pre-parsed classes. Cached by source fingerprint and classpath jars;
    returns the classpath and the archive path."""
    out = os.path.join(root, ".bench_build")
    cp_file, fp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "fingerprint")
    archive = os.path.join(out, "classes.jsa")
    fp = fingerprint(root)
    if all(map(os.path.exists, (cp_file, fp_file, archive))):
        with open(fp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read() == fp + classpath_state(cp):
                return cp, archive
    os.makedirs(out, exist_ok=True)
    for stale in (fp_file, archive):
        if os.path.exists(stale):
            os.remove(stale)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "-Xmx2g") + " -Dsbt.offline=true" \
        f" -Djava.io.tmpdir={os.path.join(out, 'tmp')}"
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
        opts += " -Dsbt.override.build.repos=true"
    env["SBT_OPTS"] = opts
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"writeClasspath {cp_file}"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=lf, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=450).returncode
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (rc={rc}):\n{tail(log)}")
    with open(cp_file) as f:
        cp = f.read().strip()
    with scratch_dir(root, "train") as tmp:
        args = []
        for w in sorted(WORKLOADS):
            data, work, res = (os.path.join(tmp, w, d) for d in ("data", "work", "out"))
            for d in (data, work, res):
                os.makedirs(d)
            make_inputs(w, 0, data, TRAIN_SIZES[w])
            args += ["--next"] * bool(args) + harness_args(w, 0, 0, 0, 1, data, work, res)
        run_java(jvm_flags(tmp) + [f"-XX:ArchiveClassesAtExit={archive}", "-cp", cp,
                                   "graft.perfbench.Train"] + args, tmp, "class-data training",
                 timeout=300)
    if not os.path.exists(archive):
        fail("class-data training wrote no archive")
    with open(fp_file, "w") as f:
        f.write(fp + classpath_state(cp))
    return cp, archive


def classpath_state(cp):
    """Size and mtime of every classpath jar: the class-data archive is
    valid only for the exact jars it was recorded from."""
    return "".join(f"\n{p} {os.stat(p).st_size} {os.stat(p).st_mtime_ns}"
                   if os.path.exists(p) else f"\n{p} missing" for p in cp.split(os.pathsep))


@contextlib.contextmanager
def scratch_dir(root, prefix):
    """A fresh directory under .bench_tmp/ in the checkout, removed (with
    .bench_tmp/ if it is then empty) on exit."""
    base = os.path.join(root, ".bench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{prefix}-", dir=base)
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


def make_inputs(workload, seed, data, size):
    if workload == "headline":
        gen.star_schema(seed, data, customers=size["customers"], events=size["events"],
                        n_docs=size["docs"], n_vectors=size["vectors"])
        return
    expected = gen.taxi_csv(seed, os.path.join(data, "taxi.csv"), size["rows"])
    with open(os.path.join(data, "taxi_expected.json"), "w") as f:
        json.dump(expected, f)
    gen.arrivals(seed, gen.documents_table(seed, size["docs"]),
                 os.path.join(data, "arrivals"), size["files"])


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def oracle_mismatches(workload, data, out, oracles):
    """Run each oracle SQL in DuckDB over the generated inputs and compare
    with the engine's dumped result: same columns, same rows (sorted)."""
    con = duckdb.connect()
    if workload == "reload_maintain":
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{data}/arrivals/*.parquet')")
    else:
        for f in sorted(os.listdir(data)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data}/{f}')")
    bad = []
    for name, sql in oracles.items():
        try:
            odf = con.execute(sql).fetch_arrow_table()
            sdf = con.execute(
                f"SELECT * FROM read_parquet('{out}/results/{name}/*.parquet')").fetch_arrow_table()
        except Exception as e:  # a failed comparison is a wrong result
            bad.append(f"{name}: {e}")
            continue
        cols = sorted(odf.column_names)
        if cols != sorted(sdf.column_names):
            bad.append(f"{name}: columns {cols} vs {sorted(sdf.column_names)}")
            continue
        rows = [sorted(tuple(canon(r[c]) for c in cols) for r in t.to_pylist()) for t in (odf, sdf)]
        if rows[0] != rows[1]:
            bad.append(f"{name}: {odf.num_rows} oracle rows vs {sdf.num_rows} engine rows differ")
    return bad


def jvm_flags(tmp):
    jtmp = os.path.join(tmp, "jvm")
    os.makedirs(jtmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", *JDK17_OPENS,
            f"-Djava.io.tmpdir={jtmp}", f"-Dspark.local.dir={jtmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(jtmp, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def harness_args(workload, seed, seconds, trace, setups, data, work, out):
    return ["--workload", workload, "--data", data, "--work", work, "--out", out,
            "--seconds", str(seconds), "--trace", str(trace), "--setups", str(setups),
            "--cores", str(len(os.sched_getaffinity(0))), "--seed", str(seed)]


def run_java(cmd, tmp, what, timeout=JVM_TIMEOUT_S):
    log = os.path.join(tmp, "jvm.log")
    with open(log, "w") as lf:
        try:
            rc = subprocess.run(cmd, cwd=tmp, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            fail(f"{what} timed out after {timeout:.0f}s:\n{tail(log)}")
    if rc != 0:
        fail(f"{what} failed (rc={rc}):\n{tail(log)}")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans", help="copy the traced run's spans (JSON lines) here")
    args = p.parse_args()
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a source checkout (no build.sbt or src/main/scala/graft)")
    cp, archive = build(root)
    deadline = time.monotonic() + JVM_TIMEOUT_S

    with scratch_dir(root, args.workload) as tmp:
        data, work, out = (os.path.join(tmp, d) for d in ("data", "work", "out"))
        for d in (data, work, out):
            os.makedirs(d)
        make_inputs(args.workload, args.seed, data, WORKLOADS[args.workload])
        run_java(jvm_flags(tmp) + [f"-XX:SharedArchiveFile={archive}", "-cp", cp,
                                   "graft.perfbench.Main"]
                 + harness_args(args.workload, args.seed, args.seconds, args.trace, SETUPS,
                                data, work, out), tmp, "harness",
                 timeout=deadline - time.monotonic())
        with open(os.path.join(out, "run.json")) as f:
            run = json.load(f)
        bad = oracle_mismatches(args.workload, data, out, run["oracles"])
        bad += [k for k, ok in run["checks"].items() if not ok]
        if args.trace and args.spans:
            shutil.copyfile(os.path.join(out, "spans.jsonl"), args.spans)

    for e in run["errors"] + bad:
        print(f"perfbench: {e}", file=sys.stderr)
    attempted, failed = run["attempted"], run["failed"]
    ops = run["op_s"]
    if args.trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(run["layers"])
        layers["error_rate"] = failed / attempted
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": statistics.median(run["setup_s"]),
                  "rep_s": statistics.median(run["rep_s"]),
                  "op_p50_s": statistics.median(ops),
                  "retained_heap_mb": run["retained_heap_mb"]}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        names = ALIASES[args.workload]
        p90 = statistics.quantiles(ops, n=10)[-1] if len(ops) >= 2 else ops[0]
        print(json.dumps({
            "workload": args.workload, "seed": args.seed,
            names["rep_s"]: values["rep_s"], names["op_p50_s"]: values["op_p50_s"],
            names["op_p50_s"].replace("p50", "p90"): p90,
            "error_rate": failed / attempted,
            "samples": {"setup_s": len(run["setup_s"]), "rep_s": len(run["rep_s"]),
                        "op_s": len(ops)},
            "setup_runs_s": run["setup_s"], "rep_runs_s": run["rep_s"]}))
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

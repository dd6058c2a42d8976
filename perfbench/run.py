#!/usr/bin/env python3
"""The repository's benchmark: times the engine end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine from source on first use (sbt, offline; the build
is reused while no source file changes), generates the inputs from the
seed, runs the workload in one JVM on local[N] (N = processors), checks
every output, and prints one JSON object as the last line of stdout:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Exits non-zero when a check fails. README.md in this
directory describes the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

# every 22nd of the 130 queries in name order
SURFACE = """q_agg_approx q_bpe_vocab q_events_session q_join_semi
q_quality_calibrated q_text_quality""".split()

# name -> (scale factor of the generated tables, JVM options)
WORKLOADS = {
    "live_roundtrip": (0.005, {"docs": "250", "payload_cap": "6000", "patch_cap": "128"}),
    "surface_sf001": (0.01, {"queries": ",".join(SURFACE)}),
}
SETUPS = 3  # set-up passes per run; setup_s is their median

END_TO_END = {"setup_s": "s", "total_s": "s", "step_p50_s": "s",
              "retained_heap_mb": "MB"}
MODULES = ["Relational", "Functions", "Events", "TextAnalysis", "Dedup",
           "Similarity", "Stats", "Sql", "Multimodal", "Incremental",
           "Curation", "Retrieval"]
PER_LAYER = {
    "build.s": "s", "build.jobs": "count", "build.share": "ratio",
    "catalyst.analysis_s": "s", "catalyst.optimizer_s": "s",
    "catalyst.planning_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_busy_frac": "ratio",
    "task.s": "s", "task.cpu_s": "s", "task.gc_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s", "spill.disk_mb": "MB",
    "scan.input_mb": "MB", "pins.storage_mb": "MB",
    **{f"module.{m}.s": "s" for m in MODULES},
    "live.export_s": "s", "live.incremental_s": "s", "live.restore_s": "s",
    "live.export_requests": "count", "live.restore_requests": "count",
    "liveexport.plan_s": "s", "liveexport.plan_requests": "count",
    "rest.get_requests": "count", "rest.get_mb": "MB",
    "rest.get_ms_p50": "ms", "rest.get_ms_p99": "ms",
    "rest.status_400": "count", "rest.shallow_requests": "count",
    "rest.page_shrinks": "count", "rest.page_grows": "count",
    "rest.busy_s": "s", "rest.useful_frac": "ratio",
    "export.write_s": "s", "export.backup_mb": "MB",
    "export.bytes_per_src_byte": "ratio", "export.diff_s": "s",
    "export.changed_keys": "count",
    "restore.updates": "count", "restore.keys_per_update": "ratio",
    "restore.rejected_updates": "count", "restore.update_ms_p50": "ms",
    "restore.update_ms_p99": "ms", "restore.busy_s": "s",
    "rig.server_busy_s": "s", "rig.server_busy_frac": "ratio",
    "ref.export_requests": "count", "trace.overhead_frac": "ratio",
    "jvm.peak_heap_mb": "MB", "jvm.peak_rss_mb": "MB",
}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
DEADLINE_S = 170


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile the engine and the harness unless an identical build
    exists; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the engine's sources (src/main/scala) are missing; "
            "run from the root of a repository checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_file = os.path.join(BENCH, "target", "perfbench.stamp")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == h.hexdigest():
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit is None:
            die("SPARK_HOME is unset and spark-submit is not on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0 or not os.path.exists(cp_file):
        die(f"build failed (sbt exit {r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(h.hexdigest())
    with open(cp_file) as fh:
        return fh.read().strip()


def canon(rows, colnames):
    """Rows with columns sorted by name and values canonicalized, as the
    engine's DuckDB oracle check compares them."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else repr(v)
            elif isinstance(v, list):
                v = json.dumps(v, default=str)
            else:
                v = str(v)
            vals.append(v)
        out.append(tuple(vals))
    return out


def oracle_check(data_dir, out_dir):
    """Compares each query's output with its DuckDB oracle on the same
    tables; returns one message per mismatch."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    bad = []
    for name, sql in sorted(oracles.items()):
        try:
            o = con.execute(sql)
            want = canon(o.fetchall(), [d[0] for d in o.description])
            g = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got = canon(g.fetchall(), [d[0] for d in g.description])
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            bad.append(f"{name}: oracle check error: {e}")
            continue
        if got != want:
            bad.append(f"{name}: output differs from the DuckDB oracle "
                       f"({len(got)} rows vs {len(want)})")
    return bad


def git_sha():
    """The checkout's commit, or None outside a git work tree."""
    try:
        top = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True).stdout.split()
    except OSError:
        return None
    if len(top) == 2 and os.path.realpath(top[0]) == os.path.realpath(ROOT):
        return top[1]
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--drop-edge", action="store_true",
                    help="negative control: the full restore skips one edge, "
                         "so the output check must fail")
    a = ap.parse_args()
    classpath = build()
    start = time.time()  # the run's time limit excludes a first build
    sf, opts = WORKLOADS[a.workload]
    if a.drop_edge:
        opts = dict(opts, drop_edge="1")
    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        import datagen
        dirs, gen_s = [], []
        for i in range(SETUPS):
            d = os.path.join(work, f"data{i}")
            t0 = time.perf_counter()
            datagen.write(d, a.seed, sf)
            gen_s.append(time.perf_counter() - t0)
            dirs.append(d)
        # C1 only, compiling ten times sooner than its defaults: unit times
        # flatten after one warm-up unit (README.md, "How a run works")
        cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
                  "-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.1",
                  "-Dsun.net.httpserver.nodelay=true", "-Dspark.ui.enabled=false",
                  f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "perfbench.Main",
                  a.workload, work, str(a.seed), str(a.seconds), str(a.trace), ",".join(dirs)]
               + [f"{k}={v}" for k, v in opts.items()])
        jvm_t0 = time.time()
        with open(os.path.join(work, "jvm.log"), "w") as log:
            try:
                p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                   stdin=subprocess.DEVNULL, text=True,
                                   timeout=max(10, DEADLINE_S - (time.time() - start)))
            except subprocess.TimeoutExpired:
                p = None
        lines = [] if p is None else [l for l in p.stdout.splitlines() if l.startswith("PERFBENCH ")]
        if p is None or p.returncode != 0 or not lines:
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            die("the JVM did not finish in time" if p is None
                else f"the JVM failed (exit {p.returncode})", 3)
        jvm_s = time.time() - jvm_t0
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.writelines(l for l in fh if l.startswith("perfbench:"))
        r = json.loads(lines[-1][len("PERFBENCH "):])
        errors = list(r["errors"])
        failed = r["failed"]
        if a.workload != "live_roundtrip":
            bad = oracle_check(dirs[-1], os.path.join(work, "out"))
            errors += bad
            failed += len(bad)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)

    step_medians = [statistics.median(v) for v in r["steps"].values()]
    e2e = {
        "setup_s": r["jvm_ready_s"] + statistics.median(
            g + s for g, s in zip(gen_s, r["prepare_s"])),
        "total_s": statistics.median(r["unit_s"]),
        "step_p50_s": statistics.median(step_medians),
        "retained_heap_mb": r["retained_heap_mb"],
    }
    if a.trace:
        metrics = {k: {"value": r["layers"].get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "cores": r["cores"], "git_sha": git_sha(),
        "units": len(r["unit_s"]), "steps": len(step_medians), "unit_s": r["unit_s"],
        "step_medians": {k: statistics.median(v) for k, v in r["steps"].items()},
        "prepare_s": r["prepare_s"], "gen_s": gen_s, "jvm_s": jvm_s,
        "wall_s": time.time() - start, "errors": errors[:20]}), file=sys.stderr)
    correct = failed == 0 and not errors
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Warehouse-chain benchmark: one workload, one seed, one JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: esi_load, cube_serve (see perfbench/NOTES.md). The script builds the engine and the harness from
source on first use (sbt, offline; output under .bench_build/), runs the
harness JVM, checks every output outside the timed window (DuckDB for
the load counts and the cube answers), prints each metric by name with
its unit, and ends with one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
harness records spans and Spark events and the metrics are per layer.
Each run's record is kept in .bench_build/records/ for compare.py.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

START = time.monotonic()
ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
# the measured op of each workload
PRIMARY = {"esi_load": "load", "cube_serve": "read"}
HEAP = "4g"
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 880.0
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def die(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def build():
    """Compile engine + harness with sbt unless the classpath is newer
    than every source file."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness from source (sbt compile)")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=out, text=True, timeout=BUILD_LIMIT_S,
                           stdin=subprocess.DEVNULL)
        out.write(p.stdout)
    lines = [l.strip() for l in p.stdout.splitlines() if "classes" in l and ":" in l]
    if p.returncode != 0 or not lines:
        die(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])


def run_jvm(args, work, out):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--out", out,
              "--cores", str(len(os.sched_getaffinity(0)))])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    jvm_log = os.path.join(work, "jvm.log")
    limit = RUN_LIMIT_S - (time.monotonic() - START)
    with open(jvm_log, "w") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=max(limit, 10.0))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    if code != 0:
        shutil.copy(jvm_log, os.path.join(BUILD, "failed-jvm.log"))
        with open(jvm_log, errors="replace") as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail)
        die("harness JVM timed out" if code is None else f"harness JVM exited {code}", 1)


# ------------------------------------------------------------------ checks

def canon_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    out = [tuple(r[i] for i in order) for r in rows]
    out.sort(key=lambda r: tuple((v is None, str(v)) for v in r))
    return cols, out


def same_value(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            return fa == fb or (math.isnan(fa) and math.isnan(fb))
        return a == b
    return str(a) == str(b)


def check_cube(rec):
    """Each distinct drill's first answer against DuckDB over the same
    parquet: the staged base files plus the delivery absorbed in set-up.
    Returns {drill text: error} for mismatches."""
    import duckdb
    con = duckdb.connect()
    info = rec["info"]
    files = list(info["base_files"]) + [f"{info['delivery']}/*.parquet"]
    listed = ", ".join(f"'{f}'" for f in files)
    con.execute("CREATE VIEW fact AS SELECT * FROM read_parquet("
                f"[{listed}], union_by_name = true, hive_partitioning = false)")
    bad = {}
    for q in info.get("oracle", []):
        key = q["text"]
        ans = q["answer"]
        try:
            res = con.execute(q["duck"])
            want_cols = [d[0] for d in res.description]
            want = [list(r) for r in res.fetchall()]
        except Exception as e:  # noqa: BLE001 - any oracle failure is a mismatch
            bad[key] = f"duckdb error: {e}"
            continue
        gc, gr = canon_rows(ans["columns"], ans["rows"])
        wc, wr = canon_rows(want_cols, want)
        if gc != wc:
            bad[key] = f"columns {gc} != {wc}"
        elif len(gr) != len(wr):
            bad[key] = f"{len(gr)} rows != {len(wr)}"
        else:
            for g, w in zip(gr, wr):
                if not all(same_value(x, y) for x, y in zip(g, w)):
                    bad[key] = f"row {g} != {w}"
                    break
    return bad


def check_loads(rec):
    """Row and dimension counts of every saved warehouse."""
    import duckdb
    con = duckdb.connect()
    for op in rec["ops"]:
        if op["kind"] != "load" or not op["ok"]:
            continue
        exp, wh = op["expected"], op["warehouse"]

        def count(t):
            return con.execute(f"SELECT count(*) FROM read_parquet('{wh}/{t}/*.parquet')").fetchone()[0]
        problems = []
        got_in, got_out = count("fact_inmigrante"), count("fact_emigrante")
        if (got_in, got_out) != (exp["fact_inmigrante"], exp["fact_emigrante"]):
            problems.append(f"facts {got_in}+{got_out} != {exp['fact_inmigrante']}+{exp['fact_emigrante']}")
        if got_in + got_out != exp["raw_rows"] - exp["unrecoverable"]:
            problems.append("fact rows != raw rows - unrecoverable rows")
        for dim, n in exp["dims"].items():
            if count(dim) != n:
                problems.append(f"{dim} has {count(dim)} rows, expected {n}")
        if problems:
            op["ok"] = False
            op["error"] = "; ".join(problems)


# ----------------------------------------------------------------- metrics

def tail_percentile(values):
    """The highest order statistic with at least 10 samples above it,
    capped at p90: (value, its percentile, sample count), or None when
    there are fewer than 20 samples (no such statistic above the median)."""
    n = len(values)
    if n < 20:
        return None
    i = min(n - 11, math.ceil(0.9 * n) - 1)
    return sorted(values)[i], (i + 1) / n, n


def med(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def end_to_end(rec):
    w = rec["workload"]
    ops = rec["ops"]
    prim = [o for o in ops if o["kind"] == PRIMARY[w] and o["ok"]]
    lat = [o["lat_ms"] for o in prim]
    if not lat:
        errors = sorted({str(o.get("error")) for o in ops if not o["ok"]})
        die(f"no successful {PRIMARY[w]} op in the timed window; errors: {errors[:3]}", 1)
    # input rows over total op time; on cube_serve every drill's input is
    # the whole fact, so this is fact rows / mean drill latency
    rows_per_s = sum(o["rows_in"] for o in prim) / (sum(lat) / 1000.0)
    setup = med(rec["setup_units_s"]) + rec["warmup_s"]
    return {
        "setup_s": (setup, "s"),
        "op_p50_ms": (statistics.median(lat), "ms"),
        "rows_per_s": (rows_per_s, "rows/s"),
    }, tail_percentile(lat), len(lat)


def per_layer(rec):
    """Per-layer metrics of a traced run: per-op medians over the
    workload's measured op unless noted. The calls cube_serve makes only
    in set-up (the fact append, the rollup refresh, the curation) are
    read from those set-up calls. A layer a workload never enters reads
    0."""
    w = rec["workload"]
    prim = [o for o in rec["ops"] if o["ok"] and "layers" in o and o["kind"] == PRIMARY[w]]
    reads = [o for o in prim if o["kind"] == "read"]
    info = rec["info"]

    def lay(o):
        return o["layers"]

    def call_ms(o, *names):
        return sum(lay(o)["call_ms"].get(n, 0.0) for n in names)

    def setup_call_ms(name):
        """Median over set-up and warmup ops of one call's span time."""
        per = {}
        for sp in rec["spans"]:
            if sp["name"] == name and sp["trace"] < 0:
                per[sp["trace"]] = per.get(sp["trace"], 0.0) + sp["end_ms"] - sp["start_ms"]
        return med(list(per.values()))

    m = {
        "sources.input_records_per_row": med([lay(o)["input_records"] / o["rows_in"] for o in prim]),
        "sources.write_mb": med([lay(o)["output_mb"] for o in prim]),
        "sources.append_ms": (med([call_ms(o, "EsiEtl.save") for o in prim]) if w == "esi_load"
                              else setup_call_ms("fact.append")),
        "etl.build_s": med([call_ms(o, "EsiEtl.buildWarehouse") for o in prim]) / 1000.0,
        "etl.save_s": med([call_ms(o, "EsiEtl.save") for o in prim]) / 1000.0,
        "etl.curate_s": (setup_call_ms("Curation.curate")
                         + setup_call_ms("Curation.exportProfile")) / 1000.0,
        "olap.parse_ms": med([call_ms(o, "Mdx.parse", "sql.parse") for o in reads]),
        "olap.compile_ms": med([call_ms(o, "Mdx.run", "spark.sql") for o in reads]),
        "olap.routed_share": (sum(1 for o in reads if o.get("routed")) / len(reads)) if reads else 0.0,
        "olap.refresh_ms": setup_call_ms("AggNavigator.refresh"),
        "olap.rewrite_bytes_per_delta_byte": (info["refresh_bytes"] / info["refresh_delta_bytes"]
                                              if info.get("refresh_delta_bytes") else 0.0),
        "plans.plan_ms": med([lay(o)["plan_ms"] for o in prim]),
        "exec.ms": med([lay(o)["exec_ms"] for o in prim]),
        "exec.jobs": med([lay(o)["jobs"] for o in prim]),
        "exec.stages": med([lay(o)["stages"] for o in prim]),
        "exec.tasks": med([lay(o)["tasks"] for o in prim]),
        "exec.shuffle_mb": med([lay(o)["shuffle_mb"] for o in prim]),
        "exec.spill_mb": med([lay(o)["spill_mb"] for o in prim]),
        "exec.max_task_share": med([lay(o)["max_task_share"] for o in prim]),
        "exec.driver_gap_ms": med([lay(o)["driver_gap_ms"] for o in prim]),
        "exec.rows_read_per_row_out": med([lay(o)["input_records"] / o["rows_out"]
                                           for o in prim if o.get("rows_out")]),
        "jvm.gc_ms": rec["gc_ms"] / max(1, len(prim)),
        "jvm.cpu_busy_share": rec["cpu_busy_share"],
        "cache.retained_mb": rec["retained_cache_mb"],
    }
    return {k: (v, LAYER_UNITS.get(k) or k.rsplit("_", 1)[-1]) for k, v in m.items()}


LAYER_UNITS = {"sources.input_records_per_row": "ratio", "sources.write_mb": "MB",
               "exec.shuffle_mb": "MB", "exec.spill_mb": "MB", "cache.retained_mb": "MB",
               "olap.routed_share": "ratio", "olap.rewrite_bytes_per_delta_byte": "ratio",
               "exec.max_task_share": "ratio", "exec.rows_read_per_row_out": "ratio",
               "jvm.cpu_busy_share": "ratio", "exec.jobs": "count", "exec.stages": "count",
               "exec.tasks": "count", "exec.ms": "ms"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found; run from the repository root")
    if not os.path.exists(os.path.join(BENCH, "build.sbt")):
        die("perfbench/build.sbt not found; run from the repository root")
    build()
    global START
    START = time.monotonic()

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    try:
        t0 = time.monotonic()
        run_jvm(args, work, out)
        jvm_s = time.monotonic() - t0
        with open(out) as f:
            rec = json.load(f)
        if args.workload == "esi_load":
            check_loads(rec)
        if args.workload == "cube_serve":
            bad = check_cube(rec)
            for o in rec["ops"]:
                key = o.get("drill")
                if key in bad and o["ok"]:
                    o["ok"] = False
                    o["error"] = "DuckDB disagrees: " + bad[key]
            rec["info"]["oracle_checked"] = len(rec["info"].get("oracle", []))
            rec["info"]["oracle_mismatches"] = len(bad)
        check_s = time.monotonic() - t0 - jvm_s
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = rec["ops"]
    failed_ops = [o for o in ops if not o["ok"]]
    failed_checks = [c for c in rec["checks"] if not c["ok"]]
    attempted = len(ops) + len(rec["checks"])
    failed = len(failed_ops) + len(failed_checks)
    e2e, tail, n_prim = end_to_end(rec)
    layers = per_layer(rec) if args.trace else None

    log(f"workload={args.workload} seed={args.seed} trace={args.trace} "
        f"cores={rec['cores']} window={rec['window_s']:.2f}s jvm={jvm_s:.1f}s "
        f"checks={check_s:.1f}s set-up units={[round(x, 2) for x in rec['setup_units_s']]} "
        f"warmup={rec['warmup_s']:.2f}s")
    for k, (v, u) in e2e.items():
        log(f"{k:<24} {v:14.4f} {u}")
    w = args.workload
    if tail:
        log(f"{'op_p90_ms':<24} {tail[0]:14.4f} ms (p{round(tail[1] * 100)} of {tail[2]} {PRIMARY[w]} ops)")
    else:
        log(f"{'op_p90_ms':<24} {'n/a':>14} ({n_prim} {PRIMARY[w]} ops; a tail needs 20)")
    if w == "cube_serve":
        reads = [o for o in ops if o["kind"] == "read" and o["ok"]]
        log(f"{'reads_checked':<24} {len(reads):14d} reads "
            f"({rec['info']['oracle_checked']} distinct answers checked against DuckDB)")
        log(f"{'routed_share':<24} {sum(1 for o in reads if o.get('routed')) / max(1, len(reads)):14.4f} ratio")
    log(f"{'failed_share':<24} {failed / attempted:14.4f} ratio ({failed}/{attempted})")
    log(f"{'retained_cache_mb':<24} {rec['retained_cache_mb']:14.4f} MB "
        f"in {rec['cached_rdds']} cached RDDs at window end")
    for c in rec["checks"]:
        log(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']} ({c['detail']})")
    for o in failed_ops[:5]:
        log(f"failed op {o['kind']}:{o['name']}: {o.get('error')}")
    if layers:
        for k, (v, u) in layers.items():
            log(f"{k:<34} {v:14.4f} {u}")

    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    rec.get("info", {}).pop("oracle", None)
    rec["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
    rec["per_layer"] = {k: v for k, (v, _) in layers.items()} if layers else {}
    with open(os.path.join(BUILD, "records", f"{tag}.json"), "w") as f:
        json.dump(rec, f)

    metrics = layers if args.trace else e2e
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()

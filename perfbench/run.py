#!/usr/bin/env python3
"""The repository benchmark: one command that builds, generates seeded
inputs, runs a workload, checks every output and prints every metric.

Usage (from the repository root):
  python3 perfbench/run.py --workload olap|iter --seed N \
      --seconds S --trace 0|1

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics. --trace 0 reports the end-to-end metrics,
--trace 1 the per-layer metrics, per-layer self time and tracing overhead.
perfbench/README.md defines every metric and workload.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = {
    # name: (tables, scale of the sf0.1 row counts)
    "olap": (["region", "nation", "customer", "orders", "lineitem", "events"], 0.25),
    "iter": (["orders", "lineitem", "embeddings"], 0.1),
}
RUN_LIMIT_S = 170
BROADCAST_THRESHOLD = 10 * 1024 * 1024
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("pass_s", "s"),
              ("unit_geomean_s", "s"), ("cpu_s", "s"), ("peak_mem_mb", "MB")]
# every per-layer metric with its unit, in report order
PER_LAYER = [
    ("session.cold_setup_s", "s"), ("session.build_s", "s"), ("session.resolve_s", "s"),
    ("session.persisted_rdds", "count"), ("session.persisted_rdds_range", "count"),
    ("session.retained_mb", "MB"), ("session.retained_mb_range", "MB"),
    ("script.compile_s", "s"), ("script.store_s", "s"),
    ("script.jobs_per_store", "count"), ("script.store_overlap", "ratio"),
    ("plans.plan_s", "s"), ("plans.executions", "count"),
    ("plans.exchanges", "count"), ("plans.broadcast_joins", "count"),
    ("plans.sort_merge_joins", "count"), ("plans.cartesian", "count"),
    ("sources.file_mb", "MB"), ("sources.file_rows", "count"),
    ("sources.scan_s", "s"), ("sources.cache_read_mb", "MB"),
    ("sources.output_mb", "MB"), ("sources.output_rows", "count"),
    ("sources.rows_read_per_row_out", "ratio"),
    ("operators.agg_s", "s"), ("operators.sort_s", "s"),
    ("operators.join_build_s", "s"), ("operators.wscg_s", "s"),
    ("operators.expand_rows", "count"),
    ("operators.join_rows_per_row_out", "ratio"), ("operators.spill_mb", "MB"),
    ("iter.build_s", "s"), ("iter.jobs_per_round", "count"), ("iter.round_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.stage_reuse", "ratio"), ("spark.deser_s", "s"),
    ("spark.driver_gap_s", "s"), ("spark.parallelism", "ratio"),
    ("spark.gc_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_records", "count"), ("spark.shuffle_read_mb", "MB"),
    ("spark.fetch_wait_s", "s"), ("spark.broadcasts", "count"),
    ("spark.broadcast_mb", "MB"), ("spark.failed_tasks", "count"),
    ("trace.setup_self_s.bench", "s"), ("trace.setup_self_s.session", "s"),
    ("trace.self_s.bench", "s"), ("trace.self_s.script", "s"),
    ("trace.self_s.iter", "s"), ("trace.self_s.plans", "s"),
    ("trace.self_s.operators", "s"), ("trace.self_s.spark", "s"),
    ("trace.traced_pass_s", "s"), ("trace.untraced_pass_s", "s"),
    ("trace.overhead_s", "s"),
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---- build --------------------------------------------------------------

def tree_stamp(root, dirs, extra=""):
    """Hash of every .scala file under dirs (paths and bytes)."""
    h = hashlib.sha256(extra.encode())
    files = [os.path.join(HERE, "build.sh")]
    for d in dirs:
        for dp, _, fs in os.walk(os.path.join(root, d)):
            files += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Builds the engine, then the harness, each only when its sources
    changed since the last build in `out`."""
    os.makedirs(out, exist_ok=True)
    engine = tree_stamp(root, ["src/main/scala"])
    for what, stamp in (("engine", engine),
                        ("harness", tree_stamp(root, ["perfbench/harness"], engine))):
        stamp_file = os.path.join(out, f"{what}.stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            continue
        log(f"perfbench: building the {what} ...")
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        subprocess.run(["bash", os.path.join(HERE, "build.sh"), out, what], cwd=root, check=True,
                       stdout=sys.stderr, timeout=800)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)


# ---- the JVM ------------------------------------------------------------

def java_cmd(build_dir, work, args):
    jars = os.environ.get("SPARK_JARS", "/opt/spark/jars")
    cp = os.pathsep.join([os.path.join(build_dir, "harness"),
                          os.path.join(build_dir, "classes"), os.path.join(jars, "*")])
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in JDK17_OPENS]
    return (["java"] + opens + [
        "-Xmx4g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dgraft.warehouse={os.path.join(work, 'warehouse')}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "perfbench.Harness"] + args)


def run_jvm(cmd, root, work, deadline):
    """Runs the harness JVM, its output going to <work>/harness.log."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    logf = os.path.join(work, "harness.log")
    with open(logf, "w") as fh:
        p = subprocess.Popen(cmd, cwd=root, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("harness JVM exceeded the run's time limit")
    if rc != 0:
        with open(logf) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"harness JVM exited with {rc}\n{tail}")


# ---- output checks (outside the timed region) ---------------------------

def norm_cell(v):
    """dev/check.py's cell normalization."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def norm_rows(df):
    """dev/check.py's row normalization: columns by name, rows by repr."""
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=repr)


def read_rows(con, d):
    files = sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))
    return con.sql(f"SELECT * FROM read_parquet({files!r})").df() if files else None


def check_query(con, oracle, d):
    """Compares a query unit's stored Spark output with its DuckDB oracle.
    Returns (problem or None, rows)."""
    sdf = read_rows(con, d) if os.path.isdir(d) else None
    if sdf is None:
        return "no output", 0
    if oracle is None:
        return "no oracle", len(sdf)
    scols, srows = norm_rows(sdf)
    ocols, orows = norm_rows(con.sql(oracle).df())
    if scols != ocols:
        return f"schema mismatch spark={scols} oracle={ocols}", len(srows)
    if len(srows) != len(orows):
        return f"row count mismatch spark={len(srows)} oracle={len(orows)}", len(srows)
    if srows != orows:
        bad = [(x, y) for x, y in zip(srows, orows) if x != y]
        return f"value mismatch n={len(bad)} first={bad[0]}", len(srows)
    return None, len(srows)


def store_digests(con, d):
    """{STORE output dir: (rows, content digest, byte digest)} under one
    script's output root. Content is the normalized row set; bytes are the
    data files' bytes (their names carry a per-write UUID and are left out)."""
    out = {}
    for dp, _, fs in sorted(os.walk(d)):
        parts = sorted(f for f in fs if f.endswith(".parquet"))
        if not parts:
            continue
        cols, rows = norm_rows(read_rows(con, dp))
        content = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
        files = sorted(hashlib.sha256(open(os.path.join(dp, f), "rb").read()).hexdigest() for f in parts)
        out[os.path.relpath(dp, d)] = (len(rows), content, hashlib.sha256("".join(files).encode()).hexdigest())
    return out


def check_script(con, dirs):
    """A script's STOREs must be non-empty and replay the same rows in every
    pass. Returns (problem or None, rows, notes); a STORE whose rows replay
    but whose bytes differ between passes is a note."""
    per_pass = [store_digests(con, d) if os.path.isdir(d) else {} for d in dirs]
    last = per_pass[-1]
    if not last:
        return "no STORE output", 0, []
    empty = [k for k, v in last.items() if v[0] == 0]
    if empty:
        return f"empty STORE output {empty}", 0, []
    if any(sorted(p) != sorted(last) for p in per_pass):
        return "STORE outputs differ between passes", 0, []
    differ = [k for k in last if len({p[k][1] for p in per_pass}) > 1]
    if differ:
        return f"STORE rows differ between passes: {differ}", 0, []
    notes = [k for k in last if len({p[k][2] for p in per_pass}) > 1]
    return None, sum(v[0] for v in last.values()), notes


# ---- metrics ------------------------------------------------------------

def unit_sum(p, key):
    return sum(u["counters"].get(key, 0.0) or 0.0 for u in p["units"])


def union_us(iv):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans, root_id):
    """Per-layer self time (s) of the span tree under root_id: each span's
    duration minus the part of it that its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    stack = [s for s in spans if s["id"] == root_id]
    while stack:
        s = stack.pop()
        ch = kids.get(s["id"], [])
        covered = union_us([(max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
                            for c in ch if c["end_us"] > s["start_us"] and c["start_us"] < s["end_us"]])
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0, s["end_us"] - s["start_us"] - covered) / 1e6
        stack.extend(ch)
    return out


def pass_layer_metrics(p, rows_out, scripts):
    """Per-layer values of one pass (sums over its units); `scripts` names
    the script units."""
    m = {}
    for key in ("spark.jobs", "spark.stages", "spark.tasks", "spark.deser_s",
                "spark.shuffle_write_mb", "spark.shuffle_records", "spark.shuffle_read_mb",
                "spark.fetch_wait_s", "spark.broadcasts", "spark.broadcast_mb",
                "spark.failed_tasks", "plans.plan_s", "plans.executions", "plans.exchanges",
                "plans.broadcast_joins", "plans.sort_merge_joins", "plans.cartesian",
                "sources.file_mb", "sources.file_rows", "sources.scan_s", "sources.output_mb",
                "sources.output_rows", "operators.agg_s", "operators.sort_s",
                "operators.join_build_s", "operators.wscg_s", "operators.expand_rows",
                "operators.spill_mb"):
        m[key] = unit_sum(p, key)
    wall = sum(u["wall_s"] for u in p["units"])
    in_jobs = unit_sum(p, "spark.stages_in_jobs")
    m["spark.stage_reuse"] = unit_sum(p, "spark.stages_skipped") / in_jobs if in_jobs else 0.0
    # jobs are [start_us, end_us, description]; end_us is -1 for a job that never ended
    busy = sum(union_us([(s, e) for s, e, _ in u["jobs"] if e >= 0]) for u in p["units"]) / 1e6
    m["spark.driver_gap_s"] = wall - busy
    m["spark.parallelism"] = unit_sum(p, "spark.task_s") / wall if wall else 0.0
    m["spark.gc_s"] = p["gc_s"]
    m["sources.cache_read_mb"] = max(0.0, unit_sum(p, "spark.input_mb") - m["sources.file_mb"])
    # ScriptEngine gives every pooled STORE's jobs the description
    # "STORE <rel> INTO <path>"; one STORE spans its first job start to its last job end
    stores = {}
    for u in p["units"]:
        for s, e, desc in u["jobs"]:
            if desc.startswith("STORE "):
                stores.setdefault((u["name"], desc), []).append((s, max(s, e)))
    m["script.store_s"] = sum(max(e for _, e in js) - min(s for s, _ in js) for js in stores.values()) / 1e6
    m["script.jobs_per_store"] = sum(len(js) for js in stores.values()) / len(stores) if stores else 0.0
    script_wall = sum(u["wall_s"] for u in p["units"] if u["name"] in scripts)
    m["script.store_overlap"] = m["script.store_s"] / script_wall if script_wall else 0.0
    out = rows_out or 0
    m["sources.rows_read_per_row_out"] = m["sources.file_rows"] / out if out else 0.0
    m["operators.join_rows_per_row_out"] = unit_sum(p, "operators.join_rows") / out if out else 0.0
    rounds = sum(u["rounds"] for u in p["units"])
    m["iter.build_s"] = sum(u["build_s"] for u in p["units"])
    m["iter.jobs_per_round"] = (sum(u["counters"]["spark.jobs"] for u in p["units"] if u["rounds"])
                                / rounds if rounds else 0.0)
    m["iter.round_s"] = sum(u["wall_s"] for u in p["units"] if u["rounds"]) / rounds if rounds else 0.0
    m["session.persisted_rdds"] = p["persisted_rdds"]
    m["session.retained_mb"] = p["retained_mb"]
    return m


def metrics(res, failed_units, rows_out, trace):
    ok = lambda u: u["name"] not in failed_units  # noqa: E731
    passes, setups = res["passes"], res["setups"]
    cold = passes[0]
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    wall = lambda p: sum(u["wall_s"] for u in p["units"] if ok(u))  # noqa: E731
    if not trace:
        names = [u["name"] for u in cold["units"] if ok(u)]
        per_unit = [median([u["wall_s"] for p in warm for u in p["units"] if u["name"] == n]) for n in names]
        vals = {
            "setup_s": median([s["setup_s"] for s in setups]),
            "cold_pass_s": wall(cold),
            "pass_s": median([wall(p) for p in warm]),
            "unit_geomean_s": (math.exp(sum(math.log(max(t, 1e-9)) for t in per_unit) / len(per_unit))
                               if per_unit else 0.0),
            "cpu_s": median([unit_sum(p, "spark.cpu_s") for p in warm]),
            "peak_mem_mb": median([max(u["counters"]["spark.peak_mem_mb"] for u in p["units"]) for p in warm]),
        }
        return {k: {"value": vals[k], "unit": unit} for k, unit in END_TO_END}
    scripts = {u["name"] for u in cold["units"]} - set(res["oracles"])
    per_pass = [pass_layer_metrics(p, rows_out, scripts) for p in traced]
    vals = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    rdds = [m["session.persisted_rdds"] for m in per_pass]
    mbs = [m["session.retained_mb"] for m in per_pass]
    vals["session.persisted_rdds_range"] = max(rdds) - min(rdds)
    vals["session.retained_mb_range"] = max(mbs) - min(mbs)
    vals["session.build_s"] = median([s["session.build_s"] for s in setups])
    vals["session.resolve_s"] = median([s["session.resolve_s"] for s in setups])
    vals["session.cold_setup_s"] = setups[0]["setup_s"]
    vals["script.compile_s"] = sum(c["s"] for c in res["compiles"].values())
    spans = res["spans"]
    # the cold set-up: JVM start to main (bench), then session build and resolve
    st = self_times(spans, next(s["id"] for s in spans if s["name"] == "setup0"))
    vals["trace.setup_self_s.bench"] = st.get("bench", 0.0)
    vals["trace.setup_self_s.session"] = st.get("session", 0.0)
    pass_roots = {s["name"]: s["id"] for s in spans if s["parent"] == 0 and s["name"].startswith("pass")}
    per_layer_self = [self_times(spans, pass_roots[f"pass{p['pass']}"]) for p in traced]
    for layer in ("bench", "script", "iter", "plans", "operators", "spark"):
        vals[f"trace.self_s.{layer}"] = median([s.get(layer, 0.0) for s in per_layer_self])
    vals["trace.traced_pass_s"] = median([wall(p) for p in traced])
    vals["trace.untraced_pass_s"] = median([wall(p) for p in warm])
    vals["trace.overhead_s"] = vals["trace.traced_pass_s"] - vals["trace.untraced_pass_s"]
    return {k: {"value": vals[k], "unit": unit} for k, unit in PER_LAYER}


# ---- main ---------------------------------------------------------------

def run_harness(root, build_dir, run_dir, workload, seed, seconds, trace):
    """Generates the inputs and runs the harness JVM. Returns its result.json
    record and a summary of the inputs; inputs are under <run_dir>/data and
    outputs under <run_dir>/work."""
    deadline = time.time() + RUN_LIMIT_S
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(work)
    tables, scale = WORKLOADS[workload]
    inputs = gen.generate(data, tables, seed, scale)
    summary = (f"inputs sf0.1 x {scale}: "
               + ", ".join(f"{t} {v['rows']} rows {v['bytes'] / 1e6:.2f} MB" for t, v in inputs.items())
               + f"; orders is {'above' if inputs['orders']['bytes'] > BROADCAST_THRESHOLD else 'below'}"
               " the 10 MB broadcast threshold")
    cores = str(len(os.sched_getaffinity(0)))
    args = [workload, data, work, str(seconds), str(trace), cores]
    run_jvm(java_cmd(build_dir, work, args), root, work, deadline)
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh), summary


def check_outputs(res, run_dir, tables):
    """Runs every output check. Returns ({unit: problem}, notes, result rows)."""
    import duckdb
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data, t)}.parquet')")
    problems, notes, rows_out = {}, [], 0
    n_pass = len(res["passes"])
    for name in (u["name"] for u in res["passes"][0]["units"]):
        dirs = [os.path.join(work, "out", f"pass{i}", name) for i in range(n_pass)]
        if name in res["oracles"]:
            err, n = check_query(con, res["oracles"][name], dirs[-1])
        else:
            err, n, byte_diff = check_script(con, dirs)
            notes += [f"{name}/{k}" for k in byte_diff]
        rows_out += n
        if err:
            problems[name] = err
    con.close()
    for name, c in res["compiles"].items():
        if c["error"]:
            problems.setdefault(name, f"dry run failed: {c['error']}")
    for p in res["passes"]:
        for u in p["units"]:
            if u["error"]:
                problems.setdefault(u["name"], u["error"])
    return problems, notes, rows_out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        sys.exit("perfbench: run from the repository root (no src/main/scala here)")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    build(root, build_dir)
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    keep = True  # a failed run keeps its inputs, outputs and log for inspection
    try:
        res, inputs = run_harness(root, build_dir, run_dir, a.workload, a.seed, a.seconds, a.trace)
        problems, notes, rows_out = check_outputs(res, run_dir, WORKLOADS[a.workload][0])
        units = [u for p in res["passes"] for u in p["units"]]
        attempted = len(units)
        failed = sum(1 for u in units if u["name"] in problems)
        m = metrics(res, set(problems), rows_out, a.trace == 1)
        if a.trace:
            # the spans, written out once the run is over
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.json"), "w") as fh:
                json.dump(res["spans"], fh)
        for name, err in sorted(problems.items()):
            log(f"perfbench: FAILED {name}: {err}")
        if notes:
            print(f"note: same rows but different bytes between passes: {', '.join(notes)}")
        print(f"workload {a.workload} seed {a.seed}: {len(res['passes'][0]['units'])} units, "
              f"1 cold + {len(res['passes']) - 1} warm passes, cores {res['cores']}, "
              f"broadcast threshold {res['broadcast_threshold']}")
        print(f"  {inputs}")
        print(f"  {'error_rate':<34} {failed / attempted:>14.6g} ratio"
              f"  ({failed} of {attempted} unit runs failed)")
        for k, v in m.items():
            print(f"  {k:<34} {v['value']:>14.6g} {v['unit']}")
        print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                          "metrics": m}))
        keep = bool(problems)
    finally:
        if keep:
            log(f"perfbench: run directory kept: {run_dir}")
        else:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

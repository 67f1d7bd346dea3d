#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload filter|plan --seed N \
        --seconds S --trace 0|1

Builds the program and the benchmark from source on first use (sbt, offline,
into perfbench/target), launches one JVM running Spark at local[nproc], and
prints a table of every metric to stderr. The last line of stdout is
    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
with the end-to-end metrics of BENCHMARK.json when --trace 0 and its
per-layer metrics when --trace 1. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

LAUNCH = time.time()
WORKLOADS = ("filter", "plan")
RUN_LIMIT_S = 170  # a run after the build must end within this
BUILD_LIMIT_S = 700  # the first run, build included, must end within 900 s


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def source_stamp(root):
    """Hash of every file the build reads, so a checkout builds once."""
    h = hashlib.sha256()
    tops = ["src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars(root):
    """The Spark jars directory the repository's own build compiles against
    (its `unmanagedBase`), so the benchmark uses the same Spark."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
    if m is None or not os.path.isdir(m.group(1)):
        fail("Spark jars directory not found from the root build.sbt's unmanagedBase")
    return m.group(1)


def build(root, classes):
    stamp_file = os.path.join(root, ".bench_build", "perfbench", "build.stamp")
    stamp = source_stamp(root)
    if os.path.isdir(classes) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return False
    if shutil.which("sbt") is None:
        fail("sbt not found")
    log("building program and benchmark with sbt (first run in this checkout)")
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars(root))
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = ("-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.isfile(repos) else ""))
    proc = subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true", "clean", "compile"],
                            cwd=os.path.join(root, "perfbench"), env=env,
                            stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    if wait_or_kill(proc, BUILD_LIMIT_S) != 0 or not os.path.isdir(classes):
        fail("sbt build failed", 4)
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return True


def wait_or_kill(proc, limit):
    """Waits for `proc`; past `limit` seconds, or when this process is told
    to stop, kills the child's whole process group first."""
    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return proc.wait(timeout=max(1.0, limit))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.default_int_handler)


JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(root, classes, args, run_dir, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    cmd = [java]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.stream.error.file={os.path.join(tmp, 'derby.log')}",
        f"-Dlog4j2.configurationFile={os.path.join(root, 'perfbench', 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{spark_jars(root)}/*", "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--run-dir", run_dir, "--cores", str(cores),
        "--launch-ms", str(int(time.time() * 1000)),
    ]
    if os.environ.get("PERFBENCH_PLANT") == "1":
        cmd += ["--plant", "1"]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    code = wait_or_kill(proc, deadline - time.time())
    if code is None:
        fail("benchmark JVM exceeded its time limit and was stopped", 3)
    result = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.isfile(result):
        fail(f"benchmark JVM exited with code {code}", 3)
    with open(result) as fh:
        return json.load(fh)


# ---- DuckDB oracle checks of the dedup operators (traced filter runs) ----

def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    return str(v)


def tnorm(t):
    s = str(t)
    return {"large_string": "string", "large_binary": "binary"}.get(s, s)


def compare_tables(exp, got):
    """None when equal as multisets of rows (columns by name, strict types);
    else a one-line reason. The same rules as tools/check.py."""
    ecols, gcols = sorted(exp.column_names), sorted(got.column_names)
    if ecols != gcols:
        return f"columns expected {ecols} got {gcols}"
    etypes = {c: tnorm(exp.schema.field(c).type) for c in ecols}
    gtypes = {c: tnorm(got.schema.field(c).type) for c in gcols}
    if etypes != gtypes:
        return f"types expected {etypes} got {gtypes}"
    erows = sorted(tuple(norm(r[c]) for c in ecols) for r in exp.to_pylist())
    grows = sorted(tuple(norm(r[c]) for c in ecols) for r in got.to_pylist())
    if len(erows) != len(grows):
        return f"row count expected {len(erows)} got {len(grows)}"
    bad = sum(1 for e, g in zip(erows, grows) if e != g)
    return f"{bad} rows differ" if bad else None


def components(pairs):
    """Union-find over (a, b) pairs: node -> smallest id in its component."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def duckdb_checks(run_dir):
    import duckdb
    import pyarrow.parquet as pq
    with open(os.path.join(run_dir, "duckdb_checks.json")) as fh:
        spec = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for f in sorted(os.listdir(spec["tables_dir"])):
        if f.endswith(".parquet"):
            path = os.path.join(spec["tables_dir"], f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    results = []
    got = {q: pq.read_table(p) for q, p in spec["outputs"].items()}
    for q, sql in sorted(spec["oracle_sql"].items()):
        try:
            why = compare_tables(con.execute(sql).fetch_arrow_table(), got[q])
        except Exception as e:  # a failing oracle query is a failed check
            why = f"error {e}"
        results.append((f"dedup.{q}.oracle", why is None, why or "equal to DuckDB oracle"))
    q28 = got["q28_phash_neardup"].to_pydict()
    expected = components(zip(q28["a_id"], q28["b_id"]))
    q31 = got["q31_connected_components"].to_pydict()
    labels = dict(zip(q31["id"], q31["label"]))
    ok = labels == expected and len(q31["id"]) == len(labels)
    results.append(("dedup.q31_connected_components.union_find", ok,
                    f"{len(expected)} nodes expected, {len(q31['id'])} rows, "
                    f"{sum(1 for k, v in expected.items() if labels.get(k) != v)} labels differ"))
    return results


def pick_metrics(listed, values, not_called):
    """The listed metrics with their values, and the names of those missing.
    A metric of a layer the workload never calls (a name starting with one
    of `not_called`) reads 0; any other missing metric also reads 0 but is
    returned as missing, so that it counts as a failed check."""
    metrics, missing = {}, []
    for m in listed:
        v = values.get(m["name"])
        if v is None:
            if not m["name"].startswith(not_called):
                missing.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return metrics, missing


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}")
    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    classes = os.path.join(root, "perfbench", "target", "scala-2.13", "classes")
    built = build(root, classes)
    start = time.time() if built else LAUNCH
    run_dir = os.path.join(root, ".bench_build", "perfbench", "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = run_jvm(root, classes, args, run_dir, start + RUN_LIMIT_S)
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        attempted, failed = int(res["attempted"]), int(res["failed"])
        if os.path.isfile(os.path.join(run_dir, "duckdb_checks.json")):
            try:
                py = duckdb_checks(run_dir)
            except Exception as e:  # an unreadable output is a failed check
                py = [("dedup.duckdb_checks", False, repr(e))]
            checks += py
            attempted += len(py)
            failed += sum(1 for _, ok, _ in py if not ok)
    finally:
        keep = os.path.join(root, ".bench_build", "perfbench", "reports", os.path.basename(run_dir))
        os.makedirs(keep, exist_ok=True)
        for f in ("result.json", "trace.json"):
            if os.path.isfile(os.path.join(run_dir, f)):
                shutil.copy(os.path.join(run_dir, f), keep)
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        values = dict(res["per_layer"], **{"checks.failed_ratio": 0.0})  # set below
        listed = bench["per_layer"]
    else:
        values = res["end_to_end"]
        listed = bench["end_to_end"]
    metrics, missing = pick_metrics(
        listed, values, tuple(res["layers_not_called"]) if args.trace else ())
    for name in missing:
        checks.append((f"metric.{name}", False, "missing from the run's result"))
    attempted += len(missing)
    failed += len(missing)
    if args.trace:
        metrics["checks.failed_ratio"]["value"] = failed / attempted
    for name, ok, detail in checks:
        log(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    for e in res["errors"]:
        log(f"error {e}")
    for name, m in metrics.items():
        log(f"{name:<48} {m['value']:>16.6g} {m['unit']}")
    log(f"passes {len(res['pass_s'])} untraced, {len(res['traced_pass_s'])} traced; "
        f"attempted {attempted}, failed {failed}; report in {keep}")
    print(json.dumps({"correct": failed == 0 and not res["errors"],
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

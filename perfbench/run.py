#!/usr/bin/env python3
"""Warehouse-and-corpus benchmark of the engine.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 perfbench/run.py diff PROFILE_A PROFILE_B
  python3 perfbench/run.py steady --workload W [--runs 5] [--seconds S]

A run builds the engine from source (once per source state), generates
the workload's inputs from the seed (gen.py, cached per seed), computes
the expected output hashes with DuckDB from the engine's own oracle SQL
(cached per seed), runs the workload as a closed loop with one client in
one JVM at local[N], N <= 4, hashes every operation's output and prints
one JSON line: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. A traced run also writes a profile to
perfbench/.work/profiles/. Everything the benchmark writes stays under
perfbench/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
# the base the inputs are derived from: the engine's bench dataset
BASE = Path(os.environ.get("SPARK_GRAFT_SF_DIR", Path.home() / "testdata" / "sf0.1"))
CPUS = min(4, os.cpu_count() or 1)

# workload -> (input kind, replicas of the base, oracle keys, set-up builds);
# a workload cycles through one operation per oracle key
WORKLOADS = {
    "star_load": ("star", 2, ["etl_star_build"], 1),
    "star_reports": ("star", 2, ["report_revenue_by_year", "report_quarterly_top5",
                                 "report_customer_summary",
                                 "report_units_by_country_quarter",
                                 "report_revenue_recent_years", "sales_summary"], 2),
    "corpus_export": ("corpus", 2, ["corpus_to_shards"], 1),
    "corpus_delta": ("corpus", 2, ["delta_corpus_to_shards"], 1),
}

END_TO_END = {  # name -> unit
    "setup_s": "s", "op_s_p50": "s", "rows_per_s": "1/s", "cpu_s": "s",
    "shuffle_mb": "MB", "peak_exec_mem_mb": "MB"}

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return None


# ---- build ---------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*.scala")) + sorted(
        (HERE / "src").rglob("*.scala")) + [HERE / "build.sbt",
                                             HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def spark_jars():
    """The Spark jars the engine's own build compiles against (the
    unmanagedBase its build.sbt names), else $SPARK_HOME/jars."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if m:
        return Path(m.group(1))
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    fail("no Spark jars: the engine's build.sbt names none and SPARK_HOME is unset")


def classpath():
    return f"{HERE / 'target' / 'scala-2.13' / 'classes'}:{spark_jars()}/*"


def java(args, log, timeout, env=None, tmp=None):
    tmp = tmp or WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *JAVA_OPENS, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.callstack.depth=400",
           f"-Djava.io.tmpdir={tmp}", "-Xmx3g", "-cp", classpath(), *args]
    with open(log, "w") as out:
        return subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                              timeout=timeout, env=env).returncode


def build():
    """Compile the engine's sources plus the harness (perfbench/build.sbt)
    when they changed since the last build, and dump the oracle SQL."""
    bdir = WORK / "build"
    bdir.mkdir(parents=True, exist_ok=True)
    with open(bdir / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        sfile = bdir / "stamp"
        if sfile.exists() and sfile.read_text() == stamp:
            return
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
            "-Dsbt.override.build.repos=true",
            "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories"),
            "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
        with open(bdir / "sbt.log", "w") as log:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, timeout=800).returncode
        if rc != 0:
            sys.stderr.write((bdir / "sbt.log").read_text()[-4000:])
            fail("build failed")
        if java(["perfbench.Runner", "oracle-sql", str(bdir / "oracle_sql.json")],
                bdir / "oracle.log", 120) != 0:
            fail("could not dump the oracle SQL")
        sfile.write_text(stamp)


# ---- inputs and expected hashes -------------------------------------------

def inputs(kind, k, seed):
    sys.path.insert(0, str(HERE))
    import gen
    tag = hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()[:8]
    d = WORK / "data" / f"{kind}-k{k}-s{seed}-{tag}"
    if not (d / "inputs.json").exists():
        tmp = d.with_name(d.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(str(BASE), str(tmp), seed, kind, k)
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    return d


def _norm():
    sys.path.insert(0, str(ROOT / "tools"))
    from oracle_check import norm  # the oracle gate's value normalisation
    return norm


def rows_hash(columns, rows):
    """md5 over the rows in emitted order, columns sorted by name and
    every value normalised as tools/oracle_check.py does."""
    norm = _norm()
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    h = hashlib.md5(repr([columns[i].lower() for i in order]).encode())
    for r in rows:
        h.update(repr(tuple(norm(r[i]) for i in order)).encode())
    return h.hexdigest()


FACT_COLS = ["order_id", "line_no", "date_key", "customer_key", "product_key",
             "units_sold_cents", "revenue_tenthcents", "year", "quarter",
             "month", "country"]


def fact_fingerprint(con, rel):
    """Order-independent hash of a fact table (the warehouse is a set of
    rows): count plus the sum of per-row hashes, in DuckDB on both sides."""
    cols = ", ".join(f"CAST({c} AS VARCHAR)" if c == "country" else f"CAST({c} AS BIGINT)"
                     for c in FACT_COLS)
    n, s = con.execute(f"SELECT count(*), CAST(sum(CAST(hash({cols}) AS HUGEINT)) "
                       f"AS VARCHAR) FROM {rel}").fetchone()
    return f"{n}:{s}"


DIM_COUNTS = {
    "dim_date": "SELECT date_diff('day', CAST(min(o_orderdate) AS DATE), "
                "CAST(max(o_orderdate) AS DATE)) + 61 FROM orders",
    "dim_location": "SELECT count(*) FROM (SELECT DISTINCT n_nationkey, n_name, r_name "
                    "FROM nation JOIN region ON n_regionkey = r_regionkey)",
    "dim_customer": "SELECT count(*) FROM customer JOIN nation ON c_nationkey = n_nationkey "
                    "JOIN region ON n_regionkey = r_regionkey",
    "dim_product": "SELECT count(*) FROM part"}


def warehouse_hash(con, wh):
    dims = {t: con.execute(f"SELECT count(*) FROM read_parquet('{wh}/{t}/*.parquet')")
            .fetchone()[0] for t in DIM_COUNTS}
    fact = fact_fingerprint(
        con, f"read_parquet('{wh}/fact_sales/*/*.parquet', hive_partitioning = true)")
    return json.dumps({"fact": fact, **dims}, sort_keys=True)


def duck(data):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for p in sorted(Path(data).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    return con


def expected(data, keys):
    """Expected hash per oracle key over the generated inputs, cached
    next to them (and recomputed when the oracle SQL changes)."""
    sql = json.loads((WORK / "build" / "oracle_sql.json").read_text())
    tag = hashlib.sha256(json.dumps([sql[k] for k in keys]).encode()).hexdigest()[:16]
    f = Path(data) / f"expected-{tag}.json"
    if f.exists():
        return json.loads(f.read_text())
    con = duck(data)
    out = {}
    for k in keys:
        if k == "etl_star_build":
            dims = {t: con.execute(q).fetchone()[0] for t, q in DIM_COUNTS.items()}
            out[k] = json.dumps({"fact": fact_fingerprint(con, f"({sql[k]})"), **dims},
                                sort_keys=True)
        else:
            rel = con.execute(sql[k])
            out[k] = rows_hash([d[0] for d in rel.description], rel.fetchall())
    f.write_text(json.dumps(out))
    return out


def output_hash(con, key, path):
    if key == "etl_star_build":
        return warehouse_hash(con, path)
    doc = json.loads(Path(path).read_text())
    return rows_hash(doc["columns"], doc["rows"])


def check(con, ops, want):
    """Hash every operation's output and compare it with the oracle's;
    an operation that threw or whose hash differs fails. Returns the
    number of failures and marks each operation `correct` or not."""
    failed = 0
    for o in ops:
        o["correct"] = (o["error"] is None and o["output"] is not None and
                        output_hash(con, o["key"], o["output"]) == want[o["key"]])
        failed += not o["correct"]
    return failed


# ---- metrics ---------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it, and
    which percentile that is; below eleven samples, the slowest one."""
    s = sorted(xs)
    if len(s) < 11:
        return (s[-1] if s else 0.0), 100.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def end_to_end(doc, cycle):
    """The end-to-end metrics of the untraced loop. A workload that cycles
    through `cycle` distinct operations (the report set) takes its
    median over whole cycles of the mean operation time: the median of a
    mix of six query shapes falls between two of them and jumps."""
    ops = doc["ops"]
    secs = [o["secs"] for o in ops]
    cycles = [statistics.fmean(secs[i:i + cycle]) for i in range(0, len(secs), cycle)]
    return {
        "setup_s": doc["setup_s"],
        "op_s_p50": median(cycles),
        "rows_per_s": doc["source_rows_per_op"] * len(ops) / sum(secs),
        "cpu_s": statistics.fmean([o["cpu_s"] for o in ops]),
        "shuffle_mb": statistics.fmean([o["shuffle_mb"] for o in ops]),
        "peak_exec_mem_mb": median([o["peak_exec_mem_mb"] for o in ops]),
    }


def per_layer_units():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


# ---- one run -----------------------------------------------------------------

def run(workload, seed, seconds, trace):
    if workload not in WORKLOADS:
        fail(f"unknown workload {workload}")
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"engine sources not found under {ROOT}")
    if not BASE.is_dir():
        fail(f"base testdata not found at {BASE}")
    kind, k, keys, reps = WORKLOADS[workload]
    build()
    data = inputs(kind, k, seed)
    want = expected(data, keys)

    rdir = WORK / "runs" / f"{workload}-s{seed}-{os.getpid()}"
    shutil.rmtree(rdir, ignore_errors=True)
    (rdir / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS),
               SPARK_LOCAL_DIRS=str(rdir / "spark-local"))
    load_before = loadavg()
    try:
        rc = java(["perfbench.Runner", "run", workload, str(data), str(rdir),
                   str(seconds), "1" if trace else "0", str(reps), str(rdir / "run.json")],
                  rdir / "jvm.log", 170, env=env, tmp=rdir / "tmp")
        if rc != 0 or not (rdir / "run.json").exists():
            sys.stderr.write((rdir / "jvm.log").read_text()[-4000:])
            fail(f"workload run failed (exit {rc})")
        doc = json.loads((rdir / "run.json").read_text())
        load_after = loadavg()
        attempted = len(doc["ops"]) + len(doc["traced_ops"])
        failed = check(duck(data), doc["ops"] + doc["traced_ops"], want)
    finally:
        shutil.rmtree(rdir, ignore_errors=True)

    print(f"loadavg before {load_before} after {load_after}; "
          f"{len(doc['ops'])} untraced + {len(doc['traced_ops'])} traced operations")
    if trace:
        units = per_layer_units()
        p50 = {k: end_to_end({**doc, "ops": doc[k]}, len(keys))["op_s_p50"]
               for k in ("ops", "traced_ops")}
        t, pct = tail([o["secs"] for o in doc["ops"]])
        vals = dict(doc["per_layer"])
        vals.update({"fail_frac": failed / attempted, "op_s_tail": t, "op_s_tail_pct": pct,
                     "trace.overhead_s": p50["traced_ops"] - p50["ops"]})
        metrics = {n: {"value": vals.get(n, 0.0), "unit": u} for n, u in units.items()}
        prof = WORK / "profiles" / f"{workload}-seed{seed}.json"
        prof.parent.mkdir(parents=True, exist_ok=True)
        inp = json.loads((data / "inputs.json").read_text())
        prof.write_text(json.dumps({
            "workload": workload, "seed": seed, "seconds": seconds,
            "inputs": inp, "loadavg_before": load_before, "loadavg_after": load_after,
            "end_to_end_untraced": end_to_end(doc, len(keys)),
            "op_s_p50_untraced": p50["ops"], "op_s_p50_traced": p50["traced_ops"],
            "per_layer": {n: m["value"] for n, m in metrics.items()},
            "per_layer_by_op": doc["per_layer_by_op"],
            "self_ms": self_ms(doc["spans"]), "spans": doc["spans"],
            "ops": doc["ops"], "traced_ops": doc["traced_ops"]}, indent=1))
        print(f"profile: {prof.relative_to(ROOT)}")
    else:
        metrics = {n: {"value": v, "unit": END_TO_END[n]}
                   for n, v in end_to_end(doc, len(keys)).items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


# ---- diff and steadiness -------------------------------------------------------

def self_ms(spans):
    """Self time per span name, summed over the traced operations."""
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0) + s["self_ms"]
    return out


def diff(a, b):
    """Per-layer metric of two profiles side by side, with B's change
    over A; then the untraced end-to-end metrics the profiles recorded."""
    pa, pb = (json.loads(Path(p).read_text()) for p in (a, b))

    def row(name, x, y):
        fx, fy = (f"{v:14.6g}" if v is not None else f"{'-':>14}" for v in (x, y))
        ch = f"{(y - x) / x:+8.1%}" if x and y is not None else f"{'-':>8}"
        print(f"{name:44} {fx} {fy} {ch}")

    print(f"{'metric':44} {'A':>14} {'B':>14} {'change':>8}")
    for n in sorted(set(pa["per_layer"]) | set(pb["per_layer"])):
        row(n, pa["per_layer"].get(n), pb["per_layer"].get(n))
    e2e = "end_to_end_untraced"
    for n in sorted(set(pa[e2e]) | set(pb[e2e])):
        row(f"e2e.{n}", pa[e2e].get(n), pb[e2e].get(n))


def steady(workload, runs, seconds):
    """Two sets of `runs` runs of the same code, seeds 1..runs in each:
    each end-to-end metric's quartile spread per set and the change in
    median between the sets, with every run's load average."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    sets = []
    for rep in range(2):
        vals = {n: [] for n in bounds}
        for seed in range(1, runs + 1):
            p = subprocess.run([sys.executable, __file__, "--workload", workload,
                                "--seed", str(seed), "--seconds", str(seconds),
                                "--trace", "0"], capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                fail(f"run failed: {p.stderr[-2000:]}")
            res = json.loads(lines[-1])
            print(f"set {rep + 1} seed {seed}: {lines[0]}; correct={res['correct']}")
            for n in vals:
                vals[n].append(res["metrics"][n]["value"])
        sets.append(vals)
    print(f"{'metric':18} {'bound':>6} {'spread1':>8} {'spread2':>8} {'median1':>12} "
          f"{'median2':>12} {'change':>8}")
    for n, bound in bounds.items():
        sp = []
        for vals in sets:
            q = statistics.quantiles(vals[n], n=4)
            sp.append((q[2] - q[0]) / statistics.median(vals[n]))
        m1, m2 = (statistics.median(v[n]) for v in sets)
        print(f"{n:18} {bound:6.2f} {sp[0]:8.3f} {sp[1]:8.3f} {m1:12.5g} {m2:12.5g} "
              f"{(m2 - m1) / m1:8.3f}")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "diff":
        return diff(sys.argv[2], sys.argv[3])
    ap = argparse.ArgumentParser()
    ap.add_argument("command", nargs="?", default="run", choices=["run", "steady"])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--runs", type=int, default=5)
    a = ap.parse_args()
    if a.command == "steady":
        return steady(a.workload, a.runs, a.seconds)
    run(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    main()

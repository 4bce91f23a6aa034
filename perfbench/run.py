#!/usr/bin/env python3
"""Benchmark for the spark-graft engine: one workload per run.

    python3 perfbench/run.py --workload sql_batch --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (scalac against the
engine's jars; reused while the sources are unchanged), generates the
inputs from --seed, runs one JVM with Spark at local[<nproc>], checks
every result, prints each metric
by name and unit, and ends stdout with one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 records a span file
(perfbench/work/run/spans.jsonl) and reports the per-layer metrics
derived from it. NOTES.md explains the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
RUN = os.path.join(WORK, "run")
WORKLOADS = ("sql_batch", "cdc_stream")
BUILD_TIMEOUT_S = 400  # per compiler run; the two stay under 900 s together
JAVA = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
# CPU steal above this share of the host's CPU time during a run is
# reported: other tenants then took enough of the cores to move timings.
STEAL_WARN = 0.10
# A fixed heap and young generation: with G1 left to grow both, the peak
# resident set of identical runs spread by ~40%.
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, log, timeout, **kw):
    """Runs cmd with output to log. On timeout, or when this script gets
    SIGTERM, kills cmd's whole process group (so nothing it started outlives it)
    and waits for it."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True, **kw)

        def stop():
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        signal.signal(signal.SIGTERM, lambda *_: (stop(), sys.exit(143)))
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            stop()
            fail(f"{cmd[0]} exceeded {timeout} s, see {log}", 4)
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)


# ------------------------------------------------------------------ build

def source_digest(jars):
    h = hashlib.sha1()
    files = []
    for pattern in ("src/main/**/*", "perfbench/src/**/*"):
        files += [f for f in glob.glob(os.path.join(ROOT, pattern), recursive=True)
                  if os.path.isfile(f)]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(jars).encode())
    return h.hexdigest()


def scalac(out, classpath, scala, src_dir, log):
    """Compiles every .scala file under src_dir into out."""
    jars = {os.path.basename(j): j for j in classpath}
    compiler = [jars[f"scala-{m}-{scala}.jar"] for m in ("compiler", "library", "reflect")]
    srcs = sorted(glob.glob(os.path.join(src_dir, "**", "*.scala"), recursive=True))
    os.makedirs(out)
    args = os.path.join(WORK, "scalac.args")  # one argument a line: no ARG_MAX limit
    with open(args, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", out, "-classpath", ":".join(classpath)] + srcs))
    rc = run_bounded([JAVA, "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                      f"-Djava.io.tmpdir={WORK}", "-cp", ":".join(compiler),
                      "scala.tools.nsc.Main", "@" + args], log, BUILD_TIMEOUT_S, cwd=WORK)
    if rc != 0:
        with open(log) as fh:
            print(fh.read()[-4000:], file=sys.stderr)
        fail(f"compiling {os.path.relpath(src_dir, ROOT)} failed, see {log}", 3)


def engine_build():
    """The engine's jar directory and Scala version, as its build.sbt names them."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        sbt = fh.read()
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    scala = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt)
    if not (jars and scala):
        fail("build.sbt names no unmanagedBase or scalaVersion", 3)
    return jars.group(1), scala.group(1)


def build():
    """Returns the runtime classpath, compiling first if sources changed.
    The engine and the harness are compiled with the Scala compiler that
    ships among the engine's jars, against those jars (its only main
    dependencies), so the build needs no dependency resolver, no network
    and no cache outside the checkout."""
    jar_dir, scala = engine_build()
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not any(os.path.basename(j) == f"scala-compiler-{scala}.jar" for j in jars):
        fail(f"scala-compiler-{scala}.jar not found in {jar_dir}", 3)
    digest = source_digest(jars)
    classes = os.path.join(WORK, "classes")
    engine, bench = os.path.join(classes, "engine"), os.path.join(classes, "perfbench")
    classpath = [bench, engine, os.path.join(ROOT, "src", "main", "resources")] + jars
    stamp = os.path.join(classes, "digest")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                return classpath, digest
    shutil.rmtree(classes, ignore_errors=True)
    scalac(engine, jars, scala, os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(WORK, "build-engine.log"))
    scalac(bench, [engine] + jars, scala, os.path.join(HERE, "src", "main", "scala"),
           os.path.join(WORK, "build-perfbench.log"))
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classpath, digest


# ------------------------------------------------------------ correctness

def oracle_mismatches(data, results):
    """Compares each written result with its DuckDB oracle SQL, normalised
    as tools/check.py does. Returns {query: reason} for every mismatch."""
    import duckdb
    import numpy as np
    import pandas as pd

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        out = {}
        for c in df.columns:
            s = df[c]
            if s.dtype == object:
                out[c] = s.map(lambda v: str(v) if v is not None else "<NULL>")
            elif np.issubdtype(s.dtype, np.floating):
                out[c] = s.astype(np.float64)
            elif np.issubdtype(s.dtype, np.integer):
                out[c] = s.astype(np.int64)
            elif np.issubdtype(s.dtype, np.datetime64):
                out[c] = s.astype("datetime64[us]").astype(str)
            else:
                out[c] = s.map(str)
        r = pd.DataFrame(out)
        return r.sort_values(by=list(r.columns), kind="mergesort").reset_index(drop=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = {}
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(f"{results}/{name}/*.parquet"))
        try:
            got = norm(pd.concat([pd.read_parquet(f) for f in files]))
            exp = norm(con.execute(sql).df())
        except Exception as e:  # unreadable result or oracle error
            bad[name] = f"{type(e).__name__}: {e}"
            continue
        if list(got.columns) != list(exp.columns):
            bad[name] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(got) != len(exp):
            bad[name] = f"rows {len(got)} != {len(exp)}"
        else:
            neq = got.values != exp.values
            for i, c in enumerate(got.columns):
                if got[c].dtype == np.float64:
                    neq[:, i] &= ~(got[c].isna().values & exp[c].isna().values)
            if neq.any():
                bad[name] = f"{int(neq.any(axis=1).sum())} rows differ"
    return bad


# ---------------------------------------------------------------- metrics

def percentile(xs, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(xs):
    """The highest whole percentile with at least ten samples beyond it
    (never below the median), its value, and the sample count."""
    n = len(xs)
    p = max(50, math.floor(100 * (1 - 10 / n))) if n else 50
    return p, percentile(xs, p), n


def declared():
    """BENCHMARK.json's metric names with their units: (end_to_end, per_layer)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in b[k]} for k in ("end_to_end", "per_layer"))


def cpu_times():
    """The host's cumulative CPU times from /proc/stat: (total, steal)."""
    with open("/proc/stat") as fh:
        t = [int(x) for x in fh.readline().split()[1:9]]
    return sum(t), t[7]


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(raw):
    """The end-to-end metric values. For the batch workloads a pass is one
    run over the query list, and its latency is the pass (the batch job)
    wall time: a percentile over a few queries of very different cost
    jumps between them. A run has too few passes for a percentile with ten
    samples beyond it, so the tail is the highest one with one sample
    beyond it, the second-slowest pass: the slowest alone swings with a
    single stall of the shared host. For cdc_stream the latency is a live tick's and the
    pass is the backfill drain."""
    if raw["workload"] == "cdc_stream":
        lat = raw["live"]["latencies_ms"]
        pass_s = raw["backfill"]["wall_s"]
        per_op = lat
        p, tail_ms, n = tail(lat)
    else:
        passes = raw["passes"]
        pass_s = statistics.median(p["wall_s"] for p in passes)
        lat = [p["wall_s"] * 1000 for p in passes]
        per_op = [statistics.median(p["queries"][q] for p in passes if q in p["queries"]) * 1000
                  for q in raw["queries"]]
        n = len(lat)
        p = 100 * (n - 2) / (n - 1)  # the second-slowest pass
        tail_ms = percentile(lat, p)
    m = {"setup_s": raw["setup_s"], "pass_s": pass_s,
         "latency_p50_ms": percentile(lat, 50), "latency_tail_ms": tail_ms,
         "latency_geomean_ms": geomean(per_op), "rss_peak_mb": raw["rss_peak_mb"]}
    return m, {"tail_percentile": p, "latency_samples": n}


def load_spans(path):
    with open(path) as fh:
        spans = [json.loads(l) for l in fh if l.strip()]
    by_id = {s["id"]: s for s in spans}

    def ancestors(s):
        seen = []
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
            seen.append(s["id"])
        return seen
    for s in spans:
        s["up"] = set(ancestors(s))
        s["dur_s"] = (s["end_ns"] - s["start_ns"]) / 1e9
    return spans


def layer_totals(spans, roots, wall_s, cpus, names):
    """Counters summed over every span under `roots` (one timed pass).
    `names` are the per-layer metric names; each `family.<f>.s` among
    them is the time spent in the queries of that family."""
    ids = {r["id"] for r in roots}
    under = [s for s in spans if s["up"] & ids]

    def named(n):
        return [s for s in under if s["name"] == n]

    stages = named("stage")
    jobs = named("job")

    def st(key):
        return sum(s["attrs"][key] for s in stages)
    lo = min(r["start_ns"] for r in roots)
    hi = max(r["end_ns"] for r in roots)
    busy, reach = 0, lo  # length of the union of stage intervals
    for a, b in sorted((s["start_ns"], min(s["end_ns"], hi)) for s in stages):
        if b > reach:
            busy += b - max(a, reach)
            reach = b
    catalyst = named("catalyst")
    tasks = st("tasks")
    run_s = st("run_ms") / 1e3
    m = {
        "operators.construct_s": sum(s["dur_s"] for s in named("construct")),
        "catalyst.plan_s": sum(s["attrs"].get(k, 0) for s in catalyst
                               for k in ("analysis_ms", "optimization_ms", "planning_ms")) / 1e3,
        "catalyst.actions": len(catalyst),
        "scheduler.jobs": len(jobs), "scheduler.stages": len(stages),
        "scheduler.tasks": tasks,
        "scheduler.tasks_per_job": tasks / len(jobs) if jobs else 0.0,
        "scheduler.driver_gap_s": wall_s - busy / 1e9,
        "executor.task_run_s": run_s, "executor.task_cpu_s": st("cpu_ns") / 1e9,
        "executor.gc_s": st("gc_ms") / 1e3,
        "executor.core_util": run_s / (wall_s * cpus) if wall_s else 0.0,
        "shuffle.read_bytes": st("shuffle_read_bytes"),
        "shuffle.write_bytes": st("shuffle_write_bytes"),
        "shuffle.fetch_wait_s": st("fetch_wait_ms") / 1e3,
        "scan.input_bytes": st("input_bytes"), "scan.input_records": st("input_records"),
        "write.output_bytes": st("output_bytes"), "write.output_records": st("output_records"),
        "spill.disk_bytes": st("spill_disk_bytes"), "spill.memory_bytes": st("spill_memory_bytes"),
    }
    queries = named("query")
    for name in names:
        kind, _, rest = name.partition(".")
        if kind == "family":
            m[name] = sum(s["dur_s"] for s in queries if s["attrs"]["family"] == rest[:-len(".s")])
    return m


STREAM_KEYS = {  # per-layer metric -> (epoch attribute, reducer)
    "source.latest_offset_ms": ("latestOffset_ms", "p50"),
    "source.get_batch_ms": ("getBatch_ms", "p50"),
    "source.lag_records_max": ("lag_records", "max"),
    "state.rows": ("state_rows", "last"),
    "state.memory_bytes": ("state_memory_bytes", "max"),
    "state.commit_ms": ("state_commit_ms", "p50"),
    "state.update_ms": ("state_update_ms", "p50"),
    "sink.add_batch_ms": ("addBatch_ms", "p50"),
    "sink.wal_commit_ms": ("walCommit_ms", "p50"),
    "stream.trigger_ms": ("triggerExecution_ms", "p50"),
    "stream.plan_ms": ("queryPlanning_ms", "p50"),
}


def per_layer(raw, spans, cpus, names):
    """Per-layer metrics from the span file: medians over timed passes for
    the batch workloads; the timed phase as one pass for cdc_stream."""
    if raw["workload"] == "cdc_stream":
        roots = [s for s in spans if s["name"] in ("backfill", "live", "read_state", "compact")]
        wall = (max(r["end_ns"] for r in roots) - min(r["start_ns"] for r in roots)) / 1e9
        m = layer_totals(spans, roots, wall, cpus, names)
        ids = {r["id"] for r in roots if r["name"] in ("backfill", "live")}
        epochs = [s for s in spans if s["name"] == "epoch" and s["up"] & ids]
        for k, (attr, how) in STREAM_KEYS.items():
            xs = [e["attrs"].get(attr, 0) for e in epochs]
            m[k] = (0 if not xs else statistics.median(xs) if how == "p50"
                    else max(xs) if how == "max" else xs[-1])
        m["stream.epochs"] = len(epochs)
        m["sink.read_state_s"] = next(r["dur_s"] for r in roots if r["name"] == "read_state")
        m["sink.compact_s"] = next(r["dur_s"] for r in roots if r["name"] == "compact")
        m["gen.late_ms_max"] = raw["live"]["late_ms_max"]
        m["scheduler.jobs_range"] = 0
        m["shuffle.read_bytes_range"] = 0
        return m
    passes = sorted((s for s in spans if s["name"] == "pass"), key=lambda s: s["attrs"]["index"])
    each = [layer_totals(spans, [p], p["dur_s"], cpus, names) for p in passes]
    m = {k: statistics.median(e[k] for e in each) for k in each[0]}
    for k in STREAM_KEYS:
        m[k] = 0
    m.update({"stream.epochs": 0, "sink.read_state_s": 0, "sink.compact_s": 0,
              "gen.late_ms_max": 0})
    # AQE moves these counts a little from pass to pass; report how much.
    for k in ("scheduler.jobs", "shuffle.read_bytes"):
        xs = [e[k] for e in each]
        m[k + "_range"] = max(xs) - min(xs)
    return m


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt one result on purpose (self-test of the checks)")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"engine sources not found under {ROOT}; run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    classpath, digest = build()

    shutil.rmtree(RUN, ignore_errors=True)
    os.makedirs(os.path.join(RUN, "tmp"))
    data = os.path.join(RUN, "data")
    if a.workload != "cdc_stream":
        sys.path.insert(0, HERE)
        import datagen
        datagen.write(data, a.seed)

    cpus = len(os.sched_getaffinity(0))
    cmd = ([JAVA] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + HEAP + ["-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", f"-Dperfbench.cpus={cpus}",
              f"-Djava.io.tmpdir={RUN}/tmp", f"-Dderby.system.home={RUN}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", ":".join(classpath), "perfbench.Main", a.workload, str(a.seed),
              str(a.seconds), str(a.trace), data, RUN, "1" if a.inject_wrong else "0"])
    log = os.path.join(RUN, "jvm.log")
    total0, steal0 = cpu_times()
    # set-up and checks take ~40 s and the timed phase at most ~1.5x --seconds
    rc = run_bounded(cmd, log, 120 + 2 * a.seconds, cwd=RUN)
    total1, steal1 = cpu_times()
    steal = (steal1 - steal0) / max(total1 - total0, 1)
    if rc != 0 or not os.path.exists(os.path.join(RUN, "raw.json")):
        fail(f"JVM exited with {rc}, see {log}", 4)
    with open(os.path.join(RUN, "raw.json")) as fh:
        raw = json.load(fh)

    failed, attempted = raw["failed"], raw["attempted"]
    if a.workload != "cdc_stream":
        bad = oracle_mismatches(data, os.path.join(RUN, "results"))
        for q, why in bad.items():
            print(f"WRONG {q}: {why}")
        failed += len(bad)
    error_rate = failed / attempted

    e2e_units, layer_units = declared()
    e2e, e2e_notes = end_to_end(raw)
    e2e = {k: (e2e[k], u) for k, u in e2e_units.items()}
    if a.trace:
        layers = per_layer(raw, load_spans(os.path.join(RUN, "spans.jsonl")), cpus, layer_units)
        layers["error_rate"] = error_rate
        metrics = {k: (layers[k], u) for k, u in layer_units.items()}
    else:
        metrics = e2e

    facts = dict(raw["facts"], workload=a.workload, seconds=a.seconds, trace=a.trace,
                 source_sha1=digest, commit=git_commit(), cpu_steal_share=round(steal, 4),
                 **e2e_notes)
    if "generator" in raw:
        facts["generator"] = raw["generator"]
    if steal > STEAL_WARN:
        print(f"perfbench: CPU steal was {steal:.0%} of host CPU time during this run; "
              "other tenants moved its timings", file=sys.stderr)
    record = os.path.join(WORK, f"last-{a.workload}-trace{a.trace}.json")
    with open(record, "w") as fh:
        json.dump({"facts": facts, "end_to_end": e2e, "metrics": metrics,
                   "attempted": attempted, "failed": failed}, fh, indent=1)

    print(f"# {a.workload} seed={a.seed} trace={a.trace} " +
          " ".join(f"{k}={v}" for k, v in sorted(facts.items()) if k != "workload"))
    for k, (v, u) in {**e2e, **derived(raw, error_rate)}.items():
        print(f"{k:28s} {v:>14.6g} {u}")
    if a.trace:
        other = os.path.join(WORK, f"last-{a.workload}-trace0.json")
        if os.path.exists(other):
            with open(other) as fh:
                base = json.load(fh)["end_to_end"]
            for k in ("pass_s", "latency_p50_ms"):
                print(f"tracing overhead {k:15s} {e2e[k][0] - base[k][0]:>+14.6g} "
                      f"{e2e[k][1]} (traced - last untraced)")
        for k, (v, u) in metrics.items():
            print(f"{k:28s} {v:>14.6g} {u}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def derived(raw, error_rate):
    """The metrics NOTES.md names beyond BENCHMARK.json's end-to-end list:
    backfill_eps (cdc_stream) and error_rate."""
    extra = {}
    if raw["workload"] == "cdc_stream":
        b = raw["backfill"]
        extra["backfill_eps"] = (b["events"] / b["wall_s"], "events/s")
    return dict(extra, error_rate=(error_rate, "ratio"))


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


if __name__ == "__main__":
    main()

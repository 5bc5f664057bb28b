#!/usr/bin/env python3
"""The repo benchmark: three seeded workloads against the graft engine.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It compiles the engine (`src/main/scala`)
together with the benchmark's Scala sources (`perfbench/src`) with the
Scala compiler shipped in Spark's jars, generates the seeded input tables,
runs the workload in one JVM at local[4], checks every output, and prints
one JSON line: the end-to-end metrics (`--trace 0`) or the per-layer
metrics (`--trace 1`). See perfbench/README.md for the workloads, the
metric definitions and the layer -> metric map.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import datagen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("query_mix", "bus_stream", "store_ingest")
SF = 0.1
# query_mix: sample size; queries slower than MAX_QUERY_MS (surveyed warm
# wall at local[4]) or whose DuckDB oracle takes over MAX_ORACLE_S are left
# out to bound a run's length; the expected length of one timed pass
STRATA = 10
MAX_QUERY_MS = 600
MAX_ORACLE_S = 1.5
PASS_S = 4
# The sample is drawn once, with this seed, not per run: the sample's
# slowest query sets op_p90_ms, and with a draw per run seed that spread
# 0.33 over ten seeds. --seed varies the tables the sample runs on.
SAMPLE_SEED = 0
# Queries whose output disagrees with their oracle on some seeds' tables:
# the engine is wrong there, so they cannot be in a sample that must run
# without failures. Each is a known defect of the engine, listed with
# its cause in perfbench/README.md ("Known defects").
KNOWN_WRONG = {
    "q233_neyman_allocation": "Sampling.neymanAllocation divides with `/` (double): "
                              "budget * w passes 2^53 and the base allocation truncates",
    "q245_shipping_priority": "round(sum(double), 2) of a revenue that is exactly "
                              "a half cent: the double sum lands just below it",
}

# Every SPARK_GRAFT_* knob the engine reads is dropped from the JVM's
# environment and the ones the workloads depend on are pinned to their
# defaults, so an exported variable cannot change what is measured.
PINNED_ENV = {
    "SPARK_GRAFT_STREAM_STATE_PARTITIONS": "8",
    "SPARK_GRAFT_CC_DRIVER_MAX_EDGES": "100000",
}

# The JVM options of the repo's build (module opens Spark needs on JDK 17,
# UTC, a code cache large enough for a session's codegen), plus earlier JIT
# compilation: a run is too short to reach steady state with the default
# thresholds, and a region that was still warming read 10-30 % slower
# than the one after it.
JVM_OPTS = [
    "-Xmx3g", "-Xss8m", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
    "-XX:CompileThresholdScaling=0.2",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{os.path.basename(cmd[0])} timed out after {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Compiles engine + benchmark sources once per source digest."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        fail("engine sources (src/main/scala) not found; run from a checkout root")
    sources = engine + sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for s in sources:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "digest")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    jars = spark_jars()
    rc = run_child(["java", "-Xmx3g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
                    "-nowarn", "-d", tmp, "-cp", jars] + sources, timeout=800,
                   stdout=sys.stderr)
    if rc != 0:
        fail("compilation failed")
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def tables(seed):
    """Generated sf0.1 tables for `seed`, cached under .work/data."""
    out = os.path.join(WORK, "data", f"sf{SF}-seed{seed}")
    if not os.path.exists(os.path.join(out, "_done")):
        shutil.rmtree(out, ignore_errors=True)
        datagen.generate(out + ".tmp", seed, SF)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(out + ".tmp", out)
        open(os.path.join(out, "_done"), "w").close()
    return out


def jvm(classes, run_dir, workload, seed, trace, data_dir, out_file, opts, timeout):
    """Runs perfbench.Main in a fresh JVM; returns its parsed result."""
    tmp = os.path.join(run_dir, "tmp")
    stores = os.path.join(run_dir, "stores")
    for d in (tmp, stores):
        os.makedirs(d, exist_ok=True)
    count_root = opts.pop("count_root", stores)
    conf = ";".join([
        "spark.hadoop.fs.file.impl=perfbench.CountingFs",
        f"spark.hadoop.perfbench.count.root={count_root}",
        f"spark.local.dir={os.path.join(run_dir, 'spark-local')}",
    ])
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(PINNED_ENV, SPARK_GRAFT_CONF=conf)
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dgraft.warehouse.dir=file:{os.path.join(run_dir, 'warehouse')}",
        "-cp", f"{classes}:{spark_jars()}", "perfbench.Main",
        workload, str(seed), str(trace), data_dir, stores, out_file,
    ] + [f"{k}={v}" for k, v in opts.items()]
    rc = run_child(cmd, timeout=timeout, env=env, cwd=run_dir,
                   stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0 or not os.path.exists(out_file):
        fail(f"{workload} JVM exited with code {rc}")
    with open(out_file) as f:
        return json.load(f)


def survey(out_path):
    """Times every registry query and its DuckDB oracle on seed-0 tables
    (the input of the query_mix strata)."""
    classes = build()
    data = tables(0)
    run_dir = os.path.join(WORK, "survey")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    raw = os.path.join(run_dir, "survey.json")
    rows = jvm(classes, run_dir, "survey", 0, 0, data, raw,
               {"tmproot": os.path.join(run_dir, "tmp"),
                "count_root": os.path.join(run_dir, "tmp")}, timeout=3600)
    with open(raw + ".oracles.json") as f:
        oracles = json.load(f)
    con = duckdb_views(data)
    for name, sql in sorted(oracles.items()):
        # an oracle still running after the cap is recorded as null
        # (ineligible); some take minutes
        cap = threading.Timer(5.0, con.interrupt)
        cap.start()
        t0 = time.time()
        try:
            con.sql(sql).df()
            rows[name]["oracle_s"] = time.time() - t0
        except Exception:
            rows[name]["oracle_s"] = None
        cap.cancel()
    with open(out_path, "w") as f:
        json.dump(rows, f, indent=0, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)


def duckdb_views(data_dir):
    """A DuckDB connection with one view per generated table."""
    import duckdb
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def percentile(xs, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def draw_sample(seed):
    """Cost-stratified query sample: the eligible registry queries, sorted
    by their surveyed warm wall, are cut into STRATA equal strata and the
    seed draws one query from each; every family is eligible. Queries that start a streaming query or write a store are
    left to the other two workloads; KNOWN_WRONG queries are left out."""
    with open(os.path.join(BENCH, "query_survey.json")) as f:
        survey = json.load(f)
    eligible = sorted((q["warm_ms"], name) for name, q in survey.items()
                      if name not in KNOWN_WRONG
                      and not (q["streams"] or q["store_writes"])
                      and q["warm_ms"] <= MAX_QUERY_MS
                      and (not q["oracle"] or q["oracle_s"] is not None and q["oracle_s"] <= MAX_ORACLE_S))
    rng = random.Random(seed)
    n = len(eligible)
    return [rng.choice(eligible[i * n // STRATA:(i + 1) * n // STRATA])[1] for i in range(STRATA)]


def plan(workload, seed, seconds, run_dir):
    """Workload options; the amount of work is fixed by the run length."""
    if workload == "query_mix":
        os.makedirs(os.path.join(run_dir, "check"))
        return {"sample": ",".join(draw_sample(SAMPLE_SEED)),
                "passes": max(2, round(seconds / PASS_S)),
                "checkdir": os.path.join(run_dir, "check")}
    if workload == "bus_stream":
        # 500 msg/s for `seconds`, then three backlogs of 12 s of that traffic
        return {"msgs": 50, "tick_ms": 100, "ticks": 10 * seconds,
                "drains": 3, "drain_rows": 6000 * seconds, "malformed": 0.02}
    return {"batch_docs": 200, "batches": max(6, round(seconds * 0.6)),
            "compact_every": 3, "max_files": 2, "buckets": 16,
            "replay_every": 5, "exact_share": 0.1, "near_share": 0.1}


def oracle_failures(check_dir, data_dir, names):
    """Compares each query's warm-pass output with its DuckDB oracle,
    using the canonical compare of scripts/selfcheck.py; rows-only
    queries must return rows. Returns {query: reason}."""
    con = duckdb_views(data_dir)
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    def canon(df):
        df = df[sorted(df.columns)]
        return sorted(tuple(str(v) for v in r) for r in df.itertuples(index=False))

    bad = {}
    for name in names:
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not files:
            bad[name] = "no output"
            continue
        got = con.sql(f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')").df()
        if name not in oracles:
            if len(got) == 0:
                bad[name] = "rows-only query returned no rows"
            continue
        want = con.sql(oracles[name]).df()
        if sorted(got.columns) != sorted(want.columns):
            bad[name] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        elif canon(got) != canon(want):
            bad[name] = f"rows differ from oracle (spark {len(got)}, duckdb {len(want)})"
    return bad


def end_to_end(workload, res, region):
    """The end-to-end metrics of one timed region."""
    x = region["extra"]
    ms = [o["ms"] for o in region["ops"] if o["ok"]]
    if workload == "query_mix":
        items = len(region["ops"]) / sum(x["pass_s"])
    elif workload == "bus_stream":
        items = x["drain_rows"] / statistics.median(x["drain_s"])
    else:
        items = x["docs"] / ((sum(o["ms"] for o in region["ops"]) + x["scan_ms"]) / 1000.0)
    return {
        "setup_s": (res["first_op_ms"] - res["jvm_start_ms"]) / 1000.0,
        "op_p50_ms": percentile(ms, 50),
        "op_p90_ms": percentile(ms, 90),
        "items_per_s": items,
    }


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def attribute(spans):
    """Links parentless spans to their caller and returns the spans that
    belong to an op, with `kids` lists. Jobs and sink calls of a stream
    batch join the batch by request id; Catalyst phase spans join the
    innermost span whose interval contains theirs."""
    by_id = {s["id"]: s for s in spans}
    batches = {s["req"]: s for s in spans if s["name"] == "streaming.batch"}
    containers = [s for s in spans if s["name"] != "scheduler.job"
                  and not s["name"].startswith("plans.")]
    for s in spans:
        s["kids"] = []
        if s["parent"] >= 0 or s["name"].startswith("op.") or s["name"] == "streaming.batch":
            continue
        if s["req"] in batches:
            s["parent"] = batches[s["req"]]["id"]
        elif s["name"].startswith("plans.") or s["name"] == "scheduler.job":
            inside = [c for c in containers
                      if c["start"] - 1 <= s["start"] and s["end"] <= c["end"] + 1]
            if inside:
                s["parent"] = min(inside, key=lambda c: c["end"] - c["start"])["id"]
    for s in spans:
        if s["parent"] in by_id:
            by_id[s["parent"]]["kids"].append(s)

    def root(s):
        while s["parent"] in by_id:
            s = by_id[s["parent"]]
        return s
    out = []
    for s in spans:
        r = root(s)
        if r["name"].startswith("op.") or r["name"] == "streaming.batch":
            out.append(s)
    return out


def subtree(s):
    yield s
    for k in s["kids"]:
        yield from subtree(k)


def dur(s):
    return s["end"] - s["start"]


def covered_ms(s, spans):
    """How much of span `s` the given spans cover."""
    return union_ms([(max(k["start"], s["start"]), min(k["end"], s["end"]))
                     for k in spans if k["start"] < s["end"] and k["end"] > s["start"]])


def self_ms(s):
    return dur(s) - covered_ms(s, s["kids"])


def per_layer(workload, res, spans):
    """Per-layer metrics of the traced region (regions[1]), per op."""
    untraced, traced = res["regions"]
    x = traced["extra"]
    facts = res["facts"]
    own = attribute(spans)
    named = lambda n: [s for s in own if s["name"] == n]
    op_name = {"query_mix": "op.query", "bus_stream": "streaming.batch",
               "store_ingest": "op.batch"}[workload]
    n = max(1, len(named(op_name)))
    jobs = named("scheduler.job")
    ja = lambda k: sum(j["attrs"].get(k, 0.0) for j in jobs)
    job_wall = union_ms([(j["start"], j["end"]) for j in jobs])
    gap_of = {"query_mix": "exec.write"}.get(workload, op_name)
    gap = sum(dur(c) - covered_ms(c, [j for j in subtree(c) if j["name"] == "scheduler.job"])
              for c in named(gap_of))
    by_id = {s["id"]: s for s in own}

    def under(prefix):
        """Jobs with an enclosing span whose name starts with `prefix`."""
        def inside(s):
            while s["parent"] in by_id:
                s = by_id[s["parent"]]
                if s["name"].startswith(prefix):
                    return True
            return False
        return [j for j in jobs if inside(j)]
    layer_self = {}
    for s in own:
        layer = s["name"].split(".")[0]
        layer_self[layer] = layer_self.get(layer, 0.0) + self_ms(s)
    nested = {"store.exact": "store.near", "store.near": "store.sink"}
    store_self = {k: sum(dur(s) - sum(dur(c) for c in s["kids"] if c["name"] == nested.get(k))
                         for s in named(k)) / n
                  for k in ("store.exact", "store.near", "store.sink")}
    m = {
        "session.start_ms": res["session_ready_ms"] - res["jvm_start_ms"],
        "session.warm_ms": res["first_op_ms"] - res["session_ready_ms"],
        "session.heap_peak_mb": res["heap_peak_mb"],
        "queries.build_ms": sum(dur(s) for s in named("queries.build")) / n,
        "queries.build_jobs": len(under("queries.build")) / n,
        "queries.self_ms": layer_self.get("queries", 0.0) / n,
        "plans.analyze_ms": sum(dur(s) for s in named("plans.analyze")) / n,
        "plans.optimize_ms": sum(dur(s) for s in named("plans.optimize")) / n,
        "plans.physical_ms": sum(dur(s) for s in named("plans.physical")) / n,
        "plans.plan_bytes": sum(s["attrs"].get("plan_bytes", 0.0) for s in named("plans.plan")) / n,
        "plans.self_ms": layer_self.get("plans", 0.0) / n,
        "scheduler.jobs": len(jobs) / n,
        "scheduler.stages": ja("stages") / n,
        "scheduler.tasks": ja("tasks") / n,
        "scheduler.job_wall_ms": job_wall / n,
        "scheduler.gap_ms": gap / n,
        "operators.task_run_ms": ja("run_ms") / n,
        "operators.task_cpu_ms": ja("cpu_ms") / n,
        "operators.gc_ms": ja("gc_ms") / n,
        "operators.input_rows": ja("input_rows") / n,
        "operators.busy_share": ja("run_ms") / (job_wall * 4) if job_wall else 0.0,
        "shuffle.write_bytes": ja("shuffle_write_bytes") / n,
        "shuffle.read_bytes": ja("shuffle_read_bytes") / n,
        "shuffle.fetch_wait_ms": ja("fetch_wait_ms") / n,
        "shuffle.spill_bytes": ja("spill_bytes") / n,
    }
    bus = workload == "bus_stream"
    delivered = facts.get("delivered", 0) + facts.get("dead_letters", 0)
    m.update({
        "sources.rows_offered": facts.get("messages", 0),
        "sources.rows_malformed": facts.get("malformed_planted", 0),
        "sources.rows_delivered": delivered,
        "sources.delivery_ratio": (delivered / (facts["expected_delivered"] + facts["malformed_planted"])
                                   if bus else 0.0),
    })
    sb = x.get("batches", [])
    p50 = lambda k: percentile([b["durations"].get(k, 0.0) for b in sb], 50)
    m.update({
        "streaming.batches": len(sb),
        "streaming.rows_per_batch_p50": percentile([b["rows"] for b in sb], 50),
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
        "streaming.sink_ms_p50": percentile([dur(s) for s in named("store.sink")], 50) if bus else 0.0,
        "streaming.backlog_rows_max": x.get("backlog_rows_max", 0),
        "streaming.generator_late_ms_max": max(x.get("generator_late_ms", [0.0])),
        "streaming.self_ms": layer_self.get("streaming", 0.0) / n,
    })
    fs = x.get("fs_ops", {})
    if isinstance(fs, list):
        fs = {k: sum(f[k] for f in fs) for k in (fs[0] if fs else {})}
    comp = x.get("compactions", [])
    verified = facts.get("verify", {}).get("traced", {})
    m.update({
        "store.exact_ms": store_self["store.exact"],
        "store.near_ms": store_self["store.near"],
        "store.sink_ms": store_self["store.sink"],
        "store.jobs_per_batch": len(under("store.")) / n,
        "store.compact_ms": (sum(dur(s) for s in named("store.compact")) / len(named("store.compact"))
                             if named("store.compact") else 0.0),
        "store.compactions": sum(c["compacted"] for c in comp),
        "store.self_ms": layer_self.get("store", 0.0) / n,
    })
    for k in ("creates", "renames", "deletes", "mkdirs", "lists", "opens", "bytes_written"):
        m[f"store.{k}"] = fs.get(k, 0) / n
    m.update({
        "store.write_amp": fs.get("bytes_written", 0) / x["user_bytes"] if "user_bytes" in x else 0.0,
        "store.files_live": x.get("live", {}).get("files", 0),
        "store.bytes_live": x.get("live", {}).get("bytes", 0),
        "store.scan_ms": x.get("scan_ms", 0.0),
        "store.exact_recall": verified.get("exact_recall", 0.0),
        "store.near_recall": verified.get("near_recall", 0.0),
        "store.replay_rows_out": verified.get("replay_rows_out", 0),
    })
    u, t = end_to_end(workload, res, untraced), end_to_end(workload, res, traced)
    m.update({f"trace.{k}_delta": t[k] - u[k] for k in ("op_p50_ms", "op_p90_ms", "items_per_s")})
    m["trace.overhead_share"] = (t["op_p50_ms"] - u["op_p50_ms"]) / u["op_p50_ms"]
    return m


def declared():
    """(end_to_end, per_layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--survey", help="time every registry query into this JSON file")
    a = ap.parse_args()
    if a.survey:
        survey(a.survey)
        return
    if not a.workload:
        fail("--workload is required")
    e2e_units, layer_units = declared()
    classes = build()
    data = tables(a.seed)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        opts = plan(a.workload, a.seed, a.seconds, run_dir)
        out_file = os.path.join(run_dir, "result.json")
        t0 = time.time()
        res = jvm(classes, run_dir, a.workload, a.seed, a.trace, data, out_file,
                  dict(opts), timeout=170)
        t1 = time.time()
        failures = list(res["failures"])
        ops = [o for r in res["regions"] for o in r["ops"]]
        if a.workload == "query_mix":
            bad = oracle_failures(opts["checkdir"], data, opts["sample"].split(","))
            failures += [f"{q}: {why}" for q, why in sorted(bad.items())]
            bad_names = set(bad) | {f.split(" ")[0] for f in res["failures"]}
            attempted = len(ops)
            failed = sum(1 for o in ops if not o["ok"] or o["req"].split("#")[0] in bad_names)
        elif a.workload == "bus_stream":
            attempted = res["facts"]["messages"]
            failed = res["facts"]["failed_messages"]
        else:
            attempted = len(ops)
            failed = sum(1 for o in ops if not o["ok"]) + len(failures)
        print(f"perfbench: jvm {t1 - t0:.1f} s, checks {time.time() - t1:.1f} s", file=sys.stderr)
        if a.trace:
            with open(out_file + ".spans.jsonl") as f:
                spans = [json.loads(line) for line in f]
            values, units = per_layer(a.workload, res, spans), layer_units
        else:
            values, units = end_to_end(a.workload, res, res["regions"][0]), e2e_units
        missing = set(units) - set(values)
        if missing:
            fail(f"metrics not computed: {sorted(missing)}")
        for msg in failures:
            print(f"perfbench: check failed: {msg}", file=sys.stderr)
        print(json.dumps({
            "correct": failed == 0 and not failures,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

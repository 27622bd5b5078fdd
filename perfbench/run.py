#!/usr/bin/env python3
"""The lake's benchmark: two workloads, one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the benchmark's runner from source (sbt, offline) into `.bench_build/`;
later runs reuse that build while the sources are unchanged.

Workloads (each makes its inputs from --seed; the program only sees the
generated files):
  queries_cold  one closed-loop SQL client, artifact-cold: a fixed panel of
                `SparkEntry.queries` in a seeded order (every row of every
                result collected inside the timed region, then hash-checked
                against the DuckDB oracle `SparkEntry.oracleSql`), then a
                seeded lake script -- INSERT / MERGE / DELETE with point,
                range, aggregate and VERSION AS OF reads on one GraftCatalog
                table -- checked against a DuckDB model of the same script.
  ingest_loop   open-loop HTTP POSTs, over nproc keep-alive connections,
                through the reference's own loop (edge, relay, gated
                socket ingest, bronze, StreamIngest, per-source push
                subscribers) on a ladder of fixed rates whose top step
                the edge cannot keep up with, then `Replay.replay` of
                one source.

--trace 0 measures untraced and prints every end-to-end metric.
--trace 1 runs the workload untraced and then traced (Spark listener
data, streaming progress, storage-request counts under the lake root)
and prints every per-layer metric, including the tracing overhead.
Each metric of a layer the workload calls must be reported and finite,
or the run fails; the metrics of layers it never calls read 0 and are
named on the `info not_exercised` line.

The last line of stdout is one JSON object: correct, attempted, failed,
metrics. The exit code is 0 only when every output checked correct.
`spec()` is the BENCHMARK.json this file defines; to rewrite the file
from the root of a checkout:
    python3 -c 'import sys, json; sys.path.insert(0, "perfbench"); import run;
    print(json.dumps(run.spec(), indent=2))' > BENCHMARK.json
"""
import argparse
import hashlib
import importlib.util
import json
import math
import os
import random
import re
import shutil
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

RUN_SECONDS = 9
# every JVM of one invocation must end this long after the build
RUN_DEADLINE_S = 170
# input scale: the ingest ladder needs more distinct events than the
# queries' tables hold at the smaller scale
SF = {"queries_cold": 0.001, "ingest_loop": 0.01}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORKLOADS = [
    ("queries_cold", "Closed-loop SQL client, artifact-cold: a query panel (graft.ops, functions, "
     "artifact builds) in seeded order, then lake INSERT/MERGE/DELETE and reads on one table"),
    ("ingest_loop", "Open-loop POST /{source} ladder up past the edge's capacity, through relay, "
     "bronze, catalog commits and push subscribers, then replay: graft.streaming, no graft.ops"),
]

# (name, unit, better, bound, meaning) -- reported by every workload
END_TO_END = [
    ("setup_s", "s", "lower", 0.25,
     "session start + untimed warm-up + median of the fixture set-ups"),
    ("wall_s", "s", "lower", 0.25,
     "time of the measured operations (queries_cold: sum of query and statement times; "
     "ingest_loop: first due POST to last delivery)"),
    ("ops_per_s", "1/s", "higher", 0.25,
     "operations completed per second of wall_s (queries and statements, delivered records)"),
    ("op_p50_s", "s", "lower", 0.25,
     "median per query or statement; per record below the ladder's top step: freshness "
     "from due time to subscriber"),
    ("op_tail_s", "s", "lower", 0.25,
     "highest ladder percentile with >=10 samples beyond it (percentile and n printed)"),
    ("peak_rss_mb", "MB", "lower", 0.1, "JVM VmHWM at a fixed heap"),
    ("stored_mb", "MB", "lower", 0.25,
     "bytes under the run's lake roots (queries_cold: plus its artifact root) at the end"),
]

# (name, unit, better, moves, workload) -- traced run only
PER_LAYER = [
    ("sustained_rps", "1/s", "higher", "end-to-end figure", "ingest_loop"),
    ("ack_p50_ms", "ms", "lower", "end-to-end figure", "ingest_loop"),
    ("ack_tail_ms", "ms", "lower", "end-to-end figure", "ingest_loop"),
    ("replay_s", "s", "lower", "end-to-end figure", "ingest_loop"),
    ("read_p50_s", "s", "lower", "end-to-end figure", "queries_cold"),
    ("read_tail_s", "s", "lower", "end-to-end figure", "queries_cold"),
    ("q.plan_s", "s", "lower", "op_p50_s", "queries_cold"),
    ("q.jobs_per_query_p50", "count", "lower", "op_p50_s", "queries_cold"),
    ("q.tasks", "count", "lower", "op_p50_s", "queries_cold"),
    ("q.sched_delay_s", "s", "lower", "op_p50_s", "queries_cold"),
    ("q.task_run_s", "s", "lower", "op_p50_s", "queries_cold"),
    ("q.shuffle_write_mb", "MB", "lower", "wall_s,peak_rss_mb", "queries_cold"),
    ("q.shuffle_read_mb", "MB", "lower", "wall_s,peak_rss_mb", "queries_cold"),
    ("q.spill_mb", "MB", "lower", "wall_s,peak_rss_mb", "queries_cold"),
    ("q.gc_s", "s", "lower", "wall_s,peak_rss_mb", "queries_cold"),
    ("q.result_mb", "MB", "lower", "check only", "queries_cold"),
    ("artifacts.built", "count", "lower", "wall_s", "queries_cold"),
    ("artifacts.mb", "MB", "lower", "wall_s", "queries_cold"),
    ("artifacts.build_query_s", "s", "lower", "wall_s", "queries_cold"),
    ("truncate.release_s", "s", "lower", "peak_rss_mb", "queries_cold"),
    ("edge.requests", "count", "higher", "fail_frac", "ingest_loop"),
    ("edge.non2xx", "count", "lower", "fail_frac", "ingest_loop"),
    ("relay.pending_max", "count", "lower", "op_tail_s,sustained_rps", "ingest_loop"),
    ("relay.pending_mean", "count", "lower", "op_tail_s,sustained_rps", "ingest_loop"),
    ("socket.batches", "count", "lower", "op_p50_s", "ingest_loop"),
    ("socket.add_batch_ms_p50", "ms", "lower", "op_p50_s", "ingest_loop"),
    ("socket.rows_per_batch", "count", "higher", "op_p50_s", "ingest_loop"),
    ("bronze.objects", "count", "lower", "op_p50_s", "ingest_loop"),
    ("bronze.mb", "MB", "lower", "op_p50_s", "ingest_loop"),
    ("ingest.batches", "count", "lower", "op_p50_s,op_tail_s,sustained_rps", "ingest_loop"),
    ("ingest.discovery_ms_p50", "ms", "lower", "op_p50_s,op_tail_s,sustained_rps", "ingest_loop"),
    ("ingest.add_batch_ms_p50", "ms", "lower", "op_p50_s,op_tail_s,sustained_rps", "ingest_loop"),
    ("ingest.add_batch_ms_p99", "ms", "lower", "op_p50_s,op_tail_s,sustained_rps", "ingest_loop"),
    ("ingest.empty_batch_frac", "ratio", "lower", "op_p50_s,op_tail_s,sustained_rps", "ingest_loop"),
    ("sub.discovery_ms_p50", "ms", "lower", "op_p50_s", "ingest_loop"),
    ("sub.add_batch_ms_p50", "ms", "lower", "op_p50_s", "ingest_loop"),
    ("gen.late_ms_p99", "ms", "lower", "check only (run invalid if late)", "ingest_loop"),
    ("replay.range_query_s", "s", "lower", "replay_s", "ingest_loop"),
    ("replay.keys", "count", "lower", "replay_s", "ingest_loop"),
    ("replay.records", "count", "lower", "replay_s", "ingest_loop"),
    ("fs.ingest.requests_per_batch", "count", "lower", "op_p50_s", "ingest_loop"),
    ("dml.insert_s_p50", "s", "lower", "op_p50_s", "queries_cold"),
    ("dml.merge_s_p50", "s", "lower", "op_p50_s", "queries_cold"),
    ("dml.delete_s_p50", "s", "lower", "op_p50_s", "queries_cold"),
    ("dml.plan_ms_p50", "ms", "lower", "op_p50_s", "queries_cold"),
    ("dml.jobs_per_commit", "count", "lower", "op_p50_s", "queries_cold"),
    ("dml.fold_commit_s", "s", "lower", "op_tail_s", "queries_cold"),
    ("dml.plain_commit_s", "s", "lower", "op_tail_s", "queries_cold"),
] + [(f"fs.commit.{k}", "count", "lower", "op_p50_s", "queries_cold")
     for k in ["list", "stat", "open", "create", "rename", "delete", "log_requests"]] + [
    ("fs.commit.mb_written", "MB", "lower", "op_p50_s", "queries_cold"),
    ("read.point_s_p50", "s", "lower", "read_p50_s", "queries_cold"),
    ("read.range_s_p50", "s", "lower", "read_p50_s", "queries_cold"),
    ("read.agg_s_p50", "s", "lower", "read_p50_s", "queries_cold"),
    ("read.asof_s_p50", "s", "lower", "read_p50_s", "queries_cold"),
    ("read.prune_frac", "ratio", "lower", "read_p50_s", "queries_cold"),
    ("log.commits_end", "count", "lower", "stored_mb", "queries_cold"),
    ("log.checkpoints", "count", "higher", "stored_mb", "queries_cold"),
    ("log.tail_max", "count", "lower", "stored_mb", "queries_cold"),
    ("lake.files_live", "count", "lower", "stored_mb", "queries_cold"),
    ("lake.dv_files", "count", "lower", "stored_mb", "queries_cold"),
    ("lake.write_amp", "ratio", "lower", "stored_mb", "queries_cold"),
    ("setup.session_s", "s", "lower", "setup_s", "all"),
    ("setup.warmup_s", "s", "lower", "setup_s", "all"),
    ("setup.fixture_s", "s", "lower", "setup_s", "all"),
    ("trace.overhead_frac", "ratio", "lower", "tracing cost (traced/untraced wall_s - 1)", "all"),
]

# one query per module the registry calls; `q.mod.<Module>_s` is traced
PANEL = [
    "q_pricing_summary", "q_join_brand_revenue", "q_agg_rollup", "q_sessionize",
    "q_json_props", "q_tfidf", "q_minhash_signatures", "q_ivf_topk", "q_funnel",
    "q_sql_lake_agg",
]
MODULES = ["Relational", "Joins", "Aggregates", "Windows", "EventOps", "Text", "Dedup",
           "Similarity", "Behavior", "SqlLake"]
PER_LAYER += [(f"q.mod.{m}_s", "s", "lower", "wall_s", "queries_cold") for m in MODULES]

# ingest ladder: fixed trigger intervals (StreamIngest's 60 s default
# would hide every layer behind the buffer) and fixed request rates,
# sent over nproc keep-alive connections. The top rate is above what
# the edge answers: on a 4-core x86 host each connection gets about 21
# answers a second (about 85/s in all), so `sustained_rps` is set by
# the program, not by the ladder.
TRIGGER_MS = {"socket": 250, "ingest": 250, "sub": 250}
RATES = [25.0, 75.0, 150.0]
TAIL_LIMIT_S = 15.0
SPLIT_SHARE = 0.1   # bodies carrying `}{` inside a string

# lake table: checkpoint fold cadence and skipping columns; the script
# is one cycle of its statement kinds
LAKE_KINDS = ["insert", "point", "merge", "delete", "range", "insert", "agg", "delete", "asof"]
TABLE_PROPS = "'checkpoint.every'='3', 'stats.cols'='event_id', 'bloom.cols'='user_id'"


def spec():
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd, _ in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _, _ in PER_LAYER],
    }


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _fingerprint():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "src", "dev"),
              os.path.join(HERE, "src")]:
        for base, _, files in sorted(os.walk(d)):
            paths += [os.path.join(base, f) for f in sorted(files)]
    for p in paths:
        if os.path.isfile(p):
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile program + runner once per source state; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        fail("no program to measure: run from the root of a checkout of the lake")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, f"classpath-{_fingerprint()}.txt")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"], cwd=HERE, env=env,
                               stdout=out, stderr=subprocess.STDOUT, timeout=850)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    with open(log) as f:
        lines = [l.strip() for l in f if "perfbench" in l and ".jar" in l
                 and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


# ---------------------------------------------------------------- inputs

def modules_of(names):
    src = open(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")).read()
    reg = dict(re.findall(r'"(q_\w+)"\s*->\s*\(\(s,\s*d\)\s*=>\s*[\w.]*?(\w+)\.\w+\(', src))
    return {n: reg[n] for n in names}


def ingest_posts(data, rng, n, path):
    con = duckdb.connect()
    rows = con.execute(f"SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') AS ts, user_id, "
                       f"event_type, value, props FROM '{data}/events.parquet'").fetchall()
    picks = rng.sample(range(len(rows)), n)
    with open(path, "w") as f:
        for i, k in enumerate(picks):
            eid, ts, uid, et, val, props = rows[k]
            body = {"event_id": eid, "ts": ts, "user_id": uid, "event_type": et,
                    "value": val, "props": props}
            if i % round(1 / SPLIT_SHARE) == 0:
                body["note"] = f"x}}{{y{i}"
            f.write(json.dumps({"id": eid, "source": et,
                                "body": json.dumps(body, separators=(",", ":"))}) + "\n")


LAKE_COLS = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, cents BIGINT, source STRING"


def lake_script(data, rng, path):
    """A seeded statement sequence; each entry has the Spark SQL the
    runner executes (`{T}` = table, `{V}` = an earlier version) and the
    DuckDB SQL the model applies."""
    con = duckdb.connect()
    base = con.execute(f"SELECT event_id, user_id, event_type FROM '{data}/events.parquet'").fetchall()
    live = {eid: (uid, et) for eid, uid, et in base}
    next_id = max(live) + 1
    ts = "TIMESTAMP '2024-02-01 00:00:00'"
    out = []

    def values(rows, suffix):
        return ", ".join(f"({e}{suffix}, {ts}, {u}{suffix}, {c}{suffix}, '{s}')"
                         for e, u, s, c in rows)

    for kind in LAKE_KINDS:
        spark = duck = None
        user_bytes = 0
        if kind == "insert":
            rows = []
            for _ in range(rng.randint(3, 8)):
                src = rng.choice(gen.EVENT_TYPES)
                rows.append((next_id, rng.randrange(1000), src, rng.randrange(1, 100000)))
                live[next_id] = (rows[-1][1], src)
                next_id += 1
            vals, dvals = values(rows, "L"), values(rows, "")
            spark = f"INSERT INTO {{T}} VALUES {vals}"
            duck = f"INSERT INTO t VALUES {dvals}"
            user_bytes = sum(32 + len(s) for _, _, s, _ in rows)
        elif kind == "merge":
            upd = rng.sample(sorted(live), 3)
            rows = [(e, live[e][0], live[e][1], rng.randrange(1, 100000)) for e in upd]
            for _ in range(2):
                src = rng.choice(gen.EVENT_TYPES)
                rows.append((next_id, rng.randrange(1000), src, rng.randrange(1, 100000)))
                live[next_id] = (rows[-1][1], src)
                next_id += 1
            vals, dvals = values(rows, "L"), values(rows, "")
            spark = (f"MERGE INTO {{T}} t USING (SELECT * FROM VALUES {vals} "
                     f"AS v(event_id, ts, user_id, cents, source)) s ON t.event_id = s.event_id "
                     f"WHEN MATCHED THEN UPDATE SET cents = s.cents "
                     f"WHEN NOT MATCHED THEN INSERT (event_id, ts, user_id, cents, source) "
                     f"VALUES (s.event_id, s.ts, s.user_id, s.cents, s.source)")
            duck = (f"CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM (VALUES {dvals}) "
                    f"v(event_id, ts, user_id, cents, source); "
                    f"UPDATE t SET cents = s.cents FROM s WHERE t.event_id = s.event_id; "
                    f"INSERT INTO t SELECT * FROM s WHERE event_id NOT IN (SELECT event_id FROM t)")
            user_bytes = sum(32 + len(s) for _, _, s, _ in rows)
        elif kind == "delete":
            gone = rng.sample(sorted(live), 3)
            for e in gone:
                del live[e]
            ids = ", ".join(str(e) for e in gone)
            spark = f"DELETE FROM {{T}} WHERE event_id IN ({ids})"
            duck = f"DELETE FROM t WHERE event_id IN ({ids})"
        elif kind == "point":
            e = rng.choice(sorted(live))
            spark = f"SELECT event_id, user_id, cents, source FROM {{T}} WHERE event_id = {e}"
            duck = f"SELECT event_id, user_id, cents, source FROM t WHERE event_id = {e} ORDER BY 1"
        elif kind == "range":
            lo = rng.randrange(next_id - 200)
            spark = (f"SELECT count(*) AS n, sum(cents) AS c FROM {{T}} "
                     f"WHERE event_id BETWEEN {lo} AND {lo + 150}")
            duck = f"SELECT count(*), sum(cents) FROM t WHERE event_id BETWEEN {lo} AND {lo + 150}"
        elif kind == "agg":
            spark = ("SELECT source, count(*) AS n, sum(cents) AS c FROM {T} "
                     "GROUP BY source ORDER BY source")
            duck = "SELECT source, count(*), sum(cents) FROM t GROUP BY source ORDER BY source"
        else:
            spark = "SELECT source, count(*) AS n FROM {T} VERSION AS OF {V} GROUP BY source ORDER BY source"
        out.append({"kind": kind, "sql": spark, "duck": duck, "user_bytes": user_bytes})
    with open(path, "w") as f:
        for s in out:
            f.write(json.dumps(s) + "\n")
    return out


# ---------------------------------------------------------------- running

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def heap_mb():
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return max(1024, min(2048, total_kb // 1024 // 4))


def nproc():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, plan, work, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    path = os.path.join(work, "plan.json")
    with open(path, "w") as f:
        json.dump(plan, f)
    cmd = ["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xms{plan['heap_mb']}m", f"-Xmx{plan['heap_mb']}m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main", path]
    env = dict(os.environ, GRAFT_ORACLE_ROOT=os.path.join(work, "oracle"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, env=env, stdout=out, stderr=subprocess.STDOUT,
                               timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            return None, log
    if r.returncode != 0 or not os.path.isfile(plan["out"]):
        return None, log
    with open(plan["out"]) as f:
        return json.load(f), log


def make_plan(workload, seed, seconds, trace, work, data):
    rng = random.Random(seed)
    plan = {"workload": workload, "seconds": seconds, "trace": bool(trace), "cpus": nproc(),
            "heap_mb": heap_mb(), "work": work, "data": data,
            "out": os.path.join(work, "report.json"), "lake_root": os.path.join(work, "lake")}
    if workload == "queries_cold":
        panel = list(PANEL)
        rng.shuffle(panel)
        plan["queries"] = panel
        plan["modules"] = modules_of(panel)
        plan["statements"] = os.path.join(work, "statements.jsonl")
        plan["script"] = lake_script(data, rng, plan["statements"])
        plan.update(
            create_sql=f"CREATE TABLE {{T}} ({LAKE_COLS}) PARTITIONED BY (source) "
                       f"TBLPROPERTIES({TABLE_PROPS})",
            seed_sql="INSERT INTO {T} SELECT event_id, ts, user_id, "
                     "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, event_type AS source "
                     "FROM perfbench_events",
            table_properties=TABLE_PROPS, asof_back=3)
    elif workload == "ingest_loop":
        rates = RATES
        step = seconds / len(rates)
        n = int(sum(r * step for r in rates)) + 10
        plan["posts"] = os.path.join(work, "posts.jsonl")
        ingest_posts(data, rng, n, plan["posts"])
        plan.update(rates=rates, step_s=step, trigger_ms=TRIGGER_MS, tail_limit_s=TAIL_LIMIT_S,
                    drain_s=30.0, sources=gen.EVENT_TYPES,
                    replay_source=rng.choice(gen.EVENT_TYPES))
    else:
        fail(f"unknown workload {workload!r}; choose from {[w for w, _ in WORKLOADS]}")
    return plan


# ---------------------------------------------------------------- checks

def _check_module():
    spec_ = importlib.util.spec_from_file_location("graft_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec_)
    spec_.loader.exec_module(mod)
    return mod


def duck_with_tables(data):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def check_queries(rep, data, corrupt):
    """Hash each collected result in tools/check.py's canonical form and
    compare it to the DuckDB oracle's on the same inputs."""
    ck = _check_module()
    con = duck_with_tables(data)
    chk = rep["check"]
    bad = dict(chk["failures"])
    for name, sql in sorted(chk["oracle_sql"].items()):
        if name in bad:
            continue
        files = sorted(f for f in os.listdir(os.path.join(chk["results_dir"], name))
                       if f.endswith(".parquet")) if os.path.isdir(
            os.path.join(chk["results_dir"], name)) else []
        if not files:
            bad[name] = "no result"
            continue
        paths = [os.path.join(chk["results_dir"], name, f) for f in files]
        s_cols = [d[0] for d in con.execute(f"DESCRIBE SELECT * FROM read_parquet({paths!r})").fetchall()]
        s_rows = con.execute(f"SELECT * FROM read_parquet({paths!r})").fetchall()
        o_cols = [d[0] for d in con.execute(f"DESCRIBE {sql}").fetchall()]
        o_rows = con.execute(sql).fetchall()
        got = ck.table_hash(s_cols, s_rows)
        want = ck.table_hash(o_cols, o_rows)
        if corrupt == name:
            want = hashlib.sha256(want.encode()).hexdigest()
        if sorted(s_cols) != sorted(o_cols) or len(s_rows) != len(o_rows) or got != want:
            bad[name] = f"hash mismatch (rows spark={len(s_rows)} oracle={len(o_rows)})"
    return chk["attempted"], bad


def check_ingest(rep):
    c = rep["check"]
    bad = {}
    if c["failed"]:
        bad["deliveries"] = f"{c['failed']} accepted requests not delivered exactly once to their source"
    if c["stray_deliveries"]:
        bad["strays"] = f"{c['stray_deliveries']} deliveries of ids never posted"
    if c["replayed"] != c["replay_expected"]:
        bad["replay"] = f"replayed {c['replayed']} != {c['replay_expected']} records in matched objects"
    if c["catalog_before_replay"] != c["catalog_after_replay"]:
        bad["catalog"] = "replay changed the catalog row count"
    failed = c["failed"] + c["stray_deliveries"] + ("replay" in bad) + ("catalog" in bad)
    return c["attempted"], failed, bad


def check_lake(rep, plan, data):
    """Apply the executed prefix of the script to the same base rows in
    DuckDB and compare every checked read and the final per-source state."""
    c = rep["check"]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"CREATE TABLE t AS SELECT event_id, ts::TIMESTAMP AS ts, user_id, "
                f"CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, event_type AS source "
                f"FROM read_parquet('{data}/events.parquet')")
    reads = {r["i"]: r for r in c["reads"]}
    bad = {}
    for i, st in enumerate(plan["script"][:c["executed"]]):
        if st["kind"] in ("insert", "merge", "delete"):
            for part in st["duck"].split("; "):
                con.execute(part)
        elif st["duck"] is not None:
            want = [[None if v is None else str(v) for v in row] for row in con.execute(st["duck"]).fetchall()]
            if reads[i]["rows"] != want:
                bad[f"stmt{i}"] = f"{st['kind']} read {reads[i]['rows']} != model {want}"
        elif not reads[i]["rows"]:
            bad[f"stmt{i}"] = "as-of read returned no rows"
    want = [[s, str(n), str(cents)] for s, n, cents in con.execute(
        "SELECT source, count(*), sum(cents) FROM t GROUP BY source ORDER BY source").fetchall()]
    if c["final"] != want:
        bad["final"] = f"final per-source state {c['final']} != model {want}"
    return c["executed"], len(bad), bad


def measure(classpath, args, trace, tag, deadline):
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}-{tag}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    gen.write_tables(data, SF[args.workload], args.seed)
    plan = make_plan(args.workload, args.seed, args.seconds, trace, work, data)
    plan["drop_delivery"] = args.drop_delivery
    rep, log = run_jvm(classpath, plan, work, deadline)
    if rep is None:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{args.workload} run failed (log above)", 1)
    if args.workload == "queries_cold":
        attempted, bad = check_queries(rep, data, args.corrupt_hash)
        executed, _, lake_bad = check_lake(rep, plan, data)
        attempted += executed
        bad.update(lake_bad)
        failed = len(bad)
    else:
        attempted, failed, bad = check_ingest(rep)
    shutil.rmtree(work, ignore_errors=True)
    return rep, attempted, failed, bad


def own_layers(workload):
    """The per-layer metrics a workload's traced run must report."""
    return [n for n, _, _, _, w in PER_LAYER if w in (workload, "all")]


def number(v):
    """The report's number (the JVM writes NaN as a string), or None
    when it is missing or not finite."""
    v = None if v is None else float(v)
    return v if v is not None and math.isfinite(v) else None


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # negative controls for the self-test: the run must then fail its check
    ap.add_argument("--corrupt-hash", help=argparse.SUPPRESS)
    ap.add_argument("--drop-delivery", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.workload not in [w for w, _ in WORKLOADS]:
        fail(f"--workload must be one of {[w for w, _ in WORKLOADS]}")

    classpath = build()
    deadline = time.monotonic() + RUN_DEADLINE_S
    rep, attempted, failed, bad = measure(classpath, args, False, "plain", deadline)
    shown = dict(rep["metrics"])
    info = rep["info"]
    if args.trace:
        traced, t_att, t_failed, t_bad = measure(classpath, args, True, "traced", deadline)
        attempted += t_att
        failed += t_failed
        bad.update({f"traced: {k}": v for k, v in t_bad.items()})
        tm = traced["metrics"]
        tm["trace.overhead_frac"] = tm["wall_s"] / rep["metrics"]["wall_s"] - 1.0
        shown.update({k: v for k, v in tm.items() if k not in shown})
        info = traced["info"]
        # every layer this workload calls must report a finite figure
        mine = own_layers(args.workload)
        for n in mine:
            if number(tm.get(n)) is None:
                bad[f"per-layer {n}"] = "not reported, or no samples"
        # the result names every per-layer metric; one of a layer this
        # workload never calls reads 0 and is listed as not exercised
        others = [n for n, *_ in PER_LAYER if n not in mine]
        info = dict(info, not_exercised=",".join(others))
        out = {n: {"value": (number(tm.get(n)) or 0.0) if n in mine else 0.0, "unit": u}
               for n, u, *_ in PER_LAYER}
    else:
        out = {n: {"value": float(rep["metrics"][n]), "unit": u} for n, u, *_ in END_TO_END}
    for k, v in info.items():
        print(f"info {k} = {v}")
    for n, u, *_ in END_TO_END + PER_LAYER:
        if n in shown:
            print(f"metric {n} = {float(shown[n]):.6g} {u}")
    print(f"metric fail_frac = {failed / max(1, attempted):.6g} ratio")
    for k, v in bad.items():
        print(f"FAIL {k}: {v}")
    correct = not bad
    print(json.dumps({"correct": correct, "attempted": int(attempted), "failed": int(failed),
                      "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

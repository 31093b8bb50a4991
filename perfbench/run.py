#!/usr/bin/env python3
"""Outside-in benchmark of the graft catalog layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload catalog_ops --seed 1 --seconds 10 --trace 0

It builds the harness together with the program's sources (first run only),
generates the inputs from the seed, computes the expected results, runs one
workload in a single JVM at local[4], checks every op's output, and prints
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` they are
the per-layer ones from a traced run. Exits non-zero, without a result line,
when the program cannot be built or run.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402

ROOT = os.getcwd()
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
DEADLINE_S = 170
LOG_LIMIT_BYTES = 1 << 20

END_TO_END = {
    "setup_s": "s", "throughput_ops_s": "1/s", "latency_p50_ms": "ms",
    "latency_p90_ms": "ms", "peak_rss_mb": "MiB",
}
PER_LAYER = dict(
    {f"backend.{c}.p50_ms": "ms" for c in (
        "describeTable", "describeTables", "listTables", "listNamespaces",
        "tableExists", "declareTable", "dropTable")},
    **{f"catalog.{c}.p50_ms": "ms" for c in (
        "loadTable", "createTable", "dropTable", "listTables", "tableExists")},
    **{f"commit.{c}.p50_ms": "ms" for c in ("insert", "delete", "update", "merge")},
    **{f"ops.{c}.p50_ms": "ms" for c in ("refresh_index", "compact_index", "compact_table")},
    **{
        "backend.calls_per_op": "count/op", "backend.time_ms_per_op": "ms/op",
        "backend.errors": "count", "catalog.self_ms_per_op": "ms/op",
        "plans.analyze_ms": "ms/query", "plans.optimize_ms": "ms/query",
        "plans.physical_ms": "ms/query",
        "plans.analyze.backend_calls": "count/query",
        "plans.optimize.backend_calls": "count/query",
        "plans.route_served_ratio": "ratio",
        "exec.wall_ms": "ms/query", "exec.executor_cpu_ms": "ms/op", "exec.tasks": "count/op",
        "exec.shuffle_bytes": "bytes/op", "exec.spill_bytes": "bytes/op",
        "exec.gc_ms": "ms/op",
        "commit.files_written": "count/op", "commit.write_amplification": "ratio",
        "commit.space_amplification": "ratio",
        "op_ms": "ms/op", "trace_overhead": "ratio", "error_rate": "ratio",
        "log_bytes": "bytes",
    })

# Workload sizes; see BENCHMARK.json for why each workload exists.
CATALOG_TABLES = 200
DECLARED_TABLES = 20
QUERIES_PER_SHAPE = 8
WRITE_BASE_ROWS = 20000
TABLES = {
    "catalog_ops": [],
    "sql_lookup": ["events", "customer"],
    "write_commit": ["events"],
}
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(HERE, "src", "main"), PROGRAM_SOURCES):
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile the harness with the program's sources; returns the classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(build_dir, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false").strip()
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", f"writeClasspath {cp_file}"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=840)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc}), log in {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read()


def rows_of(con, sql):
    return sorted("|".join("null" if v is None else str(v) for v in r)
                  for r in con.execute(sql).fetchall())


def views(data_dir, names):
    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def sql_lookup_queries(seed, data_dir):
    """Seeded parameters for each query shape, with the expected rows from
    DuckDB over the raw parquet."""
    rnd = random.Random(seed)
    con = views(data_dir, ["events", "customer"])
    shapes = {
        # btree on events.value in the memory catalog
        "btree_range": ("ev_value_btree", lambda: (
            lambda a: f"SELECT event_id FROM mem.db.events "
                      f"WHERE value BETWEEN {a:.2f} AND {a + 0.15:.2f}")(rnd.uniform(20, 200))),
        "btree_count": ("ev_value_btree", lambda: (
            lambda a, w: f"SELECT count(*) AS n FROM mem.db.events "
                         f"WHERE value BETWEEN {a:.2f} AND {a + w:.2f}")(
                rnd.uniform(10, 150), rnd.uniform(5, 60))),
        # bitmap on customer.c_mktsegment in the hive2 catalog
        "bitmap_count": ("cust_segment_bitmap", lambda: (
            lambda a, b: f"SELECT c_mktsegment, count(*) AS n FROM hms.db.customer "
                         f"WHERE c_mktsegment IN ('{a}', '{b}') GROUP BY c_mktsegment")(
                *rnd.sample(datagen.SEGMENTS, 2))),
        # no index serves these
        "scan_filter": ("", lambda: (
            f"SELECT event_id, user_id FROM mem.db.events WHERE user_id = {rnd.randrange(1500)} "
            f"AND event_type = '{rnd.choice(datagen.EVENT_TYPES)}'")),
        "scan_agg": ("", lambda: (
            lambda a: f"SELECT c_mktsegment, count(*) AS n FROM hms.db.customer "
                      f"WHERE c_acctbal BETWEEN {a:.2f} AND {a + 500:.2f} "
                      f"GROUP BY c_mktsegment")(rnd.uniform(-900, 9000))),
    }
    out = []
    for shape, (index, make) in shapes.items():
        for _ in range(QUERIES_PER_SHAPE):
            sql = make()
            plain = sql.replace("mem.db.", "").replace("hms.db.", "")
            out.append({"shape": shape, "sql": sql, "index": index,
                        "expected": rows_of(con, plain)})
    return out


def write_commit_base(data_dir):
    con = views(data_dir, ["events"])
    r = con.execute("SELECT count(*), sum(event_id), sum(user_id), sum(length(props)), "
                    f"sum(29 + length(props)) FROM events WHERE event_id < {WRITE_BASE_ROWS}"
                    ).fetchone()
    return dict(zip(["rows", "id_sum", "user_sum", "props_len", "bytes"], map(int, r)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(PROGRAM_SOURCES):
        fail(f"no program sources under {PROGRAM_SOURCES}; run from the root of a checkout")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(build_dir)
    start = time.time()  # the build may take longer than one run may

    work = os.path.join(build_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data_dir = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        datagen.generate(args.seed, data_dir, TABLES[args.workload])
        spec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "data": data_dir, "work": work,
                "out": os.path.join(work, "result.json"),
                "catalog_tables": CATALOG_TABLES, "declared_tables": DECLARED_TABLES,
                "write_base_rows": WRITE_BASE_ROWS}
        if args.workload == "sql_lookup":
            spec["queries"] = sql_lookup_queries(args.seed, data_dir)
        if args.workload == "write_commit":
            spec["base"] = write_commit_base(data_dir)
        spec_path = os.path.join(work, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)

        log_path = os.path.join(work, "jvm.log")
        cmd = ["java", "-cp", classpath, *ADD_OPENS, "-Xmx3g", "-Xmn512m", "-Xss4m",
               "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={work}/tmp", "-Duser.timezone=UTC",
               f"-Dderby.system.home={work}/tmp", "perfbench.Main", spec_path]
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        log_bytes = os.path.getsize(log_path)
        with open(log_path, errors="replace") as f:
            sys.stderr.writelines(l for l in f if l.startswith("[perfbench]"))
        if rc != 0 or not os.path.exists(spec["out"]):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"the benchmark JVM exited with {rc}")
        with open(spec["out"]) as f:
            result = json.load(f)

        failed = result["failed"]
        failures = list(result["failures"])
        attempted = result["attempted"]
        checks_ok = log_bytes <= LOG_LIMIT_BYTES
        if not checks_ok:
            failures.append(f"run check: {log_bytes} log bytes > {LOG_LIMIT_BYTES}")
        for line in failures[:20]:
            print(f"perfbench: {line}", file=sys.stderr)

        got = dict(result["metrics"], log_bytes=log_bytes, error_rate=failed / max(1, attempted))
        names = PER_LAYER if args.trace else END_TO_END
        missing = [n for n in names if got.get(n) is None]
        if missing:
            fail(f"metrics not measured: {missing}")
        print(json.dumps({
            "correct": failed == 0 and checks_ok,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": got[n], "unit": u} for n, u in names.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

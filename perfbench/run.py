"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program with the harness (build.py), generates the seeded
inputs (gen.py; query_mix reads the fixture under perfbench/fixtures),
runs the workload in one JVM on min(nproc, 4) cores and prints one JSON
object as the last line of standard output:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (spans go to perfbench/.work/<workload>/trace.jsonl); their
names and units are those BENCHMARK.json declares.
Everything the run writes stays under perfbench/.work and perfbench/.build.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import build
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
WORKLOADS = ("medallion", "stream_micro", "query_mix", "lake_upsert")
FIXTURE = os.path.join(HERE, "fixtures", "sf0.01")
HASHES = os.path.join(HERE, "fixtures", "query_mix_hashes.json")
FIXTURE_TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    return max(1, min(4, os.cpu_count() or 1))


def oracle_check(work):
    """Compares the Spark results of the oracled mix queries with DuckDB
    over the same fixture, the way scripts/check.py does. Returns
    (checked, failed)."""
    import duckdb

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime") or str(df[c].dtype) == "object":
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    out = os.path.join(work, "oracle")
    sqls = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO %d" % cores())
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{FIXTURE}/{t}.parquet'")
    failed = 0
    for name, sql in sorted(sqls.items()):
        try:
            got = canon(con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").df())
            want = canon(con.sql(sql).df())
            ok = list(got.columns) == list(want.columns) and len(got) == len(want) and got.equals(want)
        except Exception as e:  # a failing oracle query is a failed check
            print(f"perfbench: oracle {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: {name} differs from the DuckDB oracle", file=sys.stderr)
            failed += 1
    return len(sqls), failed


def declared_metrics(values, trace):
    """The JVM's metric values under the names and units BENCHMARK.json
    declares. A name the JVM reports but BENCHMARK.json does not declare,
    or a missing end-to-end metric, is an error; a per-layer metric of a
    layer the workload does not reach reports 0."""
    spec = json.load(open(SPEC))["per_layer" if trace else "end_to_end"]
    names = {m["name"] for m in spec}
    undeclared = sorted(set(values) - names)
    missing = [] if trace else sorted(names - set(values))
    if undeclared or missing:
        raise SystemExit("perfbench: metrics not declared in BENCHMARK.json: %s; not reported: %s"
                         % (undeclared, missing))
    return {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in spec}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    cp = build.build()
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if a.workload == "query_mix":
        inputs = FIXTURE
    else:
        inputs = os.path.join(work, "input")
        gen.generate(a.workload, a.seed, inputs)

    # a fixed heap with a fixed young generation, not pre-touched: the young
    # generation is resident in full after its first fill (~512 MB, the same
    # in every run), the old generation and native memory (RocksDB,
    # metaspace) only as far as the program uses them, so peak_rss_mb follows
    # them; a growing heap made it vary with the GC's sizing decisions
    # (no hsperfdata file: the JVM would write it to the system temp dir)
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss8m", "-XX:+UseG1GC",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--input", inputs, "--work", work,
            "--cores", str(cores()),
            "--hashes", HASHES]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                               text=True, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: the workload did not finish in %d s" % JVM_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        raise SystemExit("perfbench: the workload failed (exit %d)\n%s" % (p.returncode, tail))
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    res["metrics"] = declared_metrics(res["metrics"], a.trace)
    if os.path.isfile(os.path.join(work, "oracle", "oracle_sql.json")):
        checked, failed = oracle_check(work)
        res["attempted"] += checked
        res["failed"] += failed
        res["correct"] = res["correct"] and failed == 0
    for line in open(os.path.join(work, "jvm.log")):
        if line.startswith("[perfbench]"):
            print(line.rstrip(), file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    main()

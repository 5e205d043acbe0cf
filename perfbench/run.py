#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured section.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <kg_build|sssom_ops|query_suite>
        --seed <n> --seconds <s> --trace <0|1>

Builds the library of the checkout together with the benchmark's Scala
sources (sbt, offline) when they changed, generates the workload's inputs
from the seed, runs the measured JVM, checks the outputs and prints, as the
last stdout line, one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics (0 for a layer the workload does not run).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench.stamp")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
ARCHIVE = os.path.join(TARGET, "perfbench.jsa")

WORKLOADS = ("kg_build", "sssom_ops", "query_suite")
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    files = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "main", "**", "*.scala"),
                               recursive=True)
                   + [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources differ from the last build."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(TARGET, "tmp")))
    os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "graft-perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1].strip())
    train_archive(lines[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def java_cmd(classpath, work, jvm_flags):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java"] + jvm_flags + ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
                                  "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "graft.perfbench.Main"]


def train_archive(classpath):
    """Part of the build: run set-up, a warm pass and the checks of every
    workload at a small size in a JVM that archives the classes it loaded
    (class-data sharing). Benchmark JVMs map the archive instead of loading
    and verifying those classes from the jars; without it they still run,
    only slower to start."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    log("training the class-data archive")
    work = os.path.join(HERE, ".work", f"train-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        tables = os.path.join(work, "tables")
        generate_tables(tables, 0)
        proc = subprocess.run(
            java_cmd(classpath, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
            + ["--train", "1", "--work", work, "--tables", tables],
            cwd=work, env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp")),
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=300)
        output, ok = proc.stdout, proc.returncode == 0
    except subprocess.TimeoutExpired:
        output, ok = "training timed out\n", False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in output.splitlines():
        if line.startswith("[perfbench]"):
            log(line[len("[perfbench] "):])
    if not ok or not os.path.exists(ARCHIVE):
        sys.stderr.write(output[-2000:])
        log("no class-data archive: benchmark JVMs load every class from the jars")
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)


# ---------------------------------------------------------------- tables --

VOCAB = ["row", "the", "query", "stream", "fast", "spark", "line", "small",
         "customer", "group", "value", "hash", "batch", "sort", "data", "big",
         "filter", "dup", "key", "agg", "scan", "slow", "table", "part", "a",
         "merge", "window", "order", "column", "join", "vector"]


def table_sql(seed):
    """DuckDB SELECTs for the star-schema, document, event and embedding
    tables (the shapes graft.SparkEntry reads), a pure function of `seed`.
    Every fourth value is drawn from hash(seed, tag, row)."""
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"
    return {
        "region": """SELECT i::INTEGER AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
            (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""",
        "customer": """SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
            floor(rnd('cn', i) * 25)::INTEGER AS c_nationkey,
            round(-999.99 + rnd('ca', i) * 10999.98, 2) AS c_acctbal,
            ['MACHINERY','AUTOMOBILE','FURNITURE','HOUSEHOLD','BUILDING'][1 + floor(rnd('cs', i) * 5)::INTEGER] AS c_mktsegment
            FROM range(150) t(i)""",
        "supplier": """SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
            floor(rnd('sn', i) * 25)::INTEGER AS s_nationkey,
            round(-999.99 + rnd('sa', i) * 10999.98, 2) AS s_acctbal
            FROM range(10) t(i)""",
        "part": """SELECT i AS p_partkey,
            ['cold','small','large','blue','red','green'][1 + floor(rnd('pa', i) * 6)::INTEGER] || ' ' ||
            ['widget','bolt','rod','gear'][1 + floor(rnd('pn', i) * 4)::INTEGER] AS p_name,
            'Brand#' || (1 + floor(rnd('pb', i) * 25)::INTEGER) AS p_brand,
            ['ECONOMY','LARGE','STANDARD','MEDIUM','SMALL','PROMO'][1 + floor(rnd('pt', i) * 6)::INTEGER] AS p_type,
            (1 + floor(rnd('ps', i) * 50))::INTEGER AS p_size,
            round(900 + (i % 200) * 0.1, 1) AS p_retailprice
            FROM range(200) t(i)""",
        "orders": """SELECT i AS o_orderkey, floor(rnd('oc', i) * 150)::BIGINT AS o_custkey,
            ['F','O','P'][1 + floor(rnd('os', i) * 3)::INTEGER] AS o_orderstatus,
            round(1000 + rnd('op', i) * 499000, 2) AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(floor(rnd('od', i) * 2400)::INTEGER) AS o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][1 + floor(rnd('oy', i) * 5)::INTEGER] AS o_orderpriority
            FROM range(1500) t(i)""",
        "lineitem": """SELECT floor(rnd('lo', i) * 1500)::BIGINT AS l_orderkey,
            floor(rnd('lp', i) * 200)::BIGINT AS l_partkey,
            floor(rnd('ls', i) * 10)::BIGINT AS l_suppkey,
            (1 + floor(rnd('ll', i) * 7))::INTEGER AS l_linenumber,
            (1 + floor(rnd('lq', i) * 50))::DOUBLE AS l_quantity,
            round((1 + floor(rnd('lq', i) * 50)) * (900 + rnd('le', i) * 1200), 2) AS l_extendedprice,
            round(floor(rnd('ld', i) * 11) / 100, 2) AS l_discount,
            round(floor(rnd('lt', i) * 9) / 100, 2) AS l_tax,
            ['A','N','R'][1 + floor(rnd('lr', i) * 3)::INTEGER] AS l_returnflag,
            ['O','F'][1 + floor(rnd('lx', i) * 2)::INTEGER] AS l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(floor(rnd('lh', i) * 2500)::INTEGER) AS l_shipdate
            FROM range(6000) t(i)""",
        "events": """SELECT i AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds((i * 2592000000 + floor(rnd('et', i) * 2500000000))::BIGINT) AS ts,
            floor(rnd('eu', i) * 15)::BIGINT AS user_id,
            ['signup','click','error','purchase','view'][1 + floor(rnd('ey', i) * 5)::INTEGER] AS event_type,
            round(rnd('ev', i) * 330, 2) AS value,
            '{"k": ' || floor(rnd('ek', i) * 100)::INTEGER || '}' AS props
            FROM range(1000) t(i)""",
        # every 20th document is a one-word edit of its predecessor, so the
        # near-duplicate queries have true pairs to find
        "documents": f"""SELECT i AS doc_id, text,
            ['en','en','de','es','fr','zh','en','de','es','fr','zh'][1 + floor(rnd('dl', i) * 11)::INTEGER] AS lang,
            'src' || (i % 20) AS source, length(text)::BIGINT AS n_chars
            FROM (SELECT i, array_to_string(list_transform(
                      range((8 + floor(rnd('dn', b) * 80))::BIGINT),
                      j -> CASE WHEN i <> b AND j = 3 THEN 'edited'
                           ELSE {vocab}[1 + (hash({seed}, 'dw', b, j) % 31)::INTEGER] END),
                      ' ') AS text
                  FROM (SELECT i, CASE WHEN i % 20 = 19 THEN i - 1 ELSE i END AS b
                        FROM range(200) t(i)))""",
        "embeddings": """SELECT i AS vec_id, label,
            list_transform(e, x -> (x / sqrt(list_sum(list_transform(e, y -> y * y))))::FLOAT) AS embedding
            FROM (SELECT i, label, list_transform(range(64),
                      d -> (rnd('ec', label * 64 + d) - 0.5) + 0.3 * (rnd('en', i * 64 + d) - 0.5)) AS e
                  FROM (SELECT i, floor(rnd('lb', i) * 10)::INTEGER AS label FROM range(500) t(i)))""",
    }


def generate_tables(dirname, seed):
    import duckdb
    os.makedirs(dirname, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE MACRO rnd(tag, i) AS "
                f"(hash({int(seed)}, tag, i) % 1000003)::DOUBLE / 1000003")
    for name, sql in table_sql(seed).items():
        path = os.path.join(dirname, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    con.close()


def oracle_checks(tables, outputs):
    """Compare each written query result with its DuckDB oracle SQL: row
    count plus the sorted multiset of stringified rows, columns by name
    (the method of scripts/check_oracle.py)."""
    import duckdb
    checks = []
    path = os.path.join(outputs, "oracle_sql.json")
    if not os.path.exists(path):
        return [{"name": "query.oracle", "ok": False, "detail": "no oracle_sql.json"}]
    with open(path) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return list(df.columns), sorted(df.astype(str).itertuples(index=False, name=None))

    for q, sql in sorted(oracle.items()):
        spark_dir = os.path.join(outputs, q)
        t = time.time()
        try:
            o = con.execute(sql).fetch_df()
            s = con.execute(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").fetch_df()
            ok = len(o) == len(s) and canon(o) == canon(s)
            detail = f"rows spark={len(s)} oracle={len(o)}, {time.time() - t:.1f} s"
        except Exception as e:  # a missing result or a failing oracle
            ok, detail = False, f"error: {e}"
        checks.append({"name": f"oracle.{q}", "ok": ok, "detail": detail})
    con.close()
    return checks


# ------------------------------------------------------------------ main --

WORKLOAD_NAMES = {"kg_build": ("turns_per_s", "1/s"), "sssom_ops": ("rows_per_s", "1/s"),
               "query_suite": ("suite_s", "s")}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")) or not os.path.exists(spec_path):
        log(f"no graft sources under {LIB_SRC} or no BENCHMARK.json: "
            "run from the root of a graft checkout")
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    build()
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0_ms = int(time.time() * 1000)  # set-up starts here (after any build)
        cds = ([f"-XX:SharedArchiveFile={ARCHIVE}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
               if os.path.exists(ARCHIVE) else [])
        cmd = java_cmd(classpath, work, cds) + [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--t0-ms", str(t0_ms),
            "--spans", os.path.join(HERE, "out", f"spans-{a.workload}.jsonl")]
        tables = os.path.join(work, "tables")
        if a.workload == "query_suite":
            generate_tables(tables, a.seed)
            log(f"{time.time() - t0_ms / 1000:.1f} s: tables generated")
            cmd += ["--tables", tables]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
        proc = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                              timeout=900)
        lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stdout[-2000:])
            log(f"benchmark JVM exited with {proc.returncode}")
            return 1
        res = json.loads(lines[-1])
        checks = res["checks"]
        if a.workload == "query_suite":
            log(f"{time.time() - t0_ms / 1000:.1f} s: JVM exited")
            checks += oracle_checks(tables, os.path.join(work, "outputs"))
            log(f"{time.time() - t0_ms / 1000:.1f} s: oracle checks done")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    names = {m["name"] for m in declared}
    unknown = sorted(set(res["metrics"]) - names)
    missing = sorted(m["name"] for m in spec["end_to_end"]
                     if a.trace == 0 and m["name"] not in res["metrics"])
    if unknown or missing:
        log(f"metrics out of step with BENCHMARK.json: unknown {unknown}, missing {missing}")
        return 1
    metrics = {m["name"]: {"value": res["metrics"].get(m["name"], 0.0) or 0.0,
                           "unit": m["unit"]} for m in declared}

    attempted = res["attempted"]
    # the JVM already counted its own failed checks; a failed oracle
    # comparison adds one more failed operation
    failed = min(attempted, res["failed"] + sum(1 for c in checks
                                                if not c["ok"] and c["name"].startswith("oracle.")))
    correct = all(c["ok"] for c in checks)

    print(f"workload {a.workload} seed {a.seed}: {res['passes']} passes, "
          f"pass seconds {[round(s, 3) for s in res['pass_seconds']]}")
    rate = res["metrics"].get("items_per_s")
    if rate:
        name, unit = WORKLOAD_NAMES[a.workload]
        headline = res["items"] / rate if name == "suite_s" else rate
        print(f"  {name} = {headline:.4f} {unit} (median pass)")
    print(f"  failed_frac = {failed / attempted:.4f} ({failed} of {attempted} operations)")
    for f in res["failures"]:
        print(f"  failure: {f[:300]}")
    for c in checks:
        print(f"  check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

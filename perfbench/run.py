#!/usr/bin/env python3
"""Benchmark of the sales ETL engine: two workloads, one JVM per run.

    python3 perfbench/run.py --workload sales_batch --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. The first run in a checkout compiles the
engine and the harness into .bench_build/ (perfbench/build.sh). Every run
generates its inputs from --seed (cached per seed under .bench_build/inputs),
runs the workload, checks the outputs against DuckDB, and prints one JSON
line last: the end-to-end metrics with --trace 0, the per-layer metrics of
a traced run with --trace 1. perfbench/README.md has the workloads, the
metrics and the layers they belong to.
"""
import argparse
import datetime
import glob
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
CORES = os.cpu_count() or 1
# A fixed heap with fixed generations and the parallel collector: with G1's
# adaptive sizing the same run varied ~20% from one JVM to the next.
# Heap pages are not touched up front, so peak RSS counts the heap the
# program actually used.
JVM_HEAP = ["-Xms1536m", "-Xmx1536m", "-Xmn512m", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy"]
# Cold set-ups per run, each in a fresh JVM (the workload's own JVM is one).
SETUPS = 3
JVM_TIMEOUT_S = 160

LLM_QUERIES = ["llm_fuzzy_join", "llm_spectral_cut", "llm_pca_incremental", "stream_curate"]

# Input sizes per workload. "smoke" is the minimal size --smoke runs.
SIZES = {
    "sales_batch": {"full": dict(files=365, rows=150), "smoke": dict(files=8, rows=50)},
    "llm_curation": {
        "full": dict(docs=1000, vecs=500, parts=1000, lines=12000),
        "smoke": dict(docs=500, vecs=500, parts=200, lines=6000),
    },
}
# Measured passes per run, at least: a query's latency varies more from
# pass to pass than the whole sales job's, so llm_curation takes a third.
MIN_PASSES = {"sales_batch": 2, "llm_curation": 3}
# Warm-up: passes run until two consecutive passes agree within 10%, at
# most WARMUP_PASSES of them, and none starts after WARMUP_MAX_S seconds.
WARMUP_PASSES = 2
WARMUP_MAX_S = 12


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# build
# --------------------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "harness", "*.scala")))
    files.append(os.path.join(BENCH, "build.sh"))
    h.update(repr(JVM_HEAP).encode())  # the class-data archive depends on them
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    unmanagedBase that build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("perfbench: set SPARK_HOME; build.sbt names no Spark jar directory")
    return m.group(1)


def build():
    """Compile once per source state; returns the classes directory."""
    if not os.path.isdir("src/main/scala"):
        sys.exit("perfbench: run from a repository root that has src/main/scala")
    out = os.path.join(BUILD, "classes-" + source_digest())
    if os.path.exists(os.path.join(out, "OK")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    r = subprocess.run(["bash", os.path.join(BENCH, "build.sh"), tmp, spark_jars()],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"perfbench: build failed (exit {r.returncode})")
    log(f"compiled engine + harness in {time.time() - t0:.1f} s")
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    train_class_archive(out)
    open(os.path.join(out, "OK"), "w").close()
    log(f"build done in {time.time() - t0:.1f} s")
    return out


def train_class_archive(classes):
    """Record the classes a session set-up loads in a class-data sharing
    archive, so every benchmark JVM maps them instead of loading them from
    jars. On a 4-core host it cuts JVM launch to session ready from ~10 s
    to ~5.3 s, which is what lets three cold set-ups fit in each run. The
    archive is trained the same way for every build, and a failed training
    fails the build."""
    work = os.path.join(BUILD, "tmp", f"train-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    archive = os.path.join(classes, "classes.jsa")
    args = {"mode": "setup", "work": work, "cores": CORES,
            "result": os.path.join(work, "result.json")}
    try:
        rc = run_jvm(classes, args, 300, train=True)
        if rc != 0 or not os.path.exists(archive):
            fail_jvm(args)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------

def sales_rows(rng, n, year_days, id_pool):
    """One sales CSV body. Every FIXTURES.md section-1 trap appears at a
    fixed rate: null / duplicate / lowercase Sale_IDs, dash-split and padded
    Products, USD / EUR / suffix-only / prefix-EUR / currency-less / null
    Amounts, three-decimal rounding probes, garbage and null Dates."""
    out = ["Sale_ID,Product,Amount,Date,Row_Idx"]
    for i in range(n):
        sid = "" if rng.random() < 0.025 else "s%06x" % rng.randrange(id_pool)
        letter = "abcde"[rng.randrange(5)]
        r = rng.random()
        prod = ("" if r < 0.04 else f"  gros-{letter}  " if r < 0.2
                else f"CAT - {letter.upper()}" if r < 0.3 else "plain" if r < 0.35
                else f"cat-{letter}")
        c = rng.randrange(1, 1000000)
        amt = f"{c // 100}.{c % 100:02d}"
        r = rng.random()
        amount = (f"{amt} USD" if r < 0.35 else f"{amt} EUR" if r < 0.55
                  else f"{amt}EUR" if r < 0.65 else amt if r < 0.75
                  else f"EUR {amt}" if r < 0.85 else "" if r < 0.9
                  else f"{c // 1000}.{c % 1000:03d} USD")
        r = rng.random()
        date = ("not-a-date" if r < 0.033 else "" if r < 0.066
                else year_days[rng.randrange(len(year_days))])
        out.append(f"{sid},{prod},{amount},{date},{i}")
    return "\n".join(out) + "\n"


def days_of(year, n):
    d0 = datetime.date(year, 1, 1)
    return [(d0 + datetime.timedelta(days=k)).isoformat() for k in range(n)]


def gen_sales_batch(path, seed, files, rows):
    rng = random.Random(seed)
    stems = days_of(2024, files)
    pool = 2 * files * rows
    for stem in stems + ["notes"]:
        with open(os.path.join(path, f"{stem}.csv"), "w") as f:
            f.write(sales_rows(rng, rows, stems, pool))


VOCAB = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()


def gen_llm(path, seed, docs, vecs, parts, lines):
    """The four parquet tables the llm_curation queries read, shaped like
    the engine's test data (FIXTURES.md section 2): 30-word vocabulary
    documents with 5% planted near-duplicates and a few exact copies, unit
    64-d embeddings, adjective-noun part names, and a lineitem order/part
    relation."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    base = [" ".join(rng.choice(VOCAB) for _ in range(rng.randrange(10, 100)))
            for _ in range(docs)]
    text = list(base)
    for i in range(docs):
        r = rng.random()
        if r < 0.05:
            text[i] = base[rng.randrange(docs)] + " dup"
        elif r < 0.052:
            text[i] = base[rng.randrange(docs)]
    langs = [rng.choices(["en", "zh", "de", "fr", "es"], [44, 14, 14, 14, 14])[0]
             for _ in range(docs)]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }), os.path.join(path, "documents.parquet"))
    emb = nrng.standard_normal((vecs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(vecs), pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in emb], pa.list_(pa.float32())),
        "label": pa.array(nrng.integers(0, 10, vecs), pa.int32()),
    }), os.path.join(path, "embeddings.parquet"))
    adj = "blue old small new large hot cold red".split()
    noun = "widget gizmo ring gear bolt plate rod anvil".split()
    types = "LARGE ECONOMY STANDARD SMALL MEDIUM PROMO".split()
    pq.write_table(pa.table({
        "p_partkey": pa.array(range(parts), pa.int64()),
        "p_name": pa.array([f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(parts)]),
        "p_brand": pa.array([f"Brand#{rng.randrange(1, 26)}" for _ in range(parts)]),
        "p_type": pa.array([rng.choice(types) for _ in range(parts)]),
        "p_size": pa.array(nrng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": pa.array([900.0 + (k % 2000) / 10 for k in range(parts)], pa.float64()),
    }), os.path.join(path, "part.parquet"))
    qty = nrng.integers(1, 51, lines).astype(np.float64)
    ship = np.datetime64("1995-01-02") + nrng.integers(0, 2500, lines).astype("timedelta64[D]")
    pq.write_table(pa.table({
        "l_orderkey": pa.array(nrng.integers(0, lines // 4, lines), pa.int64()),
        "l_partkey": pa.array(nrng.integers(0, parts, lines), pa.int64()),
        "l_suppkey": pa.array(nrng.integers(0, 1000, lines), pa.int64()),
        "l_linenumber": pa.array(nrng.integers(1, 8, lines), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(qty * 100.0),
        "l_discount": pa.array(nrng.integers(0, 11, lines) / 100.0),
        "l_tax": pa.array(nrng.integers(0, 9, lines) / 100.0),
        "l_returnflag": pa.array(nrng.choice(["A", "N", "R"], lines)),
        "l_linestatus": pa.array(nrng.choice(["O", "F"], lines)),
        "l_shipdate": pa.array(ship.astype("datetime64[ms]"), pa.timestamp("ms")),
    }), os.path.join(path, "lineitem.parquet"))


def inputs(workload, seed, size):
    """Generate (or reuse) the seeded inputs; returns their directory."""
    params = SIZES[workload][size]
    tag = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    path = os.path.join(BUILD, "inputs", f"{workload}-{tag}-seed{seed}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    {"sales_batch": gen_sales_batch, "llm_curation": gen_llm}[workload](tmp, seed, **params)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    open(os.path.join(path, "_DONE"), "w").close()
    return path


# --------------------------------------------------------------------------
# output checks (DuckDB)
# --------------------------------------------------------------------------

def duck(work):
    import duckdb
    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute(f"SET threads={CORES}")
    con.execute("SET memory_limit='1GB'")
    return con


# The S1/Q1-Q3 oracle of the engine (RefSurface.oracleSql: s1_file_roundtrip,
# q2_detect_invalid, q3_monthly_summary) over the feed files, with the job's
# numpy rounding (round half to even on x*100) in place of the oracle
# queries' half-up cents. Money sums compare in whole cents: a double sum
# depends on the order partial sums meet.
SALES_ORACLE = """
CREATE OR REPLACE TEMP TABLE raw AS
  SELECT "Sale_ID", "Product", "Amount", "Date", "Row_Idx",
         CAST("Row_Idx" AS INT) AS ridx,
         regexp_extract(filename, '([^/]+)\\.csv$', 1) AS stem,
         TRY_CAST(regexp_extract(filename, '([^/]+)\\.csv$', 1) AS TIMESTAMP) AS ad
  FROM read_csv({files}, header=true, delim=',', quote='"', escape='"', filename=true,
                columns={{'Sale_ID': 'VARCHAR', 'Product': 'VARCHAR', 'Amount': 'VARCHAR',
                          'Date': 'VARCHAR', 'Row_Idx': 'VARCHAR'}});
CREATE OR REPLACE TEMP TABLE valid AS
  WITH up AS (
    SELECT upper("Sale_ID") AS sid, "Product" AS product, "Amount" AS amount,
           "Date" AS d, ad, stem, ridx
    FROM raw WHERE "Sale_ID" IS NOT NULL),
  dedup AS (
    SELECT * FROM (
      SELECT *, row_number() OVER (PARTITION BY sid ORDER BY stem, ridx) AS rn FROM up)
    WHERE rn = 1),
  prodf AS (
    SELECT *, (string_split(trim(upper(product)), '-'))[-1] AS p2 FROM dedup
    WHERE (string_split(trim(upper(product)), '-'))[-1] IS NOT NULL),
  amt AS (
    SELECT *, TRY_CAST(replace(replace(amount, 'USD', ''), 'EUR', '') AS DOUBLE) AS a0,
           coalesce(ends_with(amount, 'EUR'), false) AS iseur
    FROM prodf),
  amtf AS (
    SELECT *, round_even((CASE WHEN iseur THEN a0 * 0.85 ELSE a0 END) * 100, 0) / 100 AS a2
    FROM amt)
  SELECT sid, p2, a2, TRY_CAST(d AS TIMESTAMP) AS dts, ad FROM amtf
  WHERE a2 IS NOT NULL AND TRY_CAST(d AS TIMESTAMP) IS NOT NULL AND ad IS NOT NULL;
CREATE OR REPLACE TEMP TABLE invalid AS
  WITH clean AS (
    SELECT upper(coalesce("Sale_ID", 'nan')) AS sid,
           upper((string_split(coalesce("Product", 'nan'), '-'))[-1]) AS prod,
           "Amount" AS amount, "Date" AS d, ad, "Row_Idx" AS row_idx
    FROM raw),
  nn AS (SELECT * FROM clean WHERE amount IS NOT NULL AND d IS NOT NULL AND ad IS NOT NULL),
  rest AS (SELECT * FROM nn WHERE regexp_matches(upper(amount), 'USD|EUR'))
  SELECT sid, prod, amount, d, ad, row_idx, 'N' AS reason FROM clean
    WHERE amount IS NULL OR d IS NULL OR ad IS NULL
  UNION ALL
  SELECT sid, prod, amount, d, ad, row_idx, 'A' FROM nn
    WHERE NOT regexp_matches(upper(amount), 'USD|EUR')
  UNION ALL
  SELECT sid, prod, amount, d, ad, row_idx, 'D' FROM (
    SELECT *, count(*) OVER (PARTITION BY sid) AS c FROM rest) WHERE c > 1;
"""

SALES_FRAMES = {
    # name: (oracle select, select over the job's CSV)
    "Ventas_Validas_M": (
        """SELECT sid, p2, a2, strftime(dts, '%Y-%m-%d'), strftime(ad, '%Y-%m-%d') FROM valid""",
        """SELECT "Sale_ID", "Product", CAST("Amount" AS DOUBLE), "Date", "Audit_Date" FROM {csv}"""),
    "Ventas_Invalidas_M": (
        """SELECT sid, prod, amount, strftime(TRY_CAST(d AS TIMESTAMP), '%Y-%m-%d'),
                  strftime(ad, '%Y-%m-%d'), row_idx, reason FROM invalid""",
        """SELECT "Sale_ID", "Product", "Amount", "Date", "Audit_Date", "Row_Idx", "Reason"
           FROM {csv}"""),
    "Ventas_Resumen_Mensual": (
        """SELECT strftime(dts, '%m/%Y'), p2, CAST(round(sum(a2) * 100) AS BIGINT),
                  count(a2), min(a2) FROM valid GROUP BY 1, 2""",
        """SELECT "Mes", "Producto", CAST(round(CAST("Ventas_Totales" AS DOUBLE) * 100) AS BIGINT),
                  CAST("Numero_Transacciones" AS BIGINT), CAST("Venta_Minima" AS DOUBLE)
           FROM {csv}"""),
}


def digest(rows):
    """Row count and hash of the sorted rows; empty strings read as null."""
    canon = sorted("|".join("NULL" if v is None or v == "" else repr(v) if isinstance(v, float)
                            else str(v) for v in r) for r in rows)
    return len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest()


def sales_oracle(con, feed_dir):
    """Per-frame (rows, hash) of the reference semantics, cached per feed."""
    cache = os.path.join(feed_dir, "_oracle.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    files = sorted(glob.glob(os.path.join(feed_dir, "*.csv")))
    for stmt in SALES_ORACLE.format(files=repr(files)).split(";"):
        if stmt.strip():
            con.execute(stmt)
    res = {name: digest(con.sql(q).fetchall()) for name, (q, _) in SALES_FRAMES.items()}
    with open(cache, "w") as f:
        json.dump(res, f)
    return res


def check_sales(con, feed_dir, out_dir):
    """Names of the K1 frames whose CSV disagrees with the oracle."""
    want = sales_oracle(con, feed_dir)
    bad = []
    for name, (_, q) in SALES_FRAMES.items():
        csv = os.path.join(out_dir, f"{name}.csv")
        try:
            got = digest(con.sql(q.format(
                csv=f"read_csv('{csv}', header=true, all_varchar=true)")).fetchall())
        except Exception as e:  # missing or unreadable output
            log(f"check {out_dir}/{name}: {e}")
            got = None
        if got is None or list(got) != list(want[name]):
            log(f"check {out_dir}/{name}: got {got}, oracle {want[name]}")
            bad.append(name)
    return bad, {name: want[name][0] for name in want}


def check_llm(con, data_dir, check_dir, oracle_sql):
    """Queries whose result disagrees with SparkEntry.oracleSql in DuckDB,
    compared as tools/check_oracle.py does; oracle digests are cached per
    data directory."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import frame_hash, TABLES
    cache_path = os.path.join(data_dir, "_oracle.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = []
    for q, sql in sorted(oracle_sql.items()):
        key = hashlib.sha256(sql.encode()).hexdigest()
        if cache.get(q, {}).get("sql") != key:
            res = con.sql(sql)
            cols, rows = list(res.columns), res.fetchall()
            cache[q] = {"sql": key, "cols": sorted(cols), "rows": len(rows),
                        "hash": frame_hash(rows, cols)}
        want = cache[q]
        parts = sorted(glob.glob(os.path.join(check_dir, q, "*.parquet")))
        ok = bool(parts)
        if ok:
            res = con.sql(f"SELECT * FROM read_parquet({parts!r})")
            cols, rows = list(res.columns), res.fetchall()
            ok = (sorted(cols) == want["cols"] and len(rows) == want["rows"]
                  and frame_hash(rows, cols) == want["hash"] and len(rows) > 0)
        if not ok:
            log(f"check {q}: spark output disagrees with the DuckDB oracle")
            bad.append(q)
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return bad


# --------------------------------------------------------------------------
# one run
# --------------------------------------------------------------------------

def tail_latency(xs):
    """The highest percentile with at least ten samples above it, but at
    least p90 (the maximum when there are fewer than ten samples).
    Returns (value, percentile, samples above)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), 0.0, 0
    k = max(n - 11, math.ceil(0.9 * n) - 1)
    return s[k], 100.0 * (k + 1) / n, n - k - 1


def jvm_command(classes, args):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = ":".join([os.path.join(classes, "harness.jar"), os.path.join(classes, "main.jar"),
                   os.path.join(spark_jars(), "*")])
    return ["java", *JVM_HEAP, "-XX:-UsePerfData", *opens,
            f"-Djava.io.tmpdir={args['work']}/jtmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()]


def run_jvm(classes, args, timeout, train=False):
    """Launch the harness with `args`; returns its exit code, or None when
    it ran past `timeout`. The JVM maps the build's class-data archive, or
    with `train` writes it. Its output goes to jvm.log in its work
    directory; it is killed and reaped on every way out, an interrupt
    included."""
    os.makedirs(os.path.join(args["work"], "jtmp"), exist_ok=True)
    archive = os.path.join(classes, "classes.jsa")
    with open(os.path.join(args["work"], "jvm.log"), "w") as logf:
        cmd = jvm_command(classes, {**args, "launched": repr(time.time())})
        cmd.insert(1, f"-XX:{'ArchiveClassesAtExit' if train else 'SharedArchiveFile'}={archive}")
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def run_workload(workload, seed, seconds, trace, size="full"):
    """Run one workload; returns ({metric group: result line}, summary)."""
    classes = build()
    t_in = time.time()
    deadline = t_in + JVM_TIMEOUT_S
    data = inputs(workload, seed, size)
    log(f"{workload}: inputs ready in {time.time() - t_in:.1f} s at {data}")
    work = os.path.join(BUILD, "tmp", f"run-{os.getpid()}-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        load_start = os.getloadavg()[0]
        # Cold set-ups: JVM launch to session ready, each in a fresh JVM;
        # the workload's JVM below makes the last one. Smoke runs only that.
        setups = []
        t_setup = time.time()
        for i in range(SETUPS - 1 if size == "full" else 0):
            args = {"mode": "setup", "work": os.path.join(work, f"setup{i}"),
                    "cores": CORES, "result": os.path.join(work, f"setup{i}.json")}
            if run_jvm(classes, args, max(10, deadline - time.time())) != 0:
                fail_jvm(args)
            with open(args["result"]) as f:
                setups.append(json.load(f))
        args = {
            "mode": "run", "workload": workload, "input": data, "work": work,
            "seconds": seconds, "trace": int(trace), "cores": CORES,
            "warmup_passes": WARMUP_PASSES if size == "full" else 1,
            "warmup_max_s": WARMUP_MAX_S,
            "min_passes": MIN_PASSES[workload] if size == "full" else 1,
            "result": os.path.join(work, "result.json"),
            "trace_out": os.path.join(BUILD, "traces", f"{workload}-seed{seed}.json"),
        }
        if workload == "llm_curation":
            args["queries"] = ",".join(LLM_QUERIES)
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        t_main = time.time()
        if run_jvm(classes, args, max(10, deadline - time.time())) != 0:
            fail_jvm(args)
        with open(args["result"]) as f:
            res = json.load(f)
        setups.append(res["setup"])
        t_check = time.time()
        lines, info = summarize(workload, res, setups, data, work, trace, load_start, args)
        info["wall_s"] = {"inputs": round(t_setup - t_in, 2), "setup_jvms": round(t_main - t_setup, 2),
                          "workload_jvm": round(t_check - t_main, 2),
                          "checks": round(time.time() - t_check, 2)}
        return lines, info
    finally:
        shutil.rmtree(work, ignore_errors=True)


def fail_jvm(args):
    with open(os.path.join(args["work"], "jvm.log"), errors="replace") as f:
        sys.stderr.write("".join(f.readlines()[-40:]))
    sys.exit(f"perfbench: harness ({args['mode']}) failed or timed out")


def input_rows(workload, data):
    if workload == "llm_curation":
        import pyarrow.parquet as pq
        return sum(pq.ParquetFile(p).metadata.num_rows
                   for p in glob.glob(os.path.join(data, "*.parquet")))
    return sum(sum(1 for _ in open(p)) - 1
               for p in glob.glob(os.path.join(data, "**", "*.csv"), recursive=True))


def summarize(workload, res, setups, data, work, trace, load_start, args):
    timed = [o for p in [res["first_pass"]] + res["warmup"] + res["passes"] + res["traced_passes"]
             for o in p["ops"]]
    for o in timed:
        if o["error"]:
            log(f"op {o['name']} failed: {o['error']}")
    # Output checks: a frame or query that disagrees fails every timed
    # operation that produced it.
    con = duck(work)
    bad_ops = set()
    if workload == "sales_batch":
        bad, counts = check_sales(con, data, os.path.join(work, "out"))
        # K2: the tables the last pass left behind hold the rows of its CSVs.
        jdbc_ok = res["checks"]["jdbc"] == counts
        if bad or not jdbc_ok:
            log(f"check: frames {bad} disagree; jdbc tables {res['checks']['jdbc']}, csv rows {counts}")
            bad_ops.add("sales_job")
    else:
        errs = res["checks"]["errors"]
        for q, e in errs.items():
            log(f"check {q} failed to run: {e}")
        missing = [q for q in LLM_QUERIES if q not in res["checks"]["oracle_sql"]]
        for q in missing:
            log(f"check {q}: no oracle SQL")
        bad_ops |= set(errs) | set(missing) | set(check_llm(
            con, data, os.path.join(work, "check"), res["checks"]["oracle_sql"]))
    con.close()
    attempted = len(timed)
    failed = sum(1 for o in timed if o["error"] or o["name"] in bad_ops)

    passes = [p["seconds"] for p in res["passes"]]
    ops = [o["seconds"] for p in res["passes"] for o in p["ops"] if not o["error"]]
    # The median operation: each operation's median latency over the
    # passes, then the median of those. A plain median over a mix of
    # queries flips between neighbouring queries from run to run.
    by_name = {}
    for p in res["passes"]:
        for o in p["ops"]:
            if not o["error"]:
                by_name.setdefault(o["name"], []).append(o["seconds"])
    op_medians = [statistics.median(v) for v in by_name.values()]
    pass_s = statistics.median(passes)
    rows = input_rows(workload, data)
    tail, pct, beyond = tail_latency(ops)
    e2e = {
        "setup_s": statistics.median(s["ready_s"] for s in setups),
        "first_pass_s": res["first_pass"]["seconds"],
        "pass_s": pass_s,
        "rows_per_s": rows / pass_s,
        "op_p50_s": statistics.median(op_medians) if op_medians else float("nan"),
        "op_tail_s": tail,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    info = {
        "workload": workload, "input_rows": rows, "nproc": res["cores"],
        "heap_mb": round(res["heap_mb"]), "load1_start": load_start,
        "load1_end": res["load1_end"],
        "warmup_s": [round(p["seconds"], 3) for p in res["warmup"]],
        "warmup_settled": res["warmup_settled"],
        "setups": [[round(x[k], 3) for k in ("ready_s", "build_s", "warmup_s")] for x in setups],
        "pass_list": [round(p["seconds"], 3) for p in res["passes"]],
        "first_pass_ops": {o["name"]: round(o["seconds"], 3) for o in res["first_pass"]["ops"]},
        "last_pass_ops": {o["name"]: round(o["seconds"], 3) for o in res["passes"][-1]["ops"]},
        "passes": len(passes), "ops": len(ops),
        "op_tail_percentile": round(pct, 1), "op_tail_beyond": beyond,
        "fail_ratio": failed / attempted,
    }
    groups = {"end_to_end": e2e}
    if trace:
        info["trace_file"] = os.path.relpath(args["trace_out"], ROOT)
        info["self_s"] = {k[5:]: v for k, v in res["layers"].items() if k.startswith("self.")}
        groups["per_layer"] = {k: v for k, v in res["layers"].items() if not k.startswith("self.")}
        for k in ("build_s", "warmup_s"):
            groups["per_layer"]["session." + k] = statistics.median(x[k] for x in setups)
    units = metric_units()
    lines = {g: {"correct": failed == 0, "attempted": attempted, "failed": failed,
                 "metrics": {k: {"value": v, "unit": units[k]} for k, v in ms.items()}}
             for g, ms in groups.items()}
    return lines, info


def metric_units():
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for g in ("end_to_end", "per_layer") for m in spec[g]}


def smoke():
    """Every workload at minimal size in one traced run each; both metric
    groups of BENCHMARK.json must come out complete, with their units."""
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    t0 = time.time()
    problems = []
    for w in spec["workloads"]:
        lines, info = run_workload(w["name"], 1, 2, 1, size="smoke")
        for group, line in lines.items():
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            if got != want:
                problems.append(f"{w['name']} {group}: metrics {sorted(got)} != {sorted(want)}")
        if not lines["end_to_end"]["correct"]:
            problems.append(f"{w['name']}: outputs incorrect")
        log(f"smoke {w['name']}: {json.dumps(info)}")
    log(f"smoke took {time.time() - t0:.1f} s")
    if problems:
        sys.exit("perfbench smoke failed:\n  " + "\n  ".join(problems))
    print(json.dumps({"smoke": "ok", "seconds": time.time() - t0}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    # A terminated run still stops its JVM and removes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.smoke:
        return smoke()
    if not a.workload:
        ap.error("--workload is required")
    lines, info = run_workload(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(info))
    print(json.dumps(lines["per_layer" if a.trace else "end_to_end"]))


if __name__ == "__main__":
    main()

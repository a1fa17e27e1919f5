#!/usr/bin/env python3
"""Repository benchmark: one workload run, one JSON result line.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 14 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline) and caches the classpath under
`.bench_build/perfbench`; later runs rebuild only when a source or build
file changed. The JVM (`perfbench.Main`) sets up, warms up and measures
the workload; this script then checks the outputs (the catalog against
its DuckDB oracle, row counts on every run and values on traced runs)
and prints the result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones in BENCHMARK.json;
with `--trace 1` the per-layer ones, from a second, traced pass. Every
run also writes its full record (steal, GC, lookups, reports) to
`.bench_build/perfbench/records/`; traced runs write their spans and
jobs to `.bench_build/perfbench/traces/`.
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
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("catalog", "mirror")
UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_ms": "ms", "ok_share": "share"}
JVM_TIMEOUT_S = 150
ORACLE_TIMEOUT_S = 15
SBT_TIMEOUT_S = 850
# Spark 4 on JDK 17 outside spark-submit (same list as the root build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run(cmd, cwd, timeout, env=None, stdout=subprocess.PIPE, stderr=None):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, out


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    for f in files:
        if not os.path.isfile(f):
            raise RuntimeError(f"missing build input {os.path.relpath(f, ROOT)}")
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build (when sources changed) and return the run classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and benchmark (sbt, offline)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
    t0 = time.time()
    rc, out = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                  HERE, SBT_TIMEOUT_S, env=env, stderr=subprocess.STDOUT)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(out[-4000:])
        raise RuntimeError(f"build failed (rc={rc})")
    cp = lines[-1].strip()
    log(f"built in {time.time() - t0:.0f} s")
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def corpus_dir():
    """The parquet corpus the catalog reads, as TESTDATA.md records it:
    the directory of the scale factor its text names for benchmarking."""
    path = os.path.join(ROOT, "TESTDATA.md")
    if not os.path.isfile(path):
        raise RuntimeError("TESTDATA.md (corpus location) is missing")
    text = open(path).read()
    sf = re.search(r"bench uses sf([0-9.]+)", text)
    row = sf and re.search(r"\|\s*" + re.escape(sf.group(1).rstrip(".")) + r"\s*\|\s*`([^`]+)`", text)
    if not row or not os.path.isdir(row.group(1)):
        raise RuntimeError("TESTDATA.md names no readable bench corpus")
    return row.group(1).rstrip("/")


def heap():
    """JVM heap: half the machine, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return f"{max(2, min(4, kb // 2 // 1048576))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


# ── catalog output checks: the rules of tools/selfcheck.py ──────────────

def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _kind(dtype):
    return {"i": "i", "u": "i", "f": "f", "b": "b"}.get(dtype.kind, "o")


def _cell_eq(a, b):
    if a is None and b is None:
        return True
    try:
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    except (TypeError, ValueError):
        pass
    return str(a) == str(b)


def result_hash(df):
    """Order-free hash of a result under the same rules: column names,
    dtype kinds, and cell values (floats compared as floats)."""
    cols = sorted(df.columns)
    kinds = [_kind(df[c].dtype) for c in cols]

    def canon(v, k):
        if v is None:
            return "None"
        if k == "f" or isinstance(v, float):
            try:
                f = float(v)
                return "nan" if math.isnan(f) else repr(f)
            except (TypeError, ValueError):
                pass
        return str(v)

    rows = sorted(json.dumps([canon(v, k) for v, k in zip(r, kinds)])
                  for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(json.dumps([cols, kinds]).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


def compare(exp, got):
    """None when equal under the oracle rules, else the first difference."""
    exp, got = _norm(exp), _norm(got)
    if list(exp.columns) != list(got.columns):
        return f"columns {list(exp.columns)} != {list(got.columns)}"
    if len(exp) != len(got):
        return f"rows {len(exp)} != {len(got)}"
    for c in exp.columns:
        if _kind(exp[c].dtype) != _kind(got[c].dtype):
            return f"dtype kind of {c}: {exp[c].dtype} != {got[c].dtype}"
        for i, (a, b) in enumerate(zip(exp[c].tolist(), got[c].tolist())):
            if not _cell_eq(a, b):
                return f"{c}[{i}]: {a!r} != {b!r}"
    return None


def sql_hash(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def duckdb_views(corpus, memory="2GB", threads=4):
    """DuckDB over the corpus tables, in memory only: an oracle that
    outgrows `memory` fails instead of spilling to disk."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET temp_directory = ''")
    con.execute(f"SET memory_limit = '{memory}'")
    con.execute(f"SET threads = {threads}")
    for t in TABLES:
        p = os.path.join(corpus, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle(con, sql, timeout, count=False):
    """Runs an oracle query, interrupting it after `timeout` seconds."""
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        if count:
            return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        return con.execute(sql).fetchdf()
    finally:
        timer.cancel()


def check_catalog(work, corpus, traced):
    """Failures among the shard's queries: a row count (every run) or a
    value (traced runs) that differs from the DuckDB oracle. The oracle's
    count and result hash come from catalog_oracle.json when it holds the
    same oracle SQL, else from running the oracle."""
    import duckdb
    with open(os.path.join(work, "catalog_check.json")) as f:
        chk = json.load(f)
    with open(os.path.join(HERE, "catalog_oracle.json")) as f:
        known = json.load(f)
    con = duckdb_views(corpus)
    bad = []
    for name in chk["queries"]:
        sql = chk["oracle"].get(name)
        if sql is None or name not in chk["rows"]:
            continue  # no oracle, or the query already failed in the JVM
        try:
            k = known.get(name, {})
            if k.get("sql_sha256") != sql_hash(sql):
                exp = oracle(con, sql, ORACLE_TIMEOUT_S)
                k = {"rows": len(exp), "result_sha256": result_hash(exp)}
            why = None if k["rows"] == chk["rows"][name] else \
                f"rows {k['rows']} != {chk['rows'][name]}"
            if traced and not why and "result_sha256" in k:
                files = glob.glob(os.path.join(work, "results", name, "*.parquet"))
                got = duckdb.query(f"SELECT * FROM read_parquet({files!r})").fetchdf()
                if result_hash(got) != k["result_sha256"]:
                    why = compare(oracle(con, sql, ORACLE_TIMEOUT_S), got) or \
                        "result hash differs"
            elif traced and not why:
                log(f"{name}: no oracle result hash; row count checked only")
        except Exception as e:  # an oracle that cannot run in time checks nothing
            log(f"oracle for {name} did not run: {e}")
            continue
        if why:
            bad.append(name)
            log(f"WRONG {name}: {why}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    corpus = corpus_dir() if a.workload == "catalog" else ""
    work = os.path.join(OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        os.makedirs(os.path.join(work, "tmp"))
        cmd = (["java", f"-Xmx{heap()}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
                  "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--work", work, "--corpus", corpus,
                  "--weights", os.path.join(HERE, "catalog_weights.json")])
        with open(os.path.join(work, "jvm.log"), "w") as errlog:
            rc, out = run(cmd, ROOT, JVM_TIMEOUT_S, stderr=errlog)
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(l for l in f if l.startswith("[perfbench]")))
        lines = [l for l in out.splitlines() if l.startswith("{")]
        rec = json.loads(lines[-1]) if lines else {}
        if rc != 0 or "error" in rec or not rec:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise RuntimeError(f"workload run failed (rc={rc}): {rec.get('error')}")

        attempted, failed = rec["attempted"], rec["failed"]
        if a.trace:
            attempted += rec["traced_attempted"]
            failed += rec["traced_failed"]
        if a.workload == "catalog":
            t0 = time.time()
            wrong = check_catalog(work, corpus, bool(a.trace))
            log(f"oracle check: {time.time() - t0:.1f} s")
            rec["wrong_queries"] = wrong
            failed += len(wrong)
        rec["failed_share"] = failed / attempted
        rec["ok_share"] = 1.0 - rec["failed_share"]
        if a.trace:
            shown = {k: {"value": v, "unit": layer_unit(k)} for k, v in rec["layers"].items()}
            dest = os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}")
            os.makedirs(dest, exist_ok=True)
            for f in ("spans.jsonl", "jobs.jsonl"):
                shutil.copy(os.path.join(work, f), dest)
        else:
            shown = {k: {"value": rec[k], "unit": u} for k, u in UNITS.items()}
        os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
        with open(os.path.join(OUT, "records",
                               f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
        log(f"{a.workload} seed={a.seed}: " + ", ".join(
            f"{k}={rec.get(k)}" for k in ("setup_s", "wall_s", "op_p50_ms", "op_p75_ms", "ops",
                                          "env.steal_ms", "env.gc_ms", "rss_peak_mb",
                                          "heap_retained_mb", "lookup_p50_ms",
                                          "monitor_p50_ms", "store_bytes_per_row") if k in rec))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": shown}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def layer_unit(name):
    if name.endswith("_ms") or name == "apply.ms":
        return "ms"
    if "bytes" in name:
        return "bytes/row" if name.endswith("_per_row") else "bytes"
    if name.endswith(("core_util", "coverage")):
        return "share"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_pct"):
        return "%"
    return "count"


if __name__ == "__main__":
    try:
        main()
    except Exception as e:
        log(f"error: {e}")
        sys.exit(1)

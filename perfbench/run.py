#!/usr/bin/env python3
"""graft benchmark: one command, three seeded workloads, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles `src/main/scala`
together with `perfbench/src` (scalac from the Spark distribution's own
jars) into `.bench_build/classes/<source digest>`; later runs reuse it.
Everything a run writes stays under `.bench_build/`.

Workloads (see perfbench/README.md):
  prep_pipeline  cast/filter -> tokenize -> stride -> specials/mask -> prompt
                 -> batch -> collate -> sharded parquet, on a seeded corpus
  neardup_dedup  minhash -> capped LSH -> verify -> components -> survivors,
                 plus the capped prefix-filter join, on a seeded corpus
  catalog_small  every catalog query once on tiny tables, in a seed-permuted
                 order, each result compared with DuckDB (the oracle check;
                 not one of the timed workloads in BENCHMARK.json)

With --trace 0 the last line carries the end-to-end metrics, with
--trace 1 the per-layer ones. The lines before it print every metric by
name and unit, the methodology, and where the detail file went.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("prep_pipeline", "neardup_dedup", "catalog_small")
CATALOG_DATA = HERE / "data" / "catalog_sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
HEAP = "3g"  # fixed heap and young generation keep the resident set repeatable
YOUNG = "768m"
GC = "ParallelGC"  # no concurrent collector threads competing with the four task threads
# Spark 4 on JDK 17 outside spark-submit needs these (the list build.sbt uses)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
END_TO_END = [  # name, unit
    ("setup_s", "s"), ("docs_per_s", "1/s"), ("query_p50_ms", "ms"),
    ("queries_per_s", "1/s"), ("peak_rss_mb", "MB"),
]
# printed, not in the result line: fail_ratio is 0 on a correct run (its
# counts are the result's attempted/failed), and a run has too few
# queries for ten samples beyond p95
REPORTED_ONLY = [("query_p95_ms", "ms"), ("fail_ratio", "ratio")]
PER_LAYER = [  # name, unit; normalized per operation (pass or query)
    ("mapper.apply_ms", "ms"), ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"),
    ("plan.planning_ms", "ms"),
    ("kernel.word_shingles_ns_row", "ns/row"), ("kernel.minhash_sig_ns_row", "ns/row"),
    ("kernel.intersect_size_ns_row", "ns/row"), ("kernel.pair_combos_ns_row", "ns/row"),
    ("kernel.fused_share", "ratio"), ("codegen.compile_ms", "ms"), ("codegen.classes", "count"),
    ("op.tokenize_ms", "ms"), ("op.stride_pad_ms", "ms"), ("op.template_ms", "ms"),
    ("op.batch_collate_ms", "ms"), ("prep.tokens", "count"), ("prep.windows", "count"),
    ("collate.pad_share", "ratio"),
    ("op.signature_ms", "ms"), ("op.candidates_ms", "ms"), ("op.verify_ms", "ms"),
    ("op.components_ms", "ms"), ("op.survivors_ms", "ms"), ("op.prefix_join_ms", "ms"),
    ("dedup.candidate_pairs", "count"), ("dedup.verified_pairs", "count"),
    ("dedup.verify_yield", "ratio"),
    ("op.sink_write_ms", "ms"), ("sink.bytes_per_input_byte", "ratio"), ("sink.files", "count"),
    ("scan.bytes_read", "bytes"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("exec.run_ms", "ms"), ("exec.cpu_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.busy_share", "ratio"), ("task.skew", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_ms", "ms"), ("spill.bytes", "bytes"), ("exec.peak_mem_bytes", "bytes"),
    ("trace.overhead_share", "ratio"),
]
JVM_TIMEOUT_S = 165
CATALOG_TIMEOUT_S = 1800  # every catalog query once, several of them cold


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sub = shutil.which("spark-submit")
    if sub:
        cands.append(Path(sub).resolve().parent.parent / "jars")
    cands.append(Path("/opt/spark/jars"))
    try:
        import pyspark  # noqa: the pip distribution ships the same jars
        cands.append(Path(pyspark.__file__).parent / "jars")
    except ImportError:
        pass
    for c in cands:
        if list(c.glob("spark-sql_2.13-*.jar")) and list(c.glob("scala-compiler-*.jar")):
            return c
    die("no Spark 4 / Scala 2.13 distribution found (set SPARK_HOME)")


def java_bin():
    if os.environ.get("JAVA_HOME"):
        j = Path(os.environ["JAVA_HOME"]) / "bin" / "java"
        if j.exists():
            return str(j)
    j = shutil.which("java")
    if not j:
        die("no java on PATH")
    return j


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        die(f"program sources not found at {main.relative_to(ROOT)}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def source_digest(srcs):
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    return h.hexdigest()


def build(jars, srcs, digest):
    """Compile program + benchmark once per source digest."""
    out = BUILD / "classes" / digest[:16]
    if (out / ".ok").exists():
        return out, 0.0
    t0 = time.time()
    for old in (BUILD / "classes").glob("*"):
        shutil.rmtree(old, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs))
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-cp", f"{jars}/*", f"@{argfile}"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        print(r.stdout[-3000:], r.stderr[-3000:], file=sys.stderr)
        die("compile failed", 3)
    (out / ".ok").write_text(digest)
    return out, time.time() - t0


def commit_of():
    if (ROOT / ".git").exists():
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    return "unknown"


def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default)."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = q * (len(s) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def host_counters():
    """(all cpu ticks, steal ticks, I/O stall us) of the machine, so every
    result records how much of the run the host took away; zeros where
    /proc does not have them."""
    ticks = steal = stall = 0
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        ticks, steal = sum(v), (v[7] if len(v) > 7 else 0)
        with open("/proc/pressure/io") as f:
            stall = int(f.readline().split("total=")[1])
    except (OSError, ValueError, IndexError):
        pass
    return ticks, steal, stall


def run_jvm(jars, classes, args, work, start_ms):
    cmd = [java_bin(), f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-XX:+Use{GC}", "-XX:-UsePerfData", "-Xss4m", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--data", str(CATALOG_DATA),
            "--out", str(work / "result.json"), "--start-ms", str(start_ms)]
    if args.fail_op >= 0:
        cmd += ["--fail-op", str(args.fail_op)]
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=CATALOG_TIMEOUT_S if args.workload == "catalog_small"
                       else JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = -9
    finally:
        log.close()
    if rc != 0 or not (work / "result.json").exists():
        tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
        print(tail, file=sys.stderr)
        die(f"benchmark JVM exited with {rc}", 4)
    return json.loads((work / "result.json").read_text())


# ---- catalog oracle: the comparison rules of tools/verify_local.py ----

def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _pandas_sorted(tbl):
    df = tbl.to_pandas()
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def oracle_failures(work, names):
    """{query: reason} for every query whose first result differs from its
    DuckDB oracle: column names, row counts, then exact values."""
    import duckdb
    import pyarrow.parquet as pq
    oracle = json.loads((work / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{CATALOG_DATA / t}.parquet')")
    bad = {}
    for name in names:
        sql = oracle.get(name)
        resdir = work / "results" / name
        if sql is None:
            bad[name] = "no oracle sql"
            continue
        if not resdir.exists():
            bad[name] = "no spark result"
            continue
        try:
            s_tbl = pq.read_table(str(resdir))
            d_tbl = con.execute(sql).fetch_arrow_table()
            if sorted(s_tbl.column_names) != sorted(d_tbl.column_names):
                bad[name] = f"columns {sorted(s_tbl.column_names)} != {sorted(d_tbl.column_names)}"
                continue
            s_df, d_df = _pandas_sorted(s_tbl), _pandas_sorted(d_tbl)
            if len(s_df) != len(d_df):
                bad[name] = f"rows {len(s_df)} != {len(d_df)}"
                continue
            s_rows = [tuple(_norm(v) for v in r) for r in s_df.itertuples(index=False, name=None)]
            d_rows = [tuple(_norm(v) for v in r) for r in d_df.itertuples(index=False, name=None)]
            if s_rows != d_rows:
                bad[name] = f"{sum(a != b for a, b in zip(s_rows, d_rows))} differing rows"
        except Exception as exc:  # an unscoreable result is a failure
            bad[name] = f"compare error: {str(exc).splitlines()[0] if str(exc) else type(exc).__name__}"
    con.close()
    return bad


def end_to_end(res, workload):
    """A query is one operation the user waits for: a catalog query, or
    one pipeline pass over the corpus."""
    ops = [o for o in res["ops"] if not o["traced"]]
    ok = [o for o in ops if o["ok"]]
    lat = [o["wall_ms"] for o in ok]
    ok_s = sum(lat) / 1000.0
    if workload == "catalog_small":  # rows the queries' scans read
        docs_per_s = res["input_rows"] / ok_s if ok_s else 0.0
    else:  # median over passes, robust to one slow pass
        docs_per_s = quantile([o["docs"] / (o["wall_ms"] / 1000.0) for o in ok], 0.5)
    return {
        "setup_s": res["setup_s"],
        "docs_per_s": docs_per_s,
        "query_p50_ms": quantile(lat, 0.5),
        "query_p95_ms": quantile(lat, 0.95),
        "queries_per_s": len(lat) / ok_s if ok_s else 0.0,
        "peak_rss_mb": res["peak_rss_mb"],
        "fail_ratio": (len(ops) - len(ok)) / len(ops) if ops else 1.0,
    }, len(lat)


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fail-op", type=int, default=-1, help="make operation N throw (self-test)")
    args = ap.parse_args()

    srcs = sources()
    jars = spark_jars()
    digest = source_digest(srcs)
    classes, build_s = build(jars, srcs, digest)

    if args.workload == "catalog_small" and not CATALOG_DATA.is_dir():
        die(f"catalog tables missing at {CATALOG_DATA.relative_to(ROOT)}")

    work = BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    results_dir = BUILD / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    try:
        host0 = host_counters()
        start_ms = int(time.time() * 1000)
        res = run_jvm(jars, classes, args, work, start_ms)
        host1 = host_counters()
        failed_labels = {}
        if args.workload == "catalog_small":
            names = sorted({o["label"] for o in res["ops"]})
            failed_labels = oracle_failures(work, names)
            for o in res["ops"]:
                if o["label"] in failed_labels:
                    o["ok"] = False
        attempted = len(res["ops"])
        failed = sum(1 for o in res["ops"] if not o["ok"])
        failures = res["failures"] + [f"{q}: {why}" for q, why in sorted(failed_labels.items())]

        methodology = dict(res["methodology"])
        ticks = host1[0] - host0[0]
        methodology.update(host_steal_share=round((host1[1] - host0[1]) / ticks, 4) if ticks else 0.0,
                           host_io_stall_s=round((host1[2] - host0[2]) / 1e6, 3))
        methodology.update(commit=commit_of(), source_digest=digest, heap=HEAP,
                           build_s=round(build_s, 3), python=sys.version.split()[0])
        detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "attempted": attempted, "failed": failed, "failures": failures[:40],
                  "methodology": methodology, "ops": res["ops"],
                  "check_metrics": res["check_metrics"]}
        if args.trace:
            metrics = res["per_layer"]
            shown = [(k, metrics.get(k, 0.0), u) for k, u in PER_LAYER]
            detail.update(per_layer=metrics, self_ms_per_op=res["self_ms_per_op"])
            trace_dst = results_dir / f"{args.workload}-seed{args.seed}.trace.jsonl"
            shutil.copyfile(res["trace_file"], trace_dst)
            detail["trace_file"] = str(trace_dst.relative_to(ROOT))
            out_metrics = {k: {"value": v, "unit": u} for k, v, u in shown}
        else:
            e2e, samples = end_to_end(res, args.workload)
            detail.update(end_to_end=e2e, samples=samples)
            shown = [(k, e2e[k], u) for k, u in END_TO_END + REPORTED_ONLY]
            out_metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        detail_path = results_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        detail_path.write_text(json.dumps(detail, indent=1))

        print(f"workload {args.workload}  seed {args.seed}  attempted {attempted}  failed {failed}"
              + (f"  latency samples {detail['samples']}" if not args.trace else ""))
        for k, v, u in shown:
            print(f"  {k:<32} {v:>16.6g} {u}")
        if args.trace:
            print("  self time per layer (ms per operation):")
            for k, v in sorted(res["self_ms_per_op"].items(), key=lambda kv: -kv[1]):
                print(f"    {k:<30} {v:12.3f}")
        for f in failures[:10]:
            print(f"  FAILED {f}")
        print("methodology " + json.dumps(methodology, sort_keys=True))
        print(f"detail {detail_path.relative_to(ROOT)}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": out_metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

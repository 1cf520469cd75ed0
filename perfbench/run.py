#!/usr/bin/env python3
"""Repository benchmark: EDF ingest, EDF window reads and a declared-query mix.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                             [--scale full|smoke]

Workloads (each a closed loop with one caller; Spark runs local[nproc] with
nproc shuffle partitions, in one benchmark JVM):

  edf_etl           EdfPipeline.process over a seeded EDF set: an EDF+C file
                    in overwrite mode, then an EDF+D file with planted 2 h
                    gaps appended (same channels, later start). One pass is
                    one ingest of the set; one operation is one process call.
  edf_window_reads  viewer-style fetches over the same two files: 1-4
                    channels and a 10-60 s ts_us window, collected. One pass
                    is 50 fetches, at least two passes run; one operation is
                    one fetch. Not listed in BENCHMARK.json: three workloads
                    do not fit the run budget. Its layers are measured by
                    edf_etl's traced runs.
  query_mix         13 declared queries (SparkEntry.queries) over seeded
                    tables, in a seeded order, into the noop sink. One pass
                    is the 13 queries; one operation is one query.

With --trace 0 the last stdout line carries the end-to-end metrics:
  setup_s        median of five set-ups, three for query_mix (session
                 start, input generation and registration)
  pass_s         median wall time of one pass (edf_etl: EDF MiB / pass_s is
                 the ingest rate; query_mix: the mix time)
  op_geomean_ms  geometric mean of per-operation latency (query_mix: the
                 mix geomean, each query weighing the same)
The benchmark JVM's peak RSS (VmHWM) is printed in the summary lines and is the
per-layer jvm.peak_rss_mib: it follows the collector's heap sizing and spreads
too widely between runs to carry a bound.
With --trace 1 it carries the per-layer metrics of BENCHMARK.json, timed
from calls into each module's public functions, with Spark jobs, stages,
tasks and bytes attributed by a listener keyed by job group; the spans
(with self times) are written to
.bench_build/traces/trace-<workload>-<seed>.json.

Every operation's output is checked: ingest manifests and sampled binaries
against the generator, window row counts and exact sums against the
generator, query results against the DuckDB oracle (SparkEntry.oracleSql).
A mismatch is counted in "failed" and makes the run exit non-zero.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True  # nothing but the benchmark's files under perfbench/
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["edf_etl", "edf_window_reads", "query_mix"]
JVM_TIMEOUT_S = 165
# Spark on JDK 17 outside spark-submit (the list build.sbt passes too)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def heap_mib():
    """A quarter of the host's memory, between 1 and 3 GiB."""
    try:
        kib = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return 2048
    return max(1024, min(3072, kib // 4096))


def git_commit(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat: the hypervisor's share of the CPUs."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return 0, 0


def norm(df):
    """tools/check_oracle.py's normalisation: columns by name, rows by value."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_check(check):
    """Compare each checked query's Spark output with DuckDB over the same
    parquet tables; returns the list of mismatch messages."""
    import glob
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in check["tables"]:
        p = os.path.join(check["tables_dir"], f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    errs = []
    for q in check["queries"]:
        files = glob.glob(os.path.join(check["out_dir"], q, "*.parquet"))
        try:
            got = norm(pd.concat([pd.read_parquet(f) for f in files]))
            exp = norm(con.execute(check["oracle_sql"][q]).fetchdf())
            if list(got.columns) != list(exp.columns):
                errs.append(f"{q}: columns {list(got.columns)} vs {list(exp.columns)}")
            elif len(got) != len(exp):
                errs.append(f"{q}: rows {len(got)} vs {len(exp)}")
            else:
                pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            errs.append(f"{q}: {str(e).splitlines()[-1] if str(e) else type(e).__name__}")
    return errs


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--scale", default="full", choices=["full", "smoke"])
    a = ap.parse_args()

    root = os.getcwd()
    classpath, src_hash = build.ensure(root)
    # build output, run scratch and traces all live under the build directory
    work = os.path.join(root, build.BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(root, build.BUILD_DIR, "traces")
    os.makedirs(out_dir, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    trace_path = os.path.join(out_dir, f"trace-{a.workload}-{a.seed}.json")

    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS") and not k.startswith("SPARK_GRAFT_")}
    cmd = (["java", f"-Xmx{heap_mib()}m", "-Xss4m", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(os.path.dirname(os.path.abspath(__file__)), 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--scale", a.scale,
              "--work", work, "--out", result_path, "--trace-out", trace_path])
    log_path = os.path.join(work, "jvm.log")
    steal0, total0 = cpu_ticks()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
            # a terminated benchmark takes its JVM down with it
            signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not os.path.isfile(result_path):
            sys.stderr.write(open(log_path).read()[-6000:])
            sys.stderr.write(f"perfbench: benchmark JVM failed ({rc})\n")
            return 2
        res = json.load(open(result_path))
        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        if "check" in res:
            errs = oracle_check(res["check"])
            failed += len(errs)
            failures += [f"oracle {e}" for e in errs]
            if not res["check"]["queries"]:
                failures.append("oracle: no query output to check")
        steal1, total1 = cpu_ticks()
        stamp = dict(res["stamp"], git_commit=git_commit(root), source_hash=src_hash,
                     cpu_steal_frac=round((steal1 - steal0) / max(1, total1 - total0), 4))
        print(f"[perfbench] {a.workload} seed={a.seed} trace={a.trace} host "
              + json.dumps(stamp, sort_keys=True))
        print(f"[perfbench] samples {json.dumps(res['samples'])} warmup_s {res['warmup_s']:.3f}")
        per_pass = res["samples"]["ops"] // max(1, res["samples"]["passes"])
        print("[perfbench] pass_s each " + " ".join(
            f"{sum(s for _, s in res['ops'][i:i + per_pass]):.3f}"
            for i in range(0, len(res["ops"]), per_pass)))
        by_name = {}
        for n, secs in res["ops"]:
            by_name.setdefault(n, []).append(secs)
        for n, xs in by_name.items():
            print(f"[perfbench] op {n:<44} n={len(xs):<4} median {statistics.median(xs):10.4f} s")
        for m in res.get("named_metrics", []):
            if m["name"] == "error_rate":  # oracle mismatches are counted here, after the JVM
                m = dict(m, value=failed / max(1, attempted))
            print(f"[perfbench] {m['name']:<22} {m['value']:>14.4f} {m['unit']:<6} n={m['n']}")
        for name, secs in res.get("self_s", []):
            print(f"[perfbench] self {name:<44} {secs:10.4f} s")
        for f in failures:
            print(f"[perfbench] FAILED {f}")
        metrics = res.get("metrics", {})
        correct = failed == 0 and attempted > 0 and bool(metrics) and not (
            "check" in res and not res["check"]["queries"])
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Sync-daemon benchmark: one command for the `backfill`, `trickle` and
`board` workloads.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness together
with the engine sources (sbt, offline); later runs reuse the build while the
sources are unchanged. The harness JVM runs the workload and reports its
raw figures; this script checks the `board` outputs against the stored
DuckDB oracle fingerprints, adds the JVM's peak RSS, prints a report line
with every metric, and prints the result JSON as the last line.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = "perfbench"
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
WORK = os.path.join(BENCH, "work")
DATA = os.path.join(BENCH, "data", "sf0.01")
FINGERPRINTS = os.path.join(BENCH, "board_fingerprints.json")
SPARK_JARS = "/opt/spark/jars"
RUN_LIMIT_S = 170

# The metrics of the result line; see BENCHMARK.json.
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_ms": "ms",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "spark.jobs_per_unit": "count",
    "spark.tasks_per_unit": "count",
    "spark.cpu_ms_per_unit": "ms",
    "spark.gc_ms_per_unit": "ms",
    "spark.shuffle_bytes_per_unit": "bytes",
    "spark.core_util": "ratio",
    "spark.driver_ms_per_unit": "ms",
    "trace.overhead_pct": "%",
}
# Units of the other figures on the report line, by name, then by suffix.
UNITS = {"msgs_per_s": "msg/s", "streaming.offered_msgs_per_s": "msg/s",
         "operators.cpu_ms_per_kmsg": "ms", "sinks.bytes_per_msg": "bytes",
         "operators.core_util": "ratio", "sinks.batch_growth": "ratio",
         "streaming.backlog_growth": "ratio"}
SUFFIX_UNITS = [("_ms", "ms"), ("_s", "s"), (".s", "s"), ("_bytes", "bytes"),
                ("_pct", "%")]


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    return next((u for suf, u in SUFFIX_UNITS if name.endswith(suf)), "count")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)
                   + glob.glob(f"{BENCH}/src/**/*.scala", recursive=True)
                   + [f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties"])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_hash()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    tmp = os.path.abspath(os.path.join(BENCH, "target", "tmp"))
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=/root/.sbt/repositories "
        f"-Dsbt.offline=true -Xmx3g -XX:-UsePerfData -Djava.io.tmpdir={tmp}"))
    log = os.path.join(BENCH, "target", "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                             timeout=800)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_jvm(args, work, deadline):
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", f"{CLASSES}:{SPARK_JARS}/*"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--data", DATA])
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env["SPARK_GRAFT_SCRATCH"] = f"{work}/scratch"
    log_path = os.path.join(work, "jvm.log")
    out_path = os.path.join(work, "jvm.out")
    with open(out_path, "w") as out, open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=out, stderr=log, env=env,
                                start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            os.wait4(proc.pid, 0)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        rss_kb = 0
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                rss_kb = usage.ru_maxrss
                break
            if time.time() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                os.wait4(proc.pid, 0)
                fail(f"{args.workload} did not finish in time; log in {log_path}")
            time.sleep(0.1)
    code = os.waitstatus_to_exitcode(status)
    lines = open(out_path).read().splitlines()
    print("\n".join(lines[:-1]))
    if code != 0 or not lines or not lines[-1].startswith('{"result"'):
        sys.stderr.write("".join(open(log_path).readlines()[-60:]))
        fail(f"harness exited with {code}; log in {log_path}")
    return json.loads(lines[-1])["result"], rss_kb / 1024.0


def remove_stale_work():
    """Delete the work directories (`<workload>-<pid>`) of runs that were
    killed before they could clean up; records, logs and other files at
    the top of the work directory stay."""
    for d in glob.glob(os.path.join(WORK, "*-*")):
        pid = d.rsplit("-", 1)[1]
        if not os.path.isdir(d) or not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def fingerprint(con, sql):
    """Row count plus an order-insensitive hash of the rows, with columns
    taken in name order and numbers in one canonical text form."""
    rel = con.sql(sql)
    cols = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    total, n = 0, 0
    for row in rel.fetchall():
        text = "\x1f".join(canon(row[i]) for i in cols)
        total = (total + int.from_bytes(
            hashlib.blake2b(text.encode(), digest_size=8).digest(), "little")) % (1 << 64)
        n += 1
    return {"rows": n, "hash": f"{total:016x}"}


def canon(v):
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (int, float)) or type(v).__name__ == "Decimal":
        f = float(v)
        return str(int(f)) if f.is_integer() and abs(f) < 2 ** 53 else repr(f)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def board_check(out_dir):
    import duckdb
    want = json.load(open(FINGERPRINTS))
    con = duckdb.connect()
    bad = []
    for row, fp in sorted(want.items()):
        got = fingerprint(con, f"SELECT * FROM read_parquet('{out_dir}/{row}/*.parquet')")
        if got != fp:
            print(f"[perfbench] board row {row}: got {got}, oracle {fp}", file=sys.stderr)
            bad.append(row)
    return bad


def make_fingerprints(work):
    """Recompute the board oracle fingerprints with DuckDB from the rows'
    oracle SQL over the benchmark's data (`--make-fingerprints`)."""
    import duckdb
    sql_file = os.path.join(work, "oracle_sql.json")
    subprocess.check_call(["java", "-cp", f"{CLASSES}:{SPARK_JARS}/*",
                           "perfbench.Main", "--oracle-sql", sql_file])
    con = duckdb.connect()
    for path in glob.glob(f"{DATA}/*.parquet"):
        table = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    fps = {row: fingerprint(con, sql) for row, sql in json.load(open(sql_file)).items()}
    with open(FINGERPRINTS, "w") as fh:
        json.dump(fps, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=["backfill", "trickle", "board"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--make-fingerprints", action="store_true")
    args = p.parse_args()
    start = time.time()
    if not os.path.isdir("src/main/scala/graft") or not os.path.isdir(DATA):
        fail("run from the repository root: engine sources or benchmark data missing")
    build()
    work = os.path.abspath(os.path.join(WORK, f"{args.workload or 'fp'}-{os.getpid()}"))
    remove_stale_work()
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "scratch"))
    try:
        if args.make_fingerprints:
            make_fingerprints(work)
            return
        if not args.workload:
            fail("--workload is required")
        built_s = time.time() - start
        res, rss_mb = run_jvm(args, work, start + built_s + RUN_LIMIT_S)
        failed = int(res["failed"])
        if args.workload == "board":
            failed += len(board_check(res["check"]["board_out"]))
        figures = dict(res.get("e2e") or res.get("layers"))
        figures["peak_rss_mb"] = rss_mb
        units = dict(END_TO_END, **PER_LAYER)
        report = {k: {"value": v, "unit": units.get(k) or unit_of(k)}
                  for k, v in sorted(figures.items()) if v is not None}
        record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "figures": report, **res.get("record", {})}
        with open(os.path.join(WORK, f"record-{args.workload}-trace{args.trace}.json"), "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
        print(json.dumps({"report": args.workload, "metrics": report}))
        wanted = PER_LAYER if args.trace else END_TO_END
        metrics = {k: {"value": figures[k], "unit": u} for k, u in wanted.items()}
        print(json.dumps({"correct": failed == 0, "attempted": int(res["attempted"]),
                          "failed": failed, "metrics": metrics}))
    finally:
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"),
                        os.path.join(WORK, f"jvm-{args.workload}-trace{args.trace}.log"))
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

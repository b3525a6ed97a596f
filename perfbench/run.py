#!/usr/bin/env python3
"""One run of the graft state-store benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. The run then starts one JVM for the
workload, checks its outputs against computations made apart from graft
(the in-memory model and the plain-Scala join inside the JVM, the DuckDB
twins here), prints the host facts and operation counts, writes the full
record to perfbench/results/, and prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (named in BENCHMARK.json). Extra, for reference figures only:
--provider rocksdb|hdfs runs an spi_* workload against Spark's built-in
providers instead of graft.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from decimal import Decimal
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
RESULTS = BENCH / "results"
WORKLOADS = ("spi_ingest_ttl", "spi_lookup_scan", "stream_click_join", "pipe_near_dup")
RUN_TIMEOUT_S = 165
# The serial collector with a fixed young generation: no parallel GC
# threads that spin while a peer's vCPU is held by another guest (CPU time
# that would follow host noise, not the program), and a resident set that
# does not depend on how far a collector chose to grow its heap.
JVM_MEMORY = ["-XX:+UseSerialGC", "-Xmx2g", "-Xmn384m"]

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpu_times():
    """Aggregate /proc/stat CPU jiffies (user nice system idle iowait irq softirq steal)."""
    try:
        return [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:9]]
    except OSError:
        return [0] * 8


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha1()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile library + harness once per source state; returns the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die("no graft sources next to perfbench/ (expected build.sbt and src/main/scala)")
    stamp, cp_file = TARGET / "perfbench.stamp", TARGET / "classpath.txt"
    want = source_hash()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=850)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        die("sbt build failed")
    cp = next((l for l in reversed(proc.stdout.splitlines())
               if l.count(":") > 10 and "scala-library" in l), None)
    if not cp:
        sys.stderr.write(proc.stdout[-4000:])
        die("sbt did not print the runtime classpath")
    TARGET.mkdir(exist_ok=True)
    cp_file.write_text(cp.strip())
    stamp.write_text(want)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp.strip()


# ---------------------------------------------------------------- DuckDB twins
# Comparison as in tools/check_oracle.py: columns by name, rows as sorted
# multisets of normalized values, and integer-width-only type leniency.

TYPE_OK = {("INTEGER", "BIGINT"), ("BIGINT", "INTEGER"), ("SMALLINT", "INTEGER"),
           ("SMALLINT", "BIGINT"), ("TINYINT", "INTEGER"), ("TINYINT", "BIGINT")}


def norm(v):
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(norm(r[i]) for i in order) for r in rows)


def duckdb_checks(work, rec):
    """Compare each pipe query's parquet output with its DuckDB twin run
    over the same input corpus."""
    import duckdb
    spec = json.loads((work / "oracle.json").read_text())
    rows_out, problems = {}, []
    t0 = time.time()
    for name, c in spec.items():
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        con.execute(f"SET temp_directory = '{work / 'duckdb-tmp'}'")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{c['documents']}/*.parquet'")
        got = con.sql(f"SELECT * FROM '{c['output']}/*.parquet'")
        exp = con.sql(c["sql"])
        gcols, grows = canon([x.lower() for x in got.columns], got.fetchall())
        ecols, erows = canon([x.lower() for x in exp.columns], exp.fetchall())
        gt = dict(zip([x.lower() for x in got.columns], map(str, got.types)))
        et = dict(zip([x.lower() for x in exp.columns], map(str, exp.types)))
        rows_out[name] = len(grows)
        if gcols != ecols:
            problems.append(f"{name}: columns {gcols} != {ecols}")
        elif bad := [x for x in gcols if gt[x] != et[x] and (gt[x], et[x]) not in TYPE_OK]:
            problems.append(f"{name}: types differ on {bad}")
        elif grows != erows:
            problems.append(f"{name}: {len(grows)} rows differ from {len(erows)} DuckDB rows")
        con.close()
    rec["duckdb_check_s"] = round(time.time() - t0, 3)
    return rows_out, problems


# ---------------------------------------------------------------- per-layer set

def per_layer_names():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").is_file() else {}
    return [(m["name"], m["unit"]) for m in spec.get("per_layer", [])]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--provider", default="graft", choices=("graft", "rocksdb", "hdfs"))
    a = ap.parse_args()
    if a.provider != "graft" and not a.workload.startswith("spi_"):
        die("--provider applies to the spi_* workloads only")

    cp = build()
    started = time.time()  # the build, first run only, is not part of the run's budget
    work = BENCH / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    cmd = (["java"] + JVM_MEMORY + [f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--out", str(out), "--provider", a.provider])
    budget = RUN_TIMEOUT_S - (time.time() - started)
    cpu0 = cpu_times()
    log = open(work / "jvm.log", "w")
    # two glibc malloc arenas for RocksDB's native allocations, so native
    # memory does not grow with how many threads happened to allocate
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, env=env)
    try:
        rc = proc.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"workload exceeded {budget:.0f} s")
    finally:
        log.close()
    if rc != 0 or not out.is_file():
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        die(f"workload JVM exited with {rc}")
    rec = json.loads(out.read_text())
    # shares of the host's CPU time, over the whole JVM run, that went to
    # other guests (steal) and to waiting on I/O: the noise a number carries
    d = [b - a for a, b in zip(cpu0, cpu_times())]
    total = sum(d) or 1
    rec["host"]["cpu_steal_share"] = round(d[7] / total, 4)
    rec["host"]["cpu_iowait_share"] = round(d[4] / total, 4)
    rec["host"]["cpu_busy_share"] = round((total - d[3] - d[4]) / total, 4)

    problems = list(rec["mismatch_samples"])
    if a.workload == "pipe_near_dup":
        rows_out, dproblems = duckdb_checks(work, rec)
        problems += dproblems
        for name, n in rows_out.items():
            rec["per_layer"][f"ops.{name}_rows_out"] = {"value": n, "unit": "count"}
    correct = rec["mismatches"] == 0 and not problems
    rec["correct"] = correct
    rec["problems"] = problems

    if a.trace:
        # every per-layer metric is printed; a layer this workload does not
        # reach reads 0 (see perfbench/README.md for which apply where)
        metrics = {n: rec["per_layer"].get(n, {"value": 0, "unit": u}) for n, u in per_layer_names()}
    else:
        metrics = rec["end_to_end"]
    attempted = sum(rec["attempted"].values())

    RESULTS.mkdir(exist_ok=True)
    suffix = ".trace.json" if a.trace else ".json"
    tag = "" if a.provider == "graft" else f"-{a.provider}"
    (RESULTS / f"{a.workload}{tag}-seed{a.seed}{suffix}").write_text(json.dumps(rec, indent=1))
    shutil.rmtree(work, ignore_errors=True)

    host = rec["host"]
    print(f"host: nproc={host['nproc']} max_heap_mb={host['max_heap_mb']} "
          f"master={host['spark_master']} shuffle_partitions={host['shuffle_partitions']} "
          f"spark={host['spark_version']} rocksdb={host['rocksdb_version']} "
          f"loadavg=[{host['load_avg_at_start']}] provider={host['provider']} "
          f"steal={host['cpu_steal_share']} iowait={host['cpu_iowait_share']} busy={host['cpu_busy_share']}")
    print("attempted: " + " ".join(f"{k}={v}" for k, v in rec["attempted"].items()) + " failed: 0")
    print("setup_s samples (CPU s): " + " ".join(f"{x:.3f}" for x in rec["setup_s_samples"])
          + "; wall s: " + " ".join(f"{x:.3f}" for x in rec["setup_wall_s_samples"]))
    # wall-clock latency per round, kept for reading but not gated (see
    # perfbench/README.md, Steadiness)
    print("wall: " + " ".join(f"{k}={rec['notes'][k]:.1f}" for k in
                              ("batch_ms_p50", "pass_ms_p50", "version_ms_p50") if k in rec["notes"]))
    for p in problems:
        print(f"CHECK FAILED: {p}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": 0, "metrics": metrics}))


if __name__ == "__main__":
    main()

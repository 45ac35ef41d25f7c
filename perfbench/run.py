#!/usr/bin/env python3
"""graft benchmark: one workload per invocation, one JVM per run.

    python3 perfbench/run.py --workload queue_small_ops --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine's
sources together with the benchmark's (sbt, in this directory); later
runs reuse the build while the sources are unchanged. Each run starts in
a fresh working directory under .bench_build/runs, with its own Spark
warehouse and temp dirs, and removes it at the end.

Stdout carries an environment stamp, a detail line with every metric
the run measured, and, as the last line, the result:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end metrics, with --trace 1 its
per_layer metrics. See README.md in this directory.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BUILD_DIR = ROOT / ".bench_build"
JAR = HERE / "target" / "perfbench.jar"
# class-data-sharing archive of the classes a run loads: cuts JVM and
# Spark start-up from ~6.5 s to ~2.7 s on a 4-core VM
CDS = BUILD_DIR / "perfbench.jsa"
WORKLOADS = ["queue_small_ops", "queue_bulk", "ingest_stream", "batch_queries"]
# per-layer metric prefixes of the layers each workload calls
CALLS = {
    "queue_small_ops": ("queue.", "schema.", "trace."),
    "queue_bulk": ("queue.", "schema.", "trace."),
    "ingest_stream": ("queue.", "schema.", "stream.", "ops.", "trace."),
    "batch_queries": ("query.", "trace."),
}
XMX = "3g"
# C1 only: a run lasts tens of seconds, too short for C2 to settle, and
# C2's compile threads compete with the measured work for the cores.
# With C1 alone a run reaches its steady state within a few operations,
# which cut the run-to-run spread of queue round times severalfold.
# C1 alone gets a 48 MB code cache, which ingest_stream fills by its
# fifth trigger; flushing it then stalled that trigger by 1.5-3 s.
JVM_OPTS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]
JVM_LIMIT_S = 170
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = []
    for base in (ENGINE_SRC, HERE / "src"):
        files += [p for p in base.rglob("*") if p.suffix in (".scala", ".java")]
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    return sorted(files)


def source_stamp():
    h = hashlib.sha1()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(stamp):
    marker = BUILD_DIR / "build.stamp"
    if marker.exists() and marker.read_text() == stamp and JAR.exists():
        return
    marker.unlink(missing_ok=True)
    CDS.unlink(missing_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    t0 = time.time()
    log = BUILD_DIR / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        sys.stderr.write(log.read_text()[-4000:])
        die("build failed")
    # record the classes of one small run into the class-data archive
    work = BUILD_DIR / "runs" / f"cds-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        run_jvm(["--workload", "all", "--seed", "1", "--seconds", "1",
                 "--trace", "0", "--smoke", "1"], work, "1",
                [f"-XX:ArchiveClassesAtExit={CDS}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    marker.write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def java_version():
    try:
        r = subprocess.run([java_bin(), "-version"], capture_output=True, text=True, timeout=30)
        return (r.stderr.splitlines() or ["?"])[0]
    except (OSError, subprocess.SubprocessError):
        return "?"


def git_sha():
    if not (ROOT / ".git").exists():
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=30)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(main_args, work, cpus, jvm_opts):
    """Run perfbench.Main in `work`; returns its report, or None."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    spark_jars = Path(os.environ["SPARK_HOME"]) / "jars"
    cmd = [java_bin(), f"-Xmx{XMX}"] + JVM_OPTS + jvm_opts
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={work / 'spark-warehouse'}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-cp", f"{JAR}{os.pathsep}{spark_jars}/*",
        "perfbench.Main", *main_args, "--out", str(work / "result.json"),
    ]
    # SPARK_LOCAL_DIRS would override spark.local.dir
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=str(tmp))
    t0 = time.time()
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None
    result = work / "result.json"
    if not result.exists():
        return None
    res = json.loads(result.read_text())
    res["info"]["jvm_wall_s"] = round(time.time() - t0, 2)
    return res


def norm(v):
    """Typed, order-free cell normalization for the oracle compare."""
    import decimal
    import math
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.10g}"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    return str(v)


def oracle_check(work, res):
    """Compare each batch query's output with its DuckDB oracle over the
    same generated tables, as a multiset of normalized rows."""
    import duckdb
    import pyarrow.parquet as pq
    data = res["info"]["oracle_data"]
    out = Path(res["info"]["oracle_out"])
    oracle = json.loads((work / "oracle.json").read_text())
    con = duckdb.connect()
    for t in Path(data).iterdir():
        if t.suffix == ".parquet":
            con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    failures = []
    fault = os.environ.get("PERFBENCH_FAULT") == "drop_row"
    for name, sql in sorted(oracle.items()):
        try:
            spark_t = pq.read_table(out / name)
            if fault:
                spark_t, fault = spark_t.slice(1), False
            duck_t = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # a failed query or oracle is a failed check
            failures.append(f"{name}: {e}")
            continue
        cols = sorted(spark_t.column_names)
        if cols != sorted(duck_t.column_names):
            failures.append(f"{name}: columns {cols} != {sorted(duck_t.column_names)}")
            continue

        def rows(t):
            data = [t.column(c).to_pylist() for c in cols]
            return sorted(tuple(norm(col[i]) for col in data) for i in range(t.num_rows))
        if rows(spark_t) != rows(duck_t):
            failures.append(f"{name}: output differs from the DuckDB oracle")
    return len(oracle), failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes, for checking that every metric is emitted")
    args = ap.parse_args()

    if not ENGINE_SRC.is_dir():
        die(f"no engine sources at {ENGINE_SRC.relative_to(ROOT)}: run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set; the build and the runs use $SPARK_HOME/jars")
    spec_path = ROOT / "BENCHMARK.json"
    spec = json.loads(spec_path.read_text()) if spec_path.exists() else {}
    BUILD_DIR.mkdir(exist_ok=True)
    stamp = source_stamp()
    build(stamp)

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    work = BUILD_DIR / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res = run_jvm(["--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(args.trace),
                       "--smoke", "1" if args.smoke else "0"], work, cpus,
                      [f"-XX:SharedArchiveFile={CDS}"] if CDS.exists() else [])
        if res is None:
            sys.stderr.write((work / "jvm.log").read_text()[-6000:])
            die("the benchmark JVM produced no result")
        failures = list(res["failures"])
        attempted, failed = res["attempted"], res["failed"]
        if args.workload == "batch_queries":
            n, bad = oracle_check(work, res)
            attempted += n
            failed += len(bad)
            failures += bad
        spans = work / "spans.jsonl"
        if spans.exists():
            traces = BUILD_DIR / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(spans, traces / f"{args.workload}-seed{args.seed}.spans.jsonl")
        if failed:
            sys.stderr.write((work / "jvm.log").read_text()[-3000:])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    env = {
        "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": cpus, "git_sha": git_sha(),
        "source_sha1": stamp, "jdk": java_version(), "spark": res["info"].get("spark_version"),
        "master": res["info"].get("spark_master"), "xmx": XMX, "jvm_opts": JVM_OPTS,
        "run_seconds": args.seconds, "seed": args.seed, "workload": args.workload,
        "trace": args.trace, "python": platform.python_version(),
    }
    print(json.dumps({"env": env}))
    print(json.dumps({"detail": res["metrics"], "info": res["info"],
                      "failures": failures[:20]}))

    # every end-to-end metric and every per-layer metric of a layer the
    # workload calls must have been measured; one of a layer it never
    # calls is 0
    key = "per_layer" if args.trace else "end_to_end"
    have = res["metrics"]
    metrics = {}
    for m in spec.get(key, []):
        if m["name"] in have:
            metrics[m["name"]] = {"value": have[m["name"]]["value"], "unit": m["unit"]}
        elif args.trace and not m["name"].startswith(CALLS[args.workload]):
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            attempted += 1
            failed += 1
            print(f"perfbench: metric {m['name']} was not measured", file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

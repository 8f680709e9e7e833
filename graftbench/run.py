#!/usr/bin/env python3
"""graft benchmark: three closed-loop workloads on local[nproc], one client.

  python3 graftbench/run.py --workload ingest_cdc|cdf_tail|query_board \\
      --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the engine and the
harness into .bench_build/ with the Scala compiler that ships with Spark;
later runs of the same sources launch java directly.
Each run prints a provenance line, then as its last line one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.
See graftbench/README.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import stats

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "graftbench"
JAR = BUILD / "graftbench.jar"
ARCHIVE = BUILD / "classes.jsa"
BOARD_DATA = HERE / "data" / "sf0.01"

# Timed ops per second of --seconds, measured on a 4-core x86 box. The op
# count depends on --seconds alone, so two commits do the same work; the
# board runs whole passes over its queries.
OPS_PER_SECOND = {"ingest_cdc": 1.0, "cdf_tail": 1.0, "query_board": 1.6}
MIN_OPS = 20
BOARD_QUERIES = 16
RUN_TIMEOUT_S = 170
COMPILE_TIMEOUT_S = 400
TRAIN_TIMEOUT_S = 300

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark installation's jars, which the engine compiles and runs
    against: the directory the engine's own build.sbt names as its
    `unmanagedBase`, else $SPARK_HOME/jars, else the one beside
    spark-submit on the PATH."""
    dirs = []
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if m:
        dirs.append(Path(m.group(1)))
    if os.environ.get("SPARK_HOME"):
        dirs.append(Path(os.environ["SPARK_HOME"]) / "jars")
    if shutil.which("spark-submit"):
        dirs.append(Path(shutil.which("spark-submit")).resolve().parent.parent / "jars")
    for d in dirs:
        jars = sorted(d.glob("*.jar"))
        if any(j.name.startswith("scala-compiler-") for j in jars):
            return jars
    fail(f"no Spark jars with a Scala compiler found in {[str(d) for d in dirs]}")


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    return sorted(p for base in (ROOT / "src" / "main" / "scala", HERE / "src" / "main" / "scala")
                  for p in base.rglob("*.scala"))


def build_key(jars):
    """Hash of every input of the build, so a stale build is redone."""
    h = hashlib.sha256()
    for j in jars:
        h.update(str(j).encode())
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness into one jar with the Scala
    compiler that ships with Spark, once per build key, then records a
    class-data-sharing archive from three traced ops of every workload.
    Returns the classpath. The archive spares each run the parsing and
    verification of Spark's classes: without it set-up took 6-11 s longer
    per run on a 4-vCPU x86 VM, past the run-length target in README.md."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ROOT}; run from a full checkout")
    jars = spark_jars()
    # the jar relative to the root, where every JVM starts: a checkout that
    # is moved keeps its jar and its class archive
    classpath = os.pathsep.join([str(JAR.relative_to(ROOT))] + [str(j) for j in jars])
    key = build_key(jars)
    stamp = BUILD / "build.stamp"
    if stamp.is_file() and stamp.read_text() == key and JAR.is_file():
        return classpath
    shutil.rmtree(BUILD, ignore_errors=True)
    BUILD.mkdir(parents=True)
    compiler = os.pathsep.join(str(j) for j in jars if j.name.startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-")))
    args_file = BUILD / "scalac.args"
    args = ["-nowarn", "-d", JAR, "-classpath", os.pathsep.join(map(str, jars))] + sources()
    args_file.write_text("\n".join(f'"{a}"' for a in args))
    log = BUILD / "build.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
                 "-cp", compiler, "scala.tools.nsc.Main", f"@{args_file}"],
                cwd=ROOT, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=COMPILE_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not JAR.is_file():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"compile failed (rc={rc}); log at {log}")
    run_dir = BUILD / "train"
    try:
        run_main(classpath, run_dir, trace=True, cds=f"-XX:ArchiveClassesAtExit={ARCHIVE}",
                 args=["--train", "1", "--data", str(BOARD_DATA)], timeout=TRAIN_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not ARCHIVE.is_file():
        fail("the class-data-sharing archive was not written")
    stamp.write_text(key)
    return classpath


def op_count(workload, seconds):
    n = max(MIN_OPS, round(seconds * OPS_PER_SECOND[workload]))
    if workload == "query_board":  # whole passes
        n = -(-n // BOARD_QUERIES) * BOARD_QUERIES
    return n


def run_main(classpath, run_dir, trace, cds, args, timeout):
    """Runs graftbench.Main in `run_dir`, which holds every file it writes."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    props = {
        "java.io.tmpdir": tmp,
        "spark.local.dir": run_dir / "spark-local",
        "spark.sql.warehouse.dir": run_dir / "warehouse",
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }
    if trace:
        props["spark.hadoop.fs.file.impl"] = "graftbench.CountingFs"
    cmd = [java(), "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", cds]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    cmd += ["-cp", classpath, "graftbench.Main", "--work", str(run_dir / "work")] + args
    log = run_dir / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    if rc != 0:
        sys.stderr.write(log.read_text()[-6000:])
        fail(f"benchmark JVM failed (rc={rc})")


def run_workload(classpath, args, run_dir):
    raw = run_dir / "raw.json"
    run_main(classpath, run_dir, trace=args.trace, cds=f"-XX:SharedArchiveFile={ARCHIVE}",
             args=["--workload", args.workload, "--seed", str(args.seed),
                   "--ops", str(op_count(args.workload, args.seconds)),
                   "--trace", str(args.trace), "--out", str(raw),
                   "--data", str(BOARD_DATA), "--digests", str(HERE / "board_digests.json")],
             timeout=RUN_TIMEOUT_S)
    return json.loads(raw.read_text())


def secs(op):
    return (op["t1"] - op["t0"]) / 1000.0


def end_to_end(raw):
    ops = raw["ops"]
    lat = [secs(o) for o in ops]
    timed = raw["timed"]
    p, tail_v, beyond = stats.tail(lat)
    metrics = {
        "setup_s": (raw["setup"]["total_s"], "s"),
        "wall_s": (timed["wall_s"], "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_v, "s"),
        "op_geomean_s": (stats.geomean(lat), "s"),
        "rows_per_s": (sum(o["rows"] for o in ops) / timed["wall_s"], "rows/s"),
        "cpu_s": (timed["cpu_s"], "s"),
        "heap_retained_mb": (timed["heap_retained_mb"], "MiB"),
        "op_ok_ratio": ((raw["attempted"] - raw["failed"]) / raw["attempted"], "ratio"),
    }
    tail_info = {"percentile": p, "samples": len(lat), "samples_beyond": beyond}
    return metrics, tail_info


PER_OP = [
    "pipeline.plan_s", "pipeline.read_s", "pipeline.schema_s", "pipeline.transform_s",
    "pipeline.write_s", "pipeline.commit_s",
    "sources.files_listed", "sources.files_planned",
    "sources.delta_log_reads", "sources.delta_checkpoint_reads", "delta.dv_files",
    "wal.fs_ops", "wal.bytes_written", "merge.s", "merge.rows_in",
    "delta.active_files", "delta.log_files_read",
    "spark.analysis_s", "spark.optimizer_s", "spark.planning_s",
    "spark.codegen_compile_s", "spark.query_executions",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.sched_wait_s",
    "spark.task_run_s", "spark.task_cpu_s", "spark.task_gc_s",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "fs.driver_ops", "fs.open_calls", "fs.list_calls", "fs.driver_read_mb", "fs.driver_write_mb",
    "jvm.gc_s", "jvm.alloc_mb",
]


def unit_of(name):
    if name.endswith("_s") or name == "merge.s":
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_ratio") or name in ("merge.write_amp", "spark.task_skew"):
        return "ratio"
    if name == "wal.bytes_written":
        return "bytes"
    return "count"


def per_layer(raw):
    traced = [o for o in raw["ops"] if o["traced"] and o["ok"]]
    if not traced:
        fail("no traced op succeeded")
    val = lambda o, k: o["values"].get(k, 0.0)  # noqa: E731
    total = lambda k: sum(val(o, k) for o in traced)  # noqa: E731
    m = {f"setup.{k}": raw["setup"][k] for k in ("session_s", "generate_s", "warmup_s")}
    # times are medians over traced ops; counts and sizes are means, so work
    # that only some ops do still shows
    for k in PER_OP:
        per_op = [val(o, k) for o in traced]
        m[k] = statistics.median(per_op) if unit_of(k) == "s" else statistics.fmean(per_op)
    m["driver.self_s"] = statistics.median(
        stats.self_time(o["t0"], o["t1"], o["jobs"]) / 1000.0 for o in traced)
    m["sources.plan_useful_ratio"] = (total("sources.files_planned") / total("sources.files_listed")
                                      if total("sources.files_listed") else 0.0)
    m["merge.write_amp"] = (total("merge.table_bytes") / total("merge.input_bytes")
                            if total("merge.table_bytes") and total("merge.input_bytes") else 0.0)
    # over every op, traced or bare: checkpoints fall on one op in ten
    done = [o for o in raw["ops"] if o["ok"]]
    ckpt = [secs(o) for o in done if o.get("values", {}).get("delta.checkpoint_batch")]
    m["delta.checkpoint_extra_s"] = (statistics.median(ckpt) - statistics.median(secs(o) for o in done)
                                     if ckpt else 0.0)
    m["spark.busy_ratio"] = stats.busy_ratio(total("spark.task_run_s"),
                                             sum(secs(o) for o in traced), raw["threads"])
    skews = [statistics.median(o["stage_skews"]) for o in traced if o["stage_skews"]]
    m["spark.task_skew"] = statistics.median(skews) if skews else 1.0
    m["trace.overhead_ratio"] = stats.overhead_ratio(
        [(o["label"], o["traced"], secs(o)) for o in raw["ops"] if o["ok"]])
    return {k: (v, unit_of(k)) for k, v in m.items()}


def by_label(ops):
    labels = {}
    for o in ops:
        labels.setdefault(o["label"], []).append(secs(o))
    return {k: round(statistics.median(v), 4) for k, v in sorted(labels.items())}


def provenance(raw, args, tail_info):
    timed = raw["timed"]
    nproc = os.cpu_count()
    # more than 5% of the cores' time over the timed phase stolen by the host
    contended = timed["steal_jiffies"] > 0.05 * timed["wall_s"] * 100 * nproc
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    return {
        "workload": args.workload, "seed": args.seed, "trace": bool(args.trace),
        "commit": commit or "unknown (not a git checkout)", "build_key": build_key(spark_jars())[:16],
        "nproc": nproc, "spark_threads": raw["threads"],
        "jvm": raw["jvm_version"], "spark": raw["spark_version"],
        "loadavg": [timed["loadavg_start"], timed["loadavg_end"]],
        "steal_jiffies": timed["steal_jiffies"], "contended": contended,
        "input_digest": raw["input_digest"], "ops": len(raw["ops"]),
        "op_p50_s_by_label": by_label(raw["ops"]),
        "op_tail": tail_info, "setup": raw["setup"],
        "checks": raw["checks"], "errors": raw["errors"],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(OPS_PER_SECOND))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    run_dir = BUILD / f"run-{os.getpid()}-{int(time.time())}"
    try:
        raw = run_workload(classpath, args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    e2e, tail_info = end_to_end(raw)
    metrics = per_layer(raw) if args.trace else e2e
    print(json.dumps({"provenance": provenance(raw, args, tail_info)}))
    print(json.dumps({
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()

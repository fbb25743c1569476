#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds graft and the harness from source
(once per source digest, into $CARGO_TARGET_DIR or .bench_build), makes the
workload's inputs from the seed, measures for --seconds, checks every
operation's output, and prints each metric by name and unit. The last line of
standard output is one JSON object: correct, attempted, failed and metrics —
the end-to-end metrics untraced (--trace 0), the per-layer metrics traced
(--trace 1). Each run also leaves a run record (and, traced, the span tree)
under <build dir>/graftbench/records/. See graftbench/METRICS.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("stream-catchup", "stream-live", "curation")
# stream-live's offered rate: about half the highest sustainable rate found
# by the calibration sweep in METRICS.md.
LIVE_RATE = 8000
DEADLINE_S = 175  # every run ends within 180 s of starting

E2E = [  # name, unit
    ("setup_s", "s"),
    ("throughput_rec_per_s", "rec/s"),
    ("op_p50_ms", "ms"),
    ("op_p90_ms", "ms"),
    ("latency_p50_ms", "ms"),
    ("latency_p90_ms", "ms"),
    ("peak_heap_mb", "MB"),
]
QUERIES = ["q159_pagerank", "q124_jaccard_prefix", "q123_editdist_join",
           "q353_image_dup_clusters"]
LAYERS = [
    ("replay.latest_offset_ms", "ms"), ("replay.get_batch_ms", "ms"),
    ("replay.store_load_s", "s"), ("replay.records_per_trigger", "count"),
    ("replay.lag_records_p90", "count"), ("replay.dataplane_pages", "count"),
    ("replay.dataplane_page_ms_p50", "ms"), ("gen.late_ms_p99", "ms"),
    ("microbatch.plan_ms", "ms"), ("microbatch.add_batch_ms", "ms"),
    ("microbatch.wal_commit_ms", "ms"), ("microbatch.commit_offsets_ms", "ms"),
    ("microbatch.self_ms", "ms"), ("microbatch.triggers", "count"),
    ("state.rows_total", "count"), ("state.memory_bytes", "bytes"),
    ("state.commit_ms", "ms"), ("state.update_ms", "ms"),
    ("state.rows_dropped_by_watermark", "count"), ("producer.write_ms_p50", "ms"),
    ("producer.rows_written", "count"), ("producer.files_written", "count"),
    ("spark.sql_executions", "count"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.planning_s", "s"), ("spark.idle_s", "s"),
    ("spark.task_time_s", "s"), ("spark.task_cpu_s", "s"), ("spark.core_busy", "ratio"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.failed_tasks", "count"),
    ("spark.blocks_stored_bytes", "bytes"),
] + [(f"op.{q}.{m}", u) for q in QUERIES
     for m, u in (("wall_s", "s"), ("jobs", "count"), ("task_time_s", "s"), ("idle_s", "s"))] + [
    ("jvm.gc_s", "s"), ("log.error_lines", "count"), ("log.warn_lines", "count"),
]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
LOG_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (ERROR|WARN) ([^:\s]+):")


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def source_digest():
    h = hashlib.sha256()
    for path in sorted(glob.glob("src/main/**/*", recursive=True) +
                       glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True) +
                       [os.path.join(HERE, "build.sh")]):
        if os.path.isfile(path):
            h.update(os.path.relpath(path).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else where spark-submit lives."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def build(build_dir, jars):
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.digest")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    print("graftbench: building graft and the harness", file=sys.stderr)
    subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes, jars], check=True,
                   stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, digest


def canon(df):
    """Columns by name, values as the oracle compare sees them, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None else str(v))
    return df.sort_values(by=list(df.columns), kind="mergesort",
                          na_position="first").reset_index(drop=True)


def oracle_mismatches(oracle):
    """Compare each query's checked output with DuckDB running its oracle SQL
    over the same generated tables; returns the queries that differ."""
    import duckdb
    con = duckdb.connect()
    for t in glob.glob(os.path.join(oracle["tables"], "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    bad = []
    for q, sql in sorted(oracle["queries"].items()):
        try:
            got = canon(con.execute(
                f"SELECT * FROM read_parquet('{oracle['outputs']}/{q}/*.parquet')").df())
            want = canon(con.execute(sql).df())
            same = list(got.columns) == list(want.columns) and len(got) == len(want) and all(
                ((got[c].isna() & want[c].isna()) | (got[c] == want[c])).all()
                for c in got.columns)
        except Exception as e:  # a query that cannot be compared fails its check
            print(f"graftbench: oracle compare of {q} failed: {e}", file=sys.stderr)
            same = False
        if not same:
            bad.append(q)
            print(f"graftbench: {q} differs from its oracle", file=sys.stderr)
    return bad


def count_logs(path):
    errors, warns = {}, {}
    with open(path, errors="replace") as f:
        for line in f:
            m = LOG_LINE.match(line)
            if m:
                d = errors if m.group(1) == "ERROR" else warns
                d[m.group(2)] = d.get(m.group(2), 0) + 1
    return errors, warns


def start_generator(seed, rate, err):
    gen = subprocess.Popen([sys.executable, os.path.join(HERE, "livegen.py"),
                            "--seed", str(seed), "--rate", str(rate)],
                           stdout=subprocess.PIPE, stderr=err, text=True)
    line = gen.stdout.readline().strip()
    if not line.startswith("port="):
        gen.kill()
        gen.wait()
        fail(f"generator did not start: {line!r}")
    return gen, f"http://127.0.0.1:{line[len('port='):]}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate", type=float, default=LIVE_RATE,
                    help="stream-live offered rate (rec/s); for calibration sweeps")
    a = ap.parse_args()

    if not os.path.isdir("src/main/scala/graft"):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build",
                             "graftbench")
    os.makedirs(os.path.join(build_dir, "records"), exist_ok=True)
    jars = spark_jars()
    classes, digest = build(build_dir, jars)

    t0 = time.time()  # set-up is timed from here; the one-time build is not
    cores = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build_dir, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    record_base = os.path.join(build_dir, "records", tag)
    result_path = os.path.join(work, "result.json")
    jvm_log = os.path.join(work, "jvm.log")
    load_before = loadavg()
    gen = None
    try:
        with open(jvm_log, "w") as log:
            url = ""
            if a.workload == "stream-live":
                gen, url = start_generator(a.seed, a.rate, log)
            cmd = (["java", "-Xmx7g", "-Xss16m", "-XX:-UsePerfData"] +
                   [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
                   ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                    f"-Dspark.sql.warehouse.dir={work}/warehouse",
                    f"-Dderby.system.home={work}/derby", f"-Dspark.local.dir={work}/local",
                    f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
                    "-cp", f"{classes}:{jars}/*",
                    "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
                    "--work", work, "--result", result_path, "--spans",
                    record_base + "-spans.json", "--t0-ms", str(int(t0 * 1000)), "--url", url])
            jvm = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                jvm.wait(timeout=max(10, DEADLINE_S - (time.time() - t0)))
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
                fail(f"run exceeded {DEADLINE_S} s; log in {jvm_log}")
        if jvm.returncode != 0 or not os.path.exists(result_path):
            sys.stderr.write(open(jvm_log, errors="replace").read()[-4000:])
            fail(f"harness exited with {jvm.returncode}")
        with open(result_path) as f:
            res = json.load(f)
    finally:
        if gen is not None:
            gen.terminate()
            gen.wait()

    rec = res["record"]
    attempted, failed = res["attempted"], res["failed"]
    if a.workload == "curation":
        bad = oracle_mismatches(rec.pop("oracle"))
        rec["oracle_mismatches"] = bad
        if bad:  # every pass reproduced the checked pass, so every pass is wrong
            failed = attempted
    errors, warns = count_logs(jvm_log)
    layers = dict(res["layers"])
    layers["log.error_lines"] = sum(errors.values())
    layers["log.warn_lines"] = sum(warns.values())
    rec.update({
        "nproc": cores, "source_digest": digest, "loadavg_before": load_before,
        "loadavg_after": loadavg(), "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted if attempted else 1.0,
        "e2e": res["e2e"], "layers": layers, "log_errors": errors, "log_warns": warns,
        "offered_rec_per_s": rec.get("offered_rec_per_s"),
        "generator_seed": a.seed if a.workload == "stream-live" else None,
        "run_s": time.time() - T_START,
    })
    with open(record_base + ".json", "w") as f:
        json.dump(rec, f, indent=1)
    if failed == 0:  # a failed run keeps its inputs and outputs for inspection
        shutil.rmtree(work, ignore_errors=True)

    missing = [n for n, _ in E2E if n not in res["e2e"]]
    if missing:
        fail(f"no value for {missing}")
    chosen = LAYERS if a.trace else E2E
    source = layers if a.trace else res["e2e"]
    metrics = {n: {"value": float(source.get(n, 0.0)), "unit": u} for n, u in chosen}
    for n, u in chosen:
        print(f"{n} = {metrics[n]['value']:.6g} {u}")
    if a.trace:  # tracing overhead: compare with the same workload untraced
        for n, u in E2E:
            print(f"traced {n} = {res['e2e'][n]:.6g} {u}")
    print(f"error_rate = {rec['error_rate']:.6g} ratio ({failed} failed / {attempted} attempted)")
    print(f"run record: {record_base}.json")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

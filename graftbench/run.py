#!/usr/bin/env python3
"""graft benchmark: one command, one workload, one seed.

    python3 graftbench/run.py --workload llm_batch --seed 1 --seconds 12 --trace 0

Builds the harness (graft's sources plus src/main/scala/graftbench) with
sbt when the sources changed, generates every input from the seed,
runs the timed JVM harness, checks its outputs against computations made
apart from graft, and prints one JSON line as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones (and writes the run's spans to graftbench/.traces/). See README.md.
"""
import time

T_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("llm_batch", "stream_window")

# Every run drives all three parts (LLM queries, the window stream, the merge
# table), in that order, so that it reports every end-to-end metric. The
# workload's own part runs one round per ROUND_S seconds of --seconds (on a
# 4-core host an LLM pass took 1.4-1.9 s, a stream round 4-5 s); the others
# run a fixed number. Every run of one --seconds thus does the same
# operations in the same order, and a sample's place on the JVM's warm-up
# curve does not depend on host speed.
OWN_PART = {"llm_batch": "llm", "stream_window": "stream"}
ROUND_S = {"llm": 2.0, "stream": 2.5}
MIN_ROUNDS = {"llm": 5, "stream": 4}

# LLM registry queries: the llm_batch list, and the one-query pass that
# stream_window times.
LLM_QUERIES = ["e1_minhash_lsh", "gr_pagerank"]
LLM_LIGHT = ["txt_tfidf"]

STREAM_PROBES = 2          # latency probes per round
STREAM_BACKLOG = 4         # files landed at once per round

TABLE_LOOKUPS = 3          # point lookups per round, after each commit
COMPACT_EVERY = 4
# The table's cost cycles with its compaction (lookups after some commits
# of a cycle take half again as long as after others), so a run covers one
# whole cycle and reports the table metrics as means over it; a median of
# such a two-mode sample falls between the modes.
TABLE_MEAN_METRICS = ("upsert_commit_ms", "lookup_ms", "table_scan_ms")

FIXED_ROUNDS = {"llm": 6, "stream": 3, "table": COMPACT_EVERY}

END_TO_END = {
    "setup_s": "s",
    "llm_pass_s": "s",
    "stream_events_per_s": "events/s",
    "stream_latency_ms": "ms",
    "upsert_commit_ms": "ms",
    "lookup_ms": "ms",
    "table_scan_ms": "ms",
}

PER_LAYER = dict(
    [("engine.session_s", "s"), ("queries.build_s", "s"), ("queries.build_jobs", "count")]
    + [(f"query.{q}.{m}", u) for q in LLM_QUERIES for m, u in (("s", "s"), ("jobs", "count"))]
    + [("plans.plan_s", "s"), ("plans.lookup_plan_ms", "ms"),
       ("ops.exec_s", "s"), ("ops.task_run_s", "s"), ("ops.task_cpu_s", "s"), ("ops.gc_s", "s"),
       ("ops.shuffle_write_bytes", "bytes"), ("ops.shuffle_read_bytes", "bytes"),
       ("ops.shuffle_records", "count"), ("ops.spill_bytes", "bytes"),
       ("ops.peak_exec_memory_bytes", "bytes"),
       ("sources.scan_rows", "count"), ("sources.scan_bytes", "bytes"),
       ("sources.scan_tasks", "count"), ("sources.rows_read_per_row_returned", "ratio"),
       ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
       ("scheduler.tasks", "count"), ("scheduler.delay_s", "s")]
    + [(f"streaming.{p}{m}", "ms") for p in ("", "sink.") for m in
       ("trigger_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms",
        "commit_offsets_ms", "latest_offset_ms")]
    + [("streaming.state_rows", "count"), ("streaming.state_bytes", "bytes"),
       ("streaming.state_commit_ms", "ms"), ("streaming.triggers", "count"),
       ("streaming.rows_dropped_by_watermark", "count"),
       ("streaming.sink.batch_dirs", "count"), ("streaming.sink.generations", "count"),
       ("streaming.sink.compactions", "count"), ("streaming.sink.compaction_commit_ms", "ms"),
       ("streaming.sink.bytes_written_per_change_byte", "ratio"),
       ("streaming.sink.bytes_on_disk_per_live_byte", "ratio"),
       ("streaming.sink.lookup_exec_ms", "ms")])

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build --------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("SPARK_HOME is unset and spark-submit is not on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return env


def build():
    """Returns (classpath, seconds spent building)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not in this checkout")
    t0 = time.time()
    out = os.path.join(HERE, ".build")
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), time.time() - t0
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "sbt.log"), "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=build_env(),
                           stdout=subprocess.PIPE, stderr=log, text=True, timeout=840)
        log.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not lines:
        fail(f"build failed (see {os.path.relpath(out, ROOT)}/sbt.log)")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1], time.time() - t0


# ---- inputs -------------------------------------------------------------------

def stage_inputs(workload, seed, seconds, work):
    """Generates every input into `work`; returns the JVM's arguments for them."""
    tables = os.path.join(work, "tables")
    gen.write_llm_tables(seed, tables)
    mtime0 = int(T_START) - 100000
    rounds = dict(FIXED_ROUNDS)
    own = OWN_PART[workload]
    rounds[own] = max(MIN_ROUNDS[own], round(seconds / ROUND_S[own]))
    n_stream = 2 + (STREAM_PROBES + STREAM_BACKLOG) * rounds["stream"]
    gen.write_stream_files(seed, os.path.join(work, "stream-staged"), n_stream, mtime0)
    gen.write_change_files(seed, os.path.join(work, "table-staged"), 2 + rounds["table"], mtime0)
    keys = gen.lookup_keys(seed, rounds["table"], TABLE_LOOKUPS)
    with open(os.path.join(work, "lookup-keys.txt"), "w") as f:
        for r in keys:
            for ks in r:
                f.write(",".join(map(str, ks)) + "\n")
    return {
        "tables": tables, "llm_rounds": rounds["llm"], "stream_rounds": rounds["stream"],
        "table_rounds": rounds["table"],
        "llm_queries": ",".join(LLM_QUERIES if workload == "llm_batch" else LLM_LIGHT),
        "stream_staged": os.path.join(work, "stream-staged"),
        "stream_probes": STREAM_PROBES, "stream_backlog": STREAM_BACKLOG,
        "stream_events_per_file": gen.EVENTS_PER_FILE,
        "watermark": f"{gen.WATERMARK_S} seconds", "window": f"{gen.WINDOW_S} seconds",
        "table_staged": os.path.join(work, "table-staged"),
        "table_keys": gen.TABLE_KEYS, "table_lookups": TABLE_LOOKUPS,
        "compact_every": COMPACT_EVERY, "lookup_keys": os.path.join(work, "lookup-keys.txt"),
    }


# ---- the run ------------------------------------------------------------------

def run_jvm(classpath, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dspark.sql.streaming.checkpointLocation={os.path.join(work, 'ckpt')}",
           "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main"] + [f"{k}={v}" for k, v in args.items()]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        fail(f"harness exited with {code}:\n{tail}")
    return json.load(open(os.path.join(work, "result.json")))


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def run_checks(seed, work, res):
    out = os.path.join(work, "out")
    results = check.check_llm(os.path.join(work, "tables"), out, res["llm_queries"])
    windows = [tuple(x) for x in read_jsonl(os.path.join(out, "windows.jsonl"))]
    results += check.check_stream(seed, res["stream_files_landed"], windows,
                                  res["stream_dropped_listener"])
    results += check.check_table(seed, read_jsonl(os.path.join(out, "lookups.jsonl")),
                                 read_jsonl(os.path.join(out, "scans.jsonl")))
    return results


def end_to_end(res, setup_s):
    m = {"setup_s": setup_s}
    for k in END_TO_END:
        if k != "setup_s":
            if not res[k]:
                fail(f"no successful timed operation for {k}")
            m[k] = (statistics.fmean if k in TABLE_MEAN_METRICS else statistics.median)(res[k])
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath, build_s = build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = stage_inputs(a.workload, a.seed, a.seconds, work)
        args.update(work=work, workload=a.workload, seconds=a.seconds, trace=a.trace,
                    cpus=min(4, os.cpu_count() or 1))
        res = run_jvm(classpath, args, work, T_START + build_s + 170)
        setup_s = res["first_op_epoch_us"] / 1e6 - T_START - build_s
        t_check = time.time()
        checks = run_checks(a.seed, work, res)
        check_s = time.time() - t_check
        for name, ok, detail in checks:
            if not ok:
                print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
        for e in res["errors"]:
            print(f"OPERATION FAILED {e}", file=sys.stderr)
        e2e = end_to_end(res, setup_s)
        if a.trace:
            traces = os.path.join(HERE, ".traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "out", "trace.jsonl"),
                        os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
            layers = res["layers"]
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER.items()}
            # the traced run's own end-to-end figures, for the tracing overhead
            print(json.dumps({"traced_end_to_end": e2e}))
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        print(json.dumps({
            "info": {"workload": a.workload, "seed": a.seed, "build_s": build_s,
                     "phase_wall_s": res["phase_wall_s"], "session_s": res["session_s"],
                     "stream_triggers": res["stream_triggers"],
                     "stream_dropped_listener": res["stream_dropped_listener"],
                     "stream_late_rows_dropped_api": res["stream_late_rows_dropped_api"],
                     "check_s": check_s, "wall_s": time.time() - T_START - build_s,
                     "samples": {k: res[k] for k in END_TO_END if k != "setup_s"}}}))
        failed = res["failed"] + sum(1 for _, ok, _ in checks if not ok)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": res["attempted"] + len(checks),
            "failed": failed,
            "metrics": metrics,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

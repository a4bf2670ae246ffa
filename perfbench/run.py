#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload relational_sql --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the program and
the benchmark from source (perfbench/build.sbt compiles src/main/scala with
the benchmark's measuring program); later runs reuse the build while the sources are
unchanged. Inputs are generated from the seed under .bench_build/data.

The run sets a Spark session up several times, measures complete passes of
the workload for --seconds, checks every output, prints a report and, as the
last line of stdout, one JSON object with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import datagen  # noqa: E402

# Scale of the generated tables: lineitem 30k rows, events 5k, documents 500.
SF = 0.005
# Full (C2) compilation after fewer calls than the JVM's defaults, so the JIT
# settles before the timed passes: with the defaults, Spark's planner code kept
# getting faster for the first eight or so passes and the timed passes drifted.
JIT = ["-XX:Tier4InvocationThreshold=1000", "-XX:Tier4MinInvocationThreshold=200",
       "-XX:Tier4CompileThreshold=2000"]
# Streaming replay: the events log in 6 micro-batches (about 830 events each
# at the default scale), replayed whole by every pipeline in every pass.
# Out-of-order events arrive one batch late, inside the watermark of 1.5
# batch spans Main sets; late events arrive 4 batches late, behind it even
# where Spark drops late rows by the previous batch's watermark.
STREAM = dict(batches=6, ooo_share=0.05, late_share=0.02, late_batches=4, dup_share=0.02)

# The batch workload is a fixed, named subset of graft's queries, about four
# seconds of warm wall time per pass on four cores; every one has a DuckDB
# oracle. Each stands for a part of the engine the others do not reach.
BATCH_MIX = [
    "h06_tpch_q06",             # TPC-H: table loads, relational SQL
    "m39_depth2_nested_group",  # MATCH_RECOGNIZE SQL, nested-group compile
    "w05_cep_seq",              # event-window CEP pattern
    "i12_vertex_metrics",       # graph operator with persisted degree table
    "d02_minhash_pairs"]        # MinHash dedup kernels
WORKLOADS = {"batch_mix": BATCH_MIX, "stream_replay": []}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("latency_p50_ms", "ms"),
              ("latency_p75_ms", "ms"), ("retained_heap_mb", "MB")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        sub = shutil.which("spark-submit")
        if sub:
            home = os.path.dirname(os.path.dirname(os.path.realpath(sub)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_hash(root):
    h = hashlib.sha256()
    for base in ["src/main/scala", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"]:
        p = os.path.join(root, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, env):
    """Compiles graft and the measuring program; returns the classes dir."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(root, ".bench_build", "build.stamp")
    digest = source_hash(root)
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    benv = dict(env, SBT_OPTS=opts.strip(), COURSIER_MODE="offline")
    tmp = os.path.join(root, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.server.forcestart=false",
                        "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
                        "-J-XX:-UsePerfData", "compile"],
                       cwd=HERE, env=benv, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def q(xs, p):
    """The p-quantile of xs, linear between closest ranks."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=SF,
                    help="scale factor of the generated tables (the tests use 0.001)")
    args = ap.parse_args()

    root = os.getcwd()
    src = os.path.join(root, "src", "main", "scala", "graft")
    if not os.path.isdir(src) or not os.path.isfile(os.path.join(root, "scripts", "check.py")):
        fail("run from the root of a graft checkout (src/main/scala/graft and "
             "scripts/check.py are missing)")
    env = dict(os.environ)
    shome = spark_home()
    bb = os.path.join(root, ".bench_build")
    os.makedirs(bb, exist_ok=True)
    classes = build(root, env)

    t_gen = time.time()
    data = os.path.join(bb, "data", f"sf{args.sf}-seed{args.seed}")
    datagen.generate(data, args.seed, args.sf, STREAM)
    t_gen = time.time() - t_gen

    run_dir = os.path.join(bb, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    work = os.path.join(bb, "work")
    for d in (run_dir, work):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData"] + JIT + [
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-Dspark.sql.session.timeZone=UTC", "-Dderby.system.home=" + work]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{shome}/jars/*", "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--out", run_dir, "--src", src, "--work", work,
              "--cores", str(cores), "--queries", ",".join(WORKLOADS[args.workload])])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        # a run that is stopped stops its measuring process too
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            rc = proc.wait(timeout=160)
        except subprocess.TimeoutExpired:
            fail(f"measuring process timed out; see {run_dir}/jvm.log")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    res_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        fail(f"measuring process exited {rc}; see {run_dir}/jvm.log")
    res = json.load(open(res_path))
    shutil.rmtree(work, ignore_errors=True)

    if args.workload == "stream_replay":
        verdicts, counts = checks.check_stream(res, data, run_dir)
    else:
        verdicts, counts = checks.check_batch(res, data, os.path.join(run_dir, "check"), root)
    for name, n in counts.items():
        print(f"  {name}: {n} rows expected ({verdicts[name]})")
    report(args, res, {n: v for n, v in verdicts.items() if v != "ok"}, t_gen)


def report(args, res, bad, t_gen):
    """Prints the report and, last, the result line. A query or pipeline in
    `bad` threw or failed its check: its samples count as failed and are left
    out of every metric; one that failed before any timed pass counts once."""
    stream = args.workload == "stream_replay"
    passes = res["passes"]
    good = lambda s: s["name"] not in bad  # noqa: E731
    timed = {s["name"] for p in passes for s in p["samples"]}
    never_timed = sum(1 for n in bad if n not in timed)
    attempted = sum(len(p["samples"]) for p in passes) + never_timed
    failed = sum(1 for p in passes for s in p["samples"] if not good(s)) + never_timed
    plain = [p for p in passes if not p.get("traced")]
    traced = [p for p in passes if p.get("traced")]
    pass_s = lambda p: sum(s["wall_s"] for s in p["samples"] if good(s))  # noqa: E731
    batch_lat = [s["wall_s"] * 1000 for p in plain for s in p["samples"] if good(s)]
    lat = batch_lat
    if stream:
        # one latency sample per micro-batch of the log: its time through
        # every pipeline, which keeps the pipelines' different costs in one
        # sample rather than in two modes of the distribution
        by_batch = {}
        for i, p in enumerate(plain):
            for s in p["samples"]:
                if good(s):
                    by_batch[i, s["batch"]] = by_batch.get((i, s["batch"]), 0.0) + s["wall_s"] * 1000
        lat = list(by_batch.values())
    e2e = {
        "setup_s": statistics.median(res["setups_s"]),
        "pass_s": statistics.median(pass_s(p) for p in plain) if plain else None,
        "latency_p50_ms": q(lat, 0.5) if lat else None,
        "latency_p75_ms": q(lat, 0.75) if lat else None,
        "retained_heap_mb": res["retained_heap_mb"],
    }
    unit_of = dict(END_TO_END)
    print(f"workload {args.workload}  seed {args.seed}  cores {res['cores']}  "
          f"passes {len(passes)} ({len(traced)} traced)  input generation {t_gen:.2f} s")
    print(f"  setups_s {['%.3f' % x for x in res['setups_s']]}")
    for k, v in e2e.items():
        if v is not None:
            print(f"  {k:<22} {v:12.4f} {unit_of[k]:<4} (n={len(lat) if 'latency' in k else len(plain)})")
    extra = {}
    if stream:
        ev = sum(s["events"] for p in plain for s in p["samples"] if good(s))
        wall = sum(s["wall_s"] for p in plain for s in p["samples"] if good(s))
        extra["events_per_s"] = (ev / wall if wall else 0.0, "events/s", len(batch_lat))
        extra["batch_ms_p50"] = (q(batch_lat, 0.5) if batch_lat else 0.0, "ms", len(batch_lat))
        extra["batch_ms_p95"] = (q(batch_lat, 0.95) if batch_lat else 0.0, "ms", len(batch_lat))
    else:
        extra["query_s_p50"] = (q(lat, 0.5) / 1000 if lat else 0.0, "s", len(lat))
        extra["query_s_p90"] = (q(lat, 0.9) / 1000 if lat else 0.0, "s", len(lat))
    extra["failed_frac"] = (failed / attempted if attempted else 0.0, "ratio", attempted)
    extra["session_cache_mb"] = (statistics.median(p["session_cache_mb"] for p in passes),
                                 "MB", len(passes))
    for k, (v, u, n) in extra.items():
        print(f"  {k:<22} {v:12.4f} {u:<8} (n={n})")
    for n, why in bad.items():
        print(f"  FAILED {n}: {why}")

    if args.trace:
        metrics = per_layer(traced, plain, pass_s)
    else:
        metrics = {k: {"value": v, "unit": unit_of[k]} for k, v in e2e.items()}
    ok = all(m["value"] is not None for m in metrics.values())
    print(json.dumps({"correct": not bad and ok, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


PER_LAYER_UNITS = {
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "queries.construct_self_s": "s",
    "sources.jobs": "count", "sources.job_s": "s",
    "operators.jobs": "count", "operators.job_s": "s", "operators.task_cpu_s": "s",
    "cep.jobs": "count", "cep.job_s": "s", "cep.task_cpu_s": "s",
    "plans.jobs": "count", "plans.job_s": "s",
    "queries.action_jobs": "count", "queries.action_job_s": "s",
    "catalyst.plan_s": "s", "catalyst.executions": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.job_s": "s", "scheduler.driver_only_s": "s",
    "scheduler.task_failures": "count",
    "executor.task_cpu_s": "s", "executor.task_run_s": "s", "executor.gc_s": "s",
    "executor.core_util": "ratio",
    "shuffle.read_mb": "MB", "shuffle.write_mb": "MB", "shuffle.spill_mb": "MB",
    "storage.cached_mb": "MB", "storage.persisted_rdds": "count",
    "streaming.latest_offset_ms": "ms", "streaming.get_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "streaming.state_commit_ms": "ms", "streaming.rows_dropped_late": "count",
    "streaming.watermark_lag_s": "s",
    "trace.overhead_frac": "ratio", "trace.residual_frac": "ratio",
}


def per_layer(traced, plain, pass_s):
    out = {}
    for k, unit in PER_LAYER_UNITS.items():
        vals = [p["layers"][k] for p in traced if k in p["layers"]]
        out[k] = {"value": statistics.median(vals) if vals else None, "unit": unit}
    # traced passes against the listener-free passes of the same run
    t = statistics.median(pass_s(p) for p in traced) if traced else None
    u = statistics.median(pass_s(p) for p in plain) if plain else None
    out["trace.overhead_frac"]["value"] = (t / u - 1) if t and u else None
    return out


if __name__ == "__main__":
    main()

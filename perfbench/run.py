#!/usr/bin/env python3
"""graft's benchmark: one measured run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
benchmark program with sbt (offline) into the build's own target dirs and
records the launch recipe in .bench_build/; later runs start the JVM
directly, so sbt's boot is never timed. Each run:

  1. generates its inputs (fixture tables through DuckDB, Sparkify JSON
     from the seed through Python) under .bench_build/;
  2. starts one fresh JVM at tier-1's envelope (local[nproc], -Xmx by the
     SPARK_DRIVER_MEM rule, graft's javaOptions) running graftbench.Main;
  3. checks the outputs against independent answers (the DuckDB oracle
     SQL, the generator's known answers) and fails on any mismatch;
  4. prints a summary and, as the last line, one JSON object with
     `correct`, `attempted`, `failed` and `metrics` (end-to-end metrics
     with --trace 0, per-layer metrics with --trace 1).

See perfbench/README.md for the workloads and metric definitions.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import fixtures  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("sparkify_etl", "llm_curation")
JVM_TIMEOUT_S = 170
# The fixture tables are fixed (the oracle answers are then computed once
# per checkout); --seed orders the queries and generates the ETL inputs.
FIXTURE_SEED = 42

END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms",
    "live_heap_peak_mb": "MB"}

MODULES = ("sketchdedup", "vectorops")
EXPRS = ("graft_minhash_sig", "graft_simhash16", "graft_bitmap_and_count",
         "graft_dot", "graft_lsh_sigs")


def per_layer_units():
    """name -> unit of every per-layer metric, in BENCHMARK.json order."""
    u = {}
    for k in ("analysis_ms", "optimization_ms", "planning_ms",
              "codegen_compile_ms"):
        u[f"spark.{k}"] = "ms"
    for k in ("jobs", "stages", "tasks"):
        u[f"spark.{k}"] = "count"
    u["spark.task_run_ms"] = u["spark.task_cpu_ms"] = "ms"
    u["spark.slot_busy_frac"] = "frac"
    u["spark.shuffle_write_mb"] = u["spark.shuffle_read_mb"] = "MB"
    u["spark.shuffle_fetch_wait_ms"] = "ms"
    u["spark.spill_mb"] = "MB"
    u["spark.gc_ms"] = "ms"
    u["spark.input_mb"] = u["spark.output_mb"] = "MB"
    u["jvm.gc_pause_ms"] = "ms"
    u["tables.warm_ms"] = "ms"
    u["tables.cached_mb"] = "MB"
    u["scratch.cached_mb"] = "MB"
    u["scratch.release_ms"] = "ms"
    u["scratch.inmem_scans"] = "count"
    u["sinks.readTable.calls"] = "count"
    u["sinks.readTable.ms"] = "ms"
    u["sinks.bytes_written"] = "bytes"
    u["sinks.files_written"] = "count"
    for e in EXPRS:
        u[f"functions.{e}.rows_per_s"] = "1/s"
    for m in MODULES:
        u[f"operators.{m}.build_ms"] = "ms"
        u[f"operators.{m}.exec_ms"] = "ms"
    for k in ("read_json_ms", "songs_ms", "artists_ms", "users_ms", "time_ms",
              "songplays_ms"):
        u[f"etl.{k}"] = "ms"
    u["etl.run.ms"] = u["etl.runStream.ms"] = u["etl.star_read.ms"] = "ms"
    u["streaming.batches"] = "count"
    for k in ("trigger_ms", "add_batch_ms", "wal_commit_ms",
              "query_planning_ms"):
        u[f"streaming.{k}"] = "ms"
    for k in ("psi_cpu_ms", "psi_io_ms", "psi_mem_ms", "sentinel_ms"):
        u[f"host.{k}"] = "ms"
    u["trace.overhead_frac"] = "frac"
    u["trace.spans"] = "count"
    for k in ("workload", "op", "layer", "job"):
        u[f"trace.self_{k}_ms"] = "ms"
    return u


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def heap_size():
    """tier-1's SPARK_DRIVER_MEM rule: half of RAM in GiB, within 2..8."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def source_stamp(mem):
    h = hashlib.sha256(mem.encode())
    for top in ("src/main", "project/build.properties", "build.sbt",
                "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(f[len(ROOT):].encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(mem):
    """Compile graft and the benchmark once per source state; return the
    classpath and JVM options."""
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp(mem)
    if not (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ, SPARK_DRIVER_MEM=mem, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        env.setdefault("SBT_OPTS", " ".join(
            ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
            + ([f"-Dsbt.repository.config={repos}"] if os.path.exists(repos) else [])))
        with open(os.path.join(BUILD, "build.log"), "w") as log:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840)
        if rc != 0 or not os.path.exists(launch):
            fail(f"build failed (rc={rc}); see .bench_build/build.log")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def inputs(workload, seed):
    """Generate (or reuse) this seed's inputs; return the dirs and facts
    the run needs."""
    fx = os.path.join(BUILD, "fixtures")
    bench, checksum = fixtures.build_fixtures(fx, FIXTURE_SEED)
    in_dir = os.path.join(BUILD, "inputs", f"v{fixtures.GEN_VERSION}",
                          f"{workload}-{seed}")
    answers = None
    if workload == "sparkify_etl":
        done = os.path.join(in_dir, "answers.json")
        if not os.path.exists(done):
            shutil.rmtree(in_dir, ignore_errors=True)
            answers = fixtures.sparkify_inputs(os.path.join(in_dir, "etl"), seed)
            with open(done, "w") as f:
                json.dump(answers, f)
        answers = json.load(open(done))
    os.makedirs(in_dir, exist_ok=True)
    return bench, checksum, in_dir, answers


def run_jvm(cp, opts, args, run_dir):
    log_path = os.path.join(run_dir, "jvm.log")
    cmd = ["java"] + opts + [f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp,
                             "graftbench.Main"] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        tail = open(log_path, errors="replace").read()[-3000:]
        fail(f"benchmark JVM failed (rc={rc}):\n{tail}")


def lat(ops):
    v = stats.latencies(ops)
    if not v:
        return None, None, None, 0
    t, pct, beyond = stats.tail(v)
    return stats.median(v), t, pct, len(v)


def etl_checks(answers, observed):
    out = []
    want = {"songplays": answers["songplays"],
            "matched_song_ids": answers["matched_song_ids"],
            "star_join": answers["matched_song_ids"],
            "start_times": answers["start_times"],
            "songs": answers["songs"], "artists": answers["artists"],
            "stream_songplays": answers["songplays"],
            "micro_batches": answers["log_files"],
            "users": answers["users"], "stream_users": answers["users"]}
    for i, obs in enumerate(observed):
        for k, v in want.items():
            got = obs.get(k)
            if got is None:
                out.append((f"pass {i} {k}", False, "no answer: its op failed"))
                continue
            out.append((f"pass {i} {k}", got == v,
                        "" if got == v else f"got {str(got)[:120]}, want {str(v)[:120]}"))
    return out


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def summarize(rep, workload, answers, in_dir, trace):
    passes = rep["passes"]
    untraced = [p["pass"] for p in passes if not p["traced"]]
    traced = [p["pass"] for p in passes if p["traced"]]
    ops = [o for o in rep["ops"] if o["pass"] in untraced]
    timed = [o for o in ops if o["kind"] != "stream"]
    p50, tail, pct, n = lat(timed)
    wall = stats.median([p["wall_s"] for p in passes if not p["traced"]])
    e2e = {"setup_s": rep["setup"]["setup_s"], "wall_s": wall,
           "op_p50_ms": p50, "op_tail_ms": tail,
           "live_heap_peak_mb": max(rep["live_heap_mb"])}
    extra = {"op_tail_pct": pct, "op_samples": n, "passes": len(untraced),
             "failed_frac": stats.failed_frac(ops)}
    w = rep["workload"]
    if workload == "sparkify_etl":
        writes = [o for o in timed if o["kind"] in ("write", "batch")]
        reads = [o for o in timed if o["kind"] == "read"]
        extra["write_p50_ms"], extra["write_tail_ms"], _, _ = lat(writes)
        extra["read_p50_ms"], extra["read_tail_ms"], _, _ = lat(reads)
        walls = [p["wall_s"] for p in passes]
        # songs and logs in the batch run, the logs again in the stream
        rows = answers["songs"] + 2 * answers["log_rows"]
        extra["rows_per_s"] = rows * len(walls) / sum(walls)
        etl_in = os.path.join(in_dir, "etl")
        ingested = (dir_bytes(os.path.join(etl_in, "song_data"))
                    + 2 * dir_bytes(os.path.join(etl_in, "log_data")))
        extra["write_amp"] = stats.write_amp(stats.median(w["bytes_written"]),
                                             ingested)
    layers = {}
    if trace:
        k = len(traced)
        if k == 0:
            fail("the traced run made no traced pass")
        units = per_layer_units()
        vals = rep["values"]
        for name in units:
            if name in vals:
                layers[name] = vals[name]
            else:
                layers[name] = rep["counters"].get(name, 0.0) / k
        # traced pass against the mean of the untraced passes around it
        layers["trace.overhead_frac"] = (
            stats.mean([p["wall_s"] for p in passes if p["traced"]])
            / stats.mean([p["wall_s"] for p in passes if not p["traced"]]) - 1.0)
        spans = rep["spans"]
        layers["trace.spans"] = len(spans) / k
        by_kind = stats.self_time_by_kind(spans)
        for kind in ("workload", "op", "layer", "job"):
            layers[f"trace.self_{kind}_ms"] = by_kind.get(kind, 0) / 1e6 / k
        layers["host.sentinel_ms"] = stats.median(rep["sentinel_ms"])
    return e2e, extra, layers


def run_all(a):
    """Every workload BENCHMARK.json lists, each in its own run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    rc = 0
    for name in names:
        rc = max(rc, subprocess.call(
            [sys.executable, __file__, "--workload", name, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace)]))
    sys.exit(rc)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.workload == "all":
        run_all(a)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {HERE}: run from a graft checkout")
    t0 = time.time()
    mem = heap_size()
    cp, opts = build(mem)
    bench, checksum, in_dir, answers = inputs(a.workload, a.seed)
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    report = os.path.join(run_dir, "report.json")
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    run_jvm(cp, opts + [f"-XX:ActiveProcessorCount={cores}"],
            ["--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--bench", bench, "--in", in_dir,
             "--run", run_dir, "--out", report], run_dir)
    rep = json.load(open(report))

    checks = [(c["name"], c["ok"], c["detail"]) for c in rep["checks"]]
    w = rep["workload"]
    if a.workload == "llm_curation":
        checks += oracle.check(ROOT, bench, checksum,
                               os.path.join(BUILD, "oracle"),
                               os.path.join(run_dir, "results"),
                               w["oracle_sql"])
    if a.workload == "sparkify_etl":
        checks += etl_checks(answers, w["observed"])
    bad = [c for c in checks if not c[1]]

    e2e, extra, layers = summarize(rep, a.workload, answers, in_dir,
                                   a.trace == 1)
    ops = [o for o in rep["ops"] if o["kind"] != "stream" or not o["ok"]]
    failed = sum(1 for o in ops if not o["ok"])
    env = rep["env"]
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} "
          f"cores={env['cores']} xmx_mb={env['xmx_mb']} "
          f"gc={','.join(env['collectors'])} jdk={env['jdk']} "
          f"spark={env['spark']} fixtures={checksum[:12]} "
          f"elapsed_s={time.time() - t0:.1f}")
    for name, unit in END_TO_END.items():
        print(f"  {name} = {e2e[name]} {unit}")
    for k, v in extra.items():
        print(f"  {k} = {v}")
    print(f"  checks: {len(checks) - len(bad)} pass / {len(bad)} fail; "
          f"ops: {len(ops)} attempted / {failed} failed")
    for name, _, detail in bad[:20]:
        print(f"  MISMATCH {name}: {detail}")
    for o in [o for o in ops if not o["ok"]][:10]:
        print(f"  FAILED {o['name']}: {o['err']}")
    if a.trace:
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in per_layer_units().items()}
        spans_out = os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.json")
        os.makedirs(os.path.dirname(spans_out), exist_ok=True)
        with open(spans_out, "w") as f:
            json.dump({"spans": rep["spans"], "columns":
                       ["id", "parent", "kind", "name", "start_ns", "end_ns"]}, f)
        print(f"  spans written to {os.path.relpath(spans_out, ROOT)}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    for m in metrics.values():
        if isinstance(m["value"], float) and not math.isfinite(m["value"]):
            m["value"] = None
    shutil.copy(report, os.path.join(BUILD, f"last-{a.workload}.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not bad, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if not bad else 1)


if __name__ == "__main__":
    main()

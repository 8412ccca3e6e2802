#!/usr/bin/env python3
"""graft benchmark: one workload per run, from a seed.

    python3 graftbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (``graftbench/build.sbt``) and caches the
classpath under ``.bench_build/``; later runs start the JVM directly.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` installs the benchmark's full Spark
listener and reports the per-layer metrics instead.

Workloads (each one closed-loop client, Spark ``local[4]``):

- ``ingest``: the reference's HTTP path — exists GET, PUT ingest, status
  polls — over a generated hive TSV tree: passes of twelve consecutive
  small hours (one absent, one re-ingested), then large backfill hours.
- ``stream_microbatch``: passes of the keyed micro-batch stream st20 (ANN
  serve) over a generated embeddings table.

Each workload runs a fixed number of passes (``gen.PASSES`` for ``ingest``,
``Stream.Passes`` in ``BenchMain.scala`` for ``stream_microbatch``), so the
metrics mean the same thing however fast the program is. ``--seconds`` is
accepted for the benchmark's command line; the fixed passes take longer.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen    # noqa: E402
import stats  # noqa: E402

CORES = 4
JVM_TIMEOUT_S = 165

WORKLOADS = ("ingest", "stream_microbatch")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "rows/s",
}

PER_LAYER = {
    "api.exists_s": "s",
    "api.put_ingest_s": "s",
    "api.status_s": "s",
    "runner.launch_s": "s",
    "runner.spark_jobs": "count",
    "source.scan_bytes": "bytes",
    "source.scan_rows": "rows",
    "source.scan_cpu_s": "s",
    "table.write_s": "s",
    "table.commit_s": "s",
    "table.files_written": "count",
    "table.bytes_written": "bytes",
    "table.bytes_per_source_byte": "ratio",
    "stream.batches": "count",
    "stream.rows_in": "rows",
    "stream.add_batch_s": "s",
    "stream.harness_s": "s",
    "stream.query_planning_s": "s",
    "stream.get_batch_s": "s",
    "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s",
    "stream.outside_trigger_s": "s",
    "query.st20_streaming_ann_serve_s": "s",
    "spark.jobs.st20_streaming_ann_serve": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.driver_s": "s",
    "spark.busy_frac": "ratio",
    "jvm.peak_rss_mb": "MB",
    "trace.pass_s": "s",
    "trace.callback_s": "s",
    "trace.overhead_frac": "ratio",
}

# The end-to-end metric(s) each per-layer metric should move, on the workload
# that exercises it; the first matching name prefix wins. `jvm.` and `trace.`
# describe the run itself and move none.
MOVES = {
    "api.": ("op_p50_s",),
    "runner.": ("op_p50_s",),
    "source.": ("rows_per_s",),
    "table.commit_s": ("op_p50_s",),
    "table.": ("rows_per_s",),
    "stream.batches": ("rows_per_s",),
    "stream.rows_in": ("rows_per_s",),
    "stream.add_batch_s": ("op_p50_s",),
    "stream.outside_trigger_s": ("pass_s",),
    "stream.": ("op_p50_s", "op_tail_s"),
    "query.": ("pass_s",),
    "spark.": ("pass_s",),
}


def moves(name):
    return next((m for p, m in MOVES.items() if name.startswith(p)), ())

JVM_OPENS = [
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


# ---------------------------------------------------------------- build

def source_stamp(root):
    """Fingerprint of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project", "src/main", "graftbench/build.sbt",
                 "graftbench/project", "graftbench/src"):
        p = os.path.join(root, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs
            if f.endswith((".scala", ".java", ".sbt", ".properties"))
            and "/target" not in d)
        for f in paths:
            st = os.stat(f)
            h.update(f"{f}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath(root, build_dir):
    """Build with sbt when the sources changed; return the runtime classpath."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"no {need} here: run from the repository root")
    os.makedirs(build_dir, exist_ok=True)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.startswith("/")
                 and "graftbench" in ln.split(":", 1)[0]]
    if rc != 0 or not lines:
        fail(f"build failed (rc {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ---------------------------------------------------------------- run

def run_jvm(cp, workload, work, trace):
    out = os.path.join(work, "observed.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.BenchMain", "--workload", workload,
            "--work", work, "--trace", str(trace), "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload timed out after {JVM_TIMEOUT_S}s; see {log}")
    if rc != 0 or not os.path.exists(out):
        fail(f"workload JVM exited {rc}; see {log}")
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- metrics

def op_latency(samples):
    """(p50, tail value, tail percentile) of an operation's latencies."""
    q = stats.tail_q(len(samples))
    return (stats.percentile(samples, 0.5), stats.percentile(samples, q), q)


def spark_layer(obs, lo_ms, hi_ms):
    """Engine-wide counters over the timed window [lo_ms, hi_ms]."""
    tr = obs["trace"]
    ends = {j["job_id"]: j["end_ms"] for j in tr["job_ends"]}
    jobs = [j for j in tr["jobs"] if lo_ms <= j["start_ms"] <= hi_ms]
    spans = [(j["start_ms"] / 1e3, ends.get(j["job_id"], hi_ms) / 1e3)
             for j in jobs]
    stage_ids = {s for j in jobs for s in j["stage_ids"]}
    stages = [s for s in tr["stages"] if s["stage_id"] in stage_ids]
    wall = (hi_ms - lo_ms) / 1e3

    def total(key):
        return sum(s[key] for s in stages)

    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.shuffle_read_bytes": total("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark.spill_bytes": total("spill_bytes"),
        "spark.cpu_s": total("cpu_ns") / 1e9,
        "spark.gc_s": total("gc_ms") / 1e3,
        "spark.driver_s": stats.driver_time(spans, lo_ms / 1e3, hi_ms / 1e3),
        "spark.busy_frac": stats.busy_frac(total("run_ms") / 1e3, wall, CORES),
        "source.scan_bytes": total("input_bytes"),
        "source.scan_rows": total("input_rows"),
        "source.scan_cpu_s": sum(s["cpu_ns"] for s in stages
                                 if s["input_bytes"] > 0) / 1e9,
        "table.bytes_written": total("output_bytes"),
        "trace.callback_s": tr["callback_s"],
        "trace.overhead_frac": tr["callback_s"] / wall,
        "trace.pass_s": stats.median(obs["pass_s"]),
    }


def zero_layers():
    return {k: 0 for k in PER_LAYER}


def ingest_result(obs, spec, trace, work):
    """(operations attempted, failures, end-to-end, per-layer or None, note).

    Operations are the warm and the timed load jobs. A failure is a job
    that failed or whose hour landed wrong, or a wrong hour no job loaded
    (one nothing should have landed).
    """
    ran = [o for p in spec["passes"] for o in p] + spec["large"]
    absent = {o["hour"] for o in ran if o["kind"] == "absent"}
    recs = obs["records"]
    wrong = check.landed_failures(obs["landed"], spec["expected"], absent)
    bad = {}
    for r in obs["warm"] + recs:
        if not r["ok"] or r["hour"] in wrong:
            bad.setdefault(r["hour"], []).append(
                r.get("error") or wrong.get(r["hour"]) or "failed")
    for hour, why in wrong.items():
        bad.setdefault(hour, [why])
    failures = [f"hour {h}: {why}" for h, whys in bad.items() for why in whys]

    small = [r["latency_s"] for r in recs
             if r["ok"] and r["kind"] in ("small", "reingest")]
    p50, tail, q = op_latency(small)
    large_rows = sum(spec["expected"][o["hour"]]["rows"] for o in spec["large"])
    e2e = {
        "pass_s": stats.median(obs["pass_s"]),
        "op_p50_s": p50,
        "op_tail_s": tail,
        "rows_per_s": large_rows / obs["large_s"],
    }
    note = (f"load jobs: {len(small)} small-hour samples, tail is p{q * 100:g}; "
            f"{len(obs['pass_s'])} passes; backfill {large_rows} rows "
            f"in {obs['large_s']:.3f}s")
    layers = None
    if trace:
        layers = zero_layers()
        layers.update(spark_layer(obs, obs["timed_start_ms"], obs["timed_end_ms"]))
        layers.update(ingest_layers(obs, spec, work, layers["table.bytes_written"]))
    return len(obs["warm"]) + len(recs), failures, e2e, layers, note


def ingest_layers(obs, spec, work, bytes_written):
    tr = obs["trace"]
    ends = {j["job_id"]: j["end_ms"] for j in tr["job_ends"]}
    by_group = {}
    for j in tr["jobs"]:
        by_group.setdefault(j["group"], []).append(j)
    launch, njobs, write, commit = [], [], [], []
    for r in obs["records"]:
        jobs = by_group.get(r.get("job_id"), [])
        if not r["ok"] or not jobs:
            continue
        first = min(j["start_ms"] for j in jobs)
        last = max(ends[j["job_id"]] for j in jobs)
        launch.append((first - r["put_end_ms"]) / 1e3)
        njobs.append(len(jobs))
        write.append((last - first) / 1e3)
        commit.append((r["outcome_ms"] - last) / 1e3)
    recs = obs["records"]
    timed_hours = {r["hour"] for r in recs if r["ok"] and r["kind"] != "absent"}
    files = 0
    landing = os.path.join(work, "landing")
    for d, _, fs in os.walk(landing):
        rel = os.path.relpath(d, landing).split(os.sep)
        if len(rel) != 4 or any(p.startswith(".") for p in rel):
            continue
        if "".join(p.split("=", 1)[1] for p in rel) in timed_hours:
            files += sum(1 for f in fs if f.endswith(".parquet"))
    source = sum(spec["expected"][r["hour"]]["source_bytes"] for r in recs
                 if r["ok"] and r["kind"] != "absent")
    layers = {
        "api.exists_s": stats.median([r["exists_s"] for r in recs if "exists_s" in r]),
        "api.put_ingest_s": stats.median([r["put_s"] for r in recs if "put_s" in r]),
        "api.status_s": stats.median([s for r in recs for s in r.get("status_s", [])]),
        "runner.launch_s": stats.median(launch),
        "runner.spark_jobs": stats.median(njobs),
        "table.write_s": stats.median(write),
        "table.commit_s": stats.median(commit),
        "table.files_written": files,
        "table.bytes_per_source_byte": bytes_written / source,
    }
    return layers


def stream_result(obs, work, trace):
    """(passes attempted, failures, end-to-end, per-layer or None, note).

    Every pass, the untimed ones too, is an operation whose result is
    checked against the oracle."""
    execs = obs["warm_execs"] + obs["execs"]
    bad = check.query_failures(execs, obs["oracle_sql"], work, ["embeddings"])
    failures = [f"pass {execs[i]['pass']}: {why}" for i, why in bad.items()]
    lo, hi = obs["timed_start_ms"], obs["timed_end_ms"]
    batches = [b for b in obs["trace"]["progress"] if lo <= b["start_ms"] <= hi]
    trig = [b["duration_ms"]["triggerExecution"] / 1e3 for b in batches]
    p50, tail, q = op_latency(trig)
    rows = sum(b["rows"] for b in batches)
    e2e = {
        "pass_s": stats.median(obs["pass_s"]),
        "op_p50_s": p50,
        "op_tail_s": tail,
        "rows_per_s": rows / sum(trig),
    }
    note = (f"micro-batches: {len(trig)} samples, tail is p{q * 100:g}; "
            f"{len(obs['execs'])} timed passes")
    layers = None
    if trace:
        layers = zero_layers()
        layers.update(spark_layer(obs, lo, hi))
        layers.update(stream_layers(obs, batches))
    return len(execs), failures, e2e, layers, note


def stream_layers(obs, batches):
    def dsum(key):
        return sum(b["duration_ms"].get(key, 0) for b in batches) / 1e3

    trig = dsum("triggerExecution")
    add = dsum("addBatch")
    layers = {
        "stream.batches": len(batches),
        "stream.rows_in": sum(b["rows"] for b in batches),
        "stream.add_batch_s": add,
        "stream.harness_s": trig - add,
        "stream.query_planning_s": dsum("queryPlanning"),
        "stream.get_batch_s": dsum("getBatch"),
        "stream.wal_commit_s": dsum("walCommit"),
        "stream.commit_offsets_s": dsum("commitOffsets"),
        "stream.outside_trigger_s":
            sum(e["wall_s"] for e in obs["execs"]) - trig,
    }
    ends = {j["job_id"]: j["end_ms"] for j in obs["trace"]["job_ends"]}
    execs = obs["execs"]
    layers["query.st20_streaming_ann_serve_s"] = stats.median(
        [e["wall_s"] for e in execs])
    layers["spark.jobs.st20_streaming_ann_serve"] = stats.median(
        [sum(1 for j in obs["trace"]["jobs"]
             if e["start_ms"] <= j["start_ms"] <= e["end_ms"]
             and ends.get(j["job_id"], 0) <= e["end_ms"]) for e in execs])
    return layers


# ---------------------------------------------------------------- main

def main(argv=None):
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    cp = classpath(root, os.path.join(root, ".bench_build"))

    # the previous run's inputs and outputs stay until here, for a look after
    # a run; their deletes are flushed before set-up so they do not land in
    # this run's timing
    work = os.path.join(root, ".bench_build", f"work-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.sync()
    # set-up starts here: everything up to the timed region is billed to it
    t_setup = time.time()
    spec = gen.generate(args.workload, work, args.seed)
    t_gen = time.time()
    obs = run_jvm(cp, args.workload, work, args.trace)

    if args.workload == "ingest":
        attempted, failures, e2e, layers, note = ingest_result(
            obs, spec, args.trace, work)
    else:
        attempted, failures, e2e, layers, note = stream_result(
            obs, work, args.trace)
    for why in failures[:5]:
        print(f"graftbench: {why}", file=sys.stderr)
    e2e["setup_s"] = obs["timed_start_ms"] / 1e3 - t_setup
    if layers is not None:
        layers["jvm.peak_rss_mb"] = obs["peak_rss_kb"] / 1024

    print(f"graftbench: {args.workload} seed {args.seed}: {note}")
    print(f"graftbench: set-up split: "
          f"generate {t_gen - t_setup:.1f}s, "
          f"jvm start {obs['jvm_start_ms'] / 1e3 - t_gen:.1f}s, "
          f"session {(obs['session_ready_ms'] - obs['jvm_start_ms']) / 1e3:.1f}s, "
          f"warm-up {(obs['timed_start_ms'] - obs['session_ready_ms']) / 1e3:.1f}s; "
          f"build check {t_setup - t_start:.1f}s")
    if layers is None:
        chosen, units = e2e, END_TO_END
    else:
        chosen, units = layers, PER_LAYER
        print("graftbench: end-to-end in this traced run: "
              + json.dumps({k: round(v, 6) for k, v in e2e.items()}))
    for k in sorted(units):
        hint = f"  (should move {', '.join(moves(k))})" if moves(k) else ""
        print(f"graftbench:   {k} = {chosen[k]} {units[k]}{hint}")
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

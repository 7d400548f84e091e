#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
harness from source with sbt (offline); later runs reuse the build until a
source file changes. Inputs are generated from the seed and cached under the
build directory (`$CARGO_TARGET_DIR`, default `.bench_build`). Each run
starts one JVM (graftbench.Main), which sets up the Spark session, runs
warm-up passes, measures passes for `--seconds`, and checks every output.

The last line of stdout is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with `--trace 0`, the per-layer ones
with `--trace 1`). The lines before it are a readable summary.
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

sys.dont_write_bytecode = True  # write nothing next to the sources
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("curation", "ingest")
# the seed whose outputs are recorded in expected.json
DEFAULT_SEED = 1
HEAP = "2g"
RUN_LIMIT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads, to decide whether to rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
        if os.path.isfile(top):
            with open(top, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Compile the library and the harness; returns the runtime classpath."""
    stamp_file = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=700)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def quantile(xs, q):
    """Linear-interpolated quantile (the 'inclusive' method)."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    i = q * (len(xs) - 1)
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


END_TO_END_UNITS = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
    "input_mb_per_s": "MB/s",
    "write_bytes_per_input_byte": "ratio"}


def op_medians(r):
    """Every operation's median latency over the measured passes."""
    return [statistics.median(v) for v in r["op_s_by_name"].values()]


def end_to_end(r):
    # A steady pass is the sum of the operations' medians: one slow
    # operation in one pass moves it less than it moves the median of three
    # whole-pass times. The latency quantiles are taken over the same
    # medians, not over the pooled samples: a pass holds operations of very
    # different lengths, so a pooled quantile falls in the gap between two
    # of them and reads the fastest sample of one or the slowest of another.
    meds = op_medians(r)
    pass_s = sum(meds)
    written = statistics.median(r["bytes_written_per_pass"])
    return {
        "setup_s": r["setup_s"],
        "pass_s": pass_s,
        "op_p50_s": quantile(meds, 0.5),
        "op_p90_s": quantile(meds, 0.9),
        "input_mb_per_s": r["input_bytes_per_pass"] / 1e6 / pass_s,
        "write_bytes_per_input_byte": written / r["input_bytes_per_pass"],
    }


PER_LAYER_UNITS = {
    "build.s": "s", "build.jobs": "count", "catalyst.plan_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "codegen.compile_failures": "count", "sched.jobs": "count",
    "sched.stages": "count", "sched.tasks": "count",
    "sched.slot_idle_share": "ratio", "exec.s": "s", "exec.cpu_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.spill_mb": "MB",
    "jvm.gc_s": "s", "jvm.jit_s": "s", "jvm.peak_rss_mb": "MB", "cache.persisted_mb_peak": "MB",
    "cache.blocks_left_after_op": "count", "sources.unzip_s": "s",
    "sources.input_mb": "MB", "pipelines.land_s": "s", "sinks.merge_s": "s",
    "sinks.compact_s": "s", "sinks.vacuum_s": "s", "sinks.read_s": "s",
    "sinks.files_written": "count", "sinks.bytes_written_mb": "MB",
    "sinks.stored_bytes_per_input_byte": "ratio", "streaming.batch_s": "s",
    "streaming.plan_s": "s", "streaming.sink_s": "s",
    "streaming.batches": "count", "streaming.docs_per_s": "1/s",
    "trace.pass_s": "s", "trace.overhead_s": "s",
    "trace.unattributed_share": "ratio"}


def harness_span(name):
    """Spans of the harness itself, not of a layer: their self time is
    pass time no layer accounts for."""
    return name in ("pass", "op") or name.startswith("harness.")


def per_layer(r):
    """Per traced pass: span totals, engine counters and the trace check."""
    c, total, self_s = r["counters"], r["total_s"], r["self_s"]
    traced = statistics.median(r["traced_pass_s"])
    slot = c.get("stage.slot_ms", 0.0)
    m = {k: c.get(k, 0.0) for k in PER_LAYER_UNITS if k in c}
    m.update({
        "build.s": total.get("build", 0.0),
        "sched.slot_idle_share":
            1.0 - c.get("stage.busy_ms", 0.0) / slot if slot > 0 else 0.0,
        "jvm.peak_rss_mb": r["peak_rss_mb"],
        "cache.persisted_mb_peak": r["cache"]["persisted_mb_peak"],
        "cache.blocks_left_after_op": r["cache"]["blocks_left_after_op"],
        "sources.unzip_s": total.get("sources.unzip", 0.0),
        "sources.input_mb": r["input_bytes_per_pass"] / 1e6,
        "pipelines.land_s": total.get("pipelines.land", 0.0),
        "sinks.merge_s": total.get("sinks.merge", 0.0),
        "sinks.compact_s": total.get("sinks.compact", 0.0),
        "sinks.vacuum_s": total.get("sinks.vacuum", 0.0),
        "sinks.read_s": total.get("sinks.read", 0.0),
        "sinks.stored_bytes_per_input_byte":
            r["extras"].get("stored_bytes_per_input_byte", 0.0),
        "streaming.batch_s": total.get("streaming.batch", 0.0),
        "streaming.sink_s": total.get("streaming.sink", 0.0),
        "streaming.docs_per_s": c.get("streaming.docs", 0.0) / total["streaming.batch"]
            if total.get("streaming.batch") else 0.0,
        "trace.pass_s": traced,
        "trace.overhead_s": traced - statistics.median(r["pass_s"]),
        "trace.unattributed_share":
            sum(v for k, v in self_s.items() if harness_span(k)) / traced,
    })
    return {k: m.get(k, 0.0) for k in PER_LAYER_UNITS}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write this run's outputs as the expected outputs "
                         "of the default seed")
    a = ap.parse_args()
    if a.record and a.seed != DEFAULT_SEED:
        fail(f"--record takes the default seed {DEFAULT_SEED}")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"the repository sources are missing ({need})")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(build_dir)
    started = time.time()  # the run limit excludes the build

    # the cache key names the generator version, so a changed generator
    # never serves stale inputs
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen_id = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(build_dir, "data", a.workload, f"seed-{a.seed}-{gen_id}")
    manifest = gen.generate(a.workload, a.seed, data)
    work = os.path.join(build_dir, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    expected = os.path.join(HERE, "expected.json")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", a.workload, "--data", data, "--work", work,
              "--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace)])
    if a.workload == "ingest":
        cmd += ["--checks", ",".join(f"{k}={manifest[k]}" for k in
                                     ("rows_after_merge", "items_after_merge", "permits"))]
    if a.record:
        cmd += ["--record", os.path.join(work, "recorded.json")]
    elif a.seed == DEFAULT_SEED and os.path.exists(expected):
        cmd += ["--expected", expected]
    log = os.path.join(build_dir, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)

        def stop_jvm(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop_jvm)
        signal.signal(signal.SIGINT, stop_jvm)
        try:
            rc = p.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_LIMIT_S} s, see {log}")
    if rc != 0 or not os.path.exists(out):
        fail(f"harness exited with {rc}, see {log}")
    with open(out) as f:
        r = json.load(f)

    if a.record:
        with open(os.path.join(work, "recorded.json")) as f:
            rec = json.load(f)
        allexp = {}
        if os.path.exists(expected):
            with open(expected) as f:
                allexp = json.load(f)
        allexp[a.workload] = rec
        with open(expected, "w") as f:
            json.dump(allexp, f, indent=1, sort_keys=True)
            f.write("\n")

    e2e = end_to_end(r)
    print(f"workload={a.workload} seed={a.seed} input={manifest['bytes'] / 1e6:.1f}MB "
          f"passes={len(r['pass_s'])}+{len(r['traced_pass_s'])} traced "
          f"ops={sum(len(v) for v in r['op_s_by_name'].values())} attempted={r['attempted']} failed={r['failed']} "
          f"error_rate={r['failed'] / max(1, r['attempted']):.4f}")
    for k, v in e2e.items():
        print(f"  {k:28s} {v:12.4f} {END_TO_END_UNITS[k]}")
    print("  JVM uptime at end of: " + ", ".join(
        f"{k} {v:.1f} s" for k, v in r["phases_s"].items()))
    for k, v in r["op_s_by_name"].items():
        print(f"  op {k:34s} median {statistics.median(v):8.4f} s  n={len(v)}")
    for k, v in r["extras"].items():
        print(f"  {k:28s} {v:12.4f}")
    for pr in r["problems"][:20]:
        print(f"  problem: {pr}")
    if a.trace:
        metrics = per_layer(r)
        for k, v in metrics.items():
            print(f"  {k:34s} {v:12.4f} {PER_LAYER_UNITS[k]}")
        traced = metrics["trace.pass_s"]
        print(f"  self time per traced pass ({traced:.3f} s): " + ", ".join(
            f"{k} {v:.3f} s ({100 * v / traced:.1f}%)"
            for k, v in sorted(r["self_s"].items(), key=lambda kv: -kv[1])))
        units = PER_LAYER_UNITS
    else:
        metrics, units = e2e, END_TO_END_UNITS
    print(json.dumps({
        "correct": r["failed"] == 0 and not r["problems"],
        "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Repository benchmark: one workload per invocation, from the checkout root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness (perfbench/build.sbt compiles perfbench/src together with
the library's src/main/scala) when any source changed, runs the workload in
one JVM, checks every output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 they are the per-layer ones, derived from
the span file the traced run writes (plus the traced run's own end-to-end
figures as traced.*, whose difference to an untraced run is the tracing
overhead). Exits non-zero when an output check fails or the run breaks.
See perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest_ref", "ingest_bulk_native", "battery")
WIRES = ("native", "http_json", "http_rowbinary", "blocks")
FAMILIES = ("relational", "refparity", "operators")
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 880

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    dirs = [os.path.join(HERE, "src"), os.path.join(root, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def build(root, build_dir):
    """Compile with sbt when the sources differ from the last build; return
    the runtime classpath."""
    digest = hashlib.sha256()
    for f in source_files(root):
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            timeout=BUILD_DEADLINE_S).returncode
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1]


def end_to_end(res):
    return {
        "pass_s": (statistics.median(res["pass_s"]), "s"),
        "step_ms_geomean": (statistics.geometric_mean(res["step_ms"]), "ms"),
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "peak_mem_mb": (res["peak_mem_mb"], "MB"),
    }


class Trace:
    def __init__(self, path):
        with open(path) as fh:
            lines = fh.read().splitlines()
        self.spans = [json.loads(l) for l in lines[1:]]  # line 0: the trace id
        self.kids = {}
        for s in self.spans:
            self.kids.setdefault(s["parent"], []).append(s)
        run = [s for s in self.spans if s["name"] == "run"][0]
        self.cores = run["attrs"]["cores"]

    def named(self, name, parents=None):
        out = [s for s in self.spans if s["name"] == name]
        if parents is not None:
            ids = {p["id"] for p in parents}
            out = [s for s in out if s["parent"] in ids]
        return out

    def children(self, span, name):
        return [k for k in self.kids.get(span["id"], []) if k["name"] == name]


def dur_ms(s):
    return (s["end"] - s["start"]) / 1e6


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def covered_ms(span, jobs):
    """Part of span's interval that its job spans cover."""
    ivs = sorted((max(j["start"], span["start"]), min(j["end"], span["end"])) for j in jobs)
    total, cur_s, cur_e = 0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e6


def stage_sums(t, steps):
    jobs = [j for st in steps for j in t.children(st, "job")]
    stages = [g for j in jobs for g in t.children(j, "stage")]
    def tot(k):
        return sum(g["attrs"].get(k, 0.0) for g in stages)
    return jobs, stages, tot


def per_layer(t, workload):
    m = {}
    cores = t.cores
    # main work: epochs of timed drains, or queries of timed passes
    if workload == "battery":
        units = t.named("pass")
        steps = t.named("query", units)
    else:
        units = t.named("drain.timed")
        steps = [e for e in t.named("epoch", units) if e["attrs"]["inputRows"] > 0]
    n = max(len(steps), 1)
    jobs, stages, tot = stage_sums(t, steps)
    wall = sum(dur_ms(s) for s in steps)
    m["steps"] = (len(steps), "count")
    m["step.jobs"] = (len(jobs) / n, "count")
    m["step.stages"] = (len(stages) / n, "count")
    m["step.tasks"] = (tot("tasks") / n, "count")
    m["step.util"] = (tot("runMs") / (wall * cores) if wall else 0.0, "fraction")
    m["step.task_cpu_ms"] = (tot("cpuMs") / n, "ms")
    m["step.gc_ms"] = (tot("gcMs") / n, "ms")
    m["step.shuffle_kb"] = (tot("shuffleBytes") / 1e3 / n, "kB")
    m["step.spill_kb"] = (tot("spillBytes") / 1e3 / n, "kB")
    m["step.outside_jobs_ms"] = (mean(dur_ms(s) - covered_ms(s, t.children(s, "job")) for s in steps), "ms")

    # streaming layer: the timed drains, or the traced battery's probe drain
    drains = units if workload != "battery" else t.named("drain.complement")
    epochs = t.named("epoch", drains)
    ne = max(len(epochs), 1)
    m["streaming.epochs_per_drain"] = (len(epochs) / max(len(drains), 1), "count")
    phase_total = 0.0
    for phase, key in (("latestOffset", "latest_offset_ms"), ("walCommit", "wal_commit_ms"),
                       ("getBatch", "get_batch_ms"), ("queryPlanning", "plan_ms"),
                       ("addBatch", "add_batch_ms"), ("commitOffsets", "commit_offsets_ms")):
        total = sum(dur_ms(p) for e in epochs for p in t.children(e, "epoch." + phase))
        phase_total += total
        m["streaming." + key] = (total / ne, "ms")
    epoch_total = sum(dur_ms(e) for e in epochs)
    m["streaming.phase_coverage"] = (phase_total / epoch_total if epoch_total else 0.0, "fraction")
    m["streaming.state_rows"] = (mean(e["attrs"]["stateRows"] for e in epochs), "rows")
    m["streaming.state_mb"] = (mean(e["attrs"]["stateBytes"] for e in epochs) / 1e6, "MB")
    m["streaming.state_commit_ms"] = (mean(e["attrs"]["stateCommitMs"] for e in epochs), "ms")
    m["streaming.state_rows_removed"] = (
        sum(e["attrs"]["stateRowsRemoved"] for e in epochs) / max(len(drains), 1), "rows")
    kept = sum(d["attrs"]["rows"] for d in drains)
    dropped = sum(e["attrs"]["droppedDuplicates"] for e in epochs)
    m["streaming.dedup_keep_ratio"] = (kept / (kept + dropped) if kept else 0.0, "fraction")
    drain_ns = sum(d["attrs"]["drainNs"] for d in drains)
    m["sinks.connections_per_epoch"] = (sum(d["attrs"]["connections"] for d in drains) / ne, "count")
    m["sinks.server_busy_frac"] = (
        sum(d["attrs"]["busyNs"] for d in drains) / (drain_ns * cores) if drain_ns else 0.0,
        "fraction")
    m["sinks.handshake_ms"] = (statistics.median(dur_ms(s) for s in t.named("sinks.handshake")), "ms")

    onecore = t.named("drain.onecore")[0]["attrs"]
    one_rate = onecore["rows"] / (onecore["drainNs"] / 1e9)
    full_rate = sum(d["attrs"]["rows"] for d in drains) / (drain_ns / 1e9)
    m["engine.rows_per_s_1core"] = (one_rate, "rows/s")
    m["engine.scaling"] = (full_rate / one_rate, "ratio")

    # direct layer calls
    m["sources.capture_msgs_per_s"] = (statistics.median(
        s["attrs"]["msgs"] / (dur_ms(s) / 1e3) for s in t.named("sources.capture")), "1/s")
    m["sources.index_ms"] = (statistics.median(dur_ms(s) for s in t.named("sources.index")), "ms")
    read = t.named("sources.read")[0]
    m["sources.read_ns_per_row"] = (dur_ms(read) * 1e6 / read["attrs"]["rows"], "ns")
    m["sources.malformed_rows"] = (read["attrs"]["lines"] - read["attrs"]["rows"], "rows")
    raw = t.named("pipeline.raw")[0]
    m["pipeline.raw_ns_per_row"] = (dur_ms(raw) * 1e6 / raw["attrs"]["rows"], "ns")
    m["pipeline.subject_pass_ratio"] = (raw["attrs"]["rowsOut"] / raw["attrs"]["rows"], "fraction")
    ana = t.named("pipeline.analytics")[0]
    m["pipeline.analytics_ns_per_row"] = (dur_ms(ana) * 1e6 / ana["attrs"]["rows"], "ns")
    for w in WIRES:
        def ns_per_row(piece):
            spans = t.named(f"sinks.{w}.{piece}")
            return statistics.median(dur_ms(s) for s in spans) * 1e6 / spans[0]["attrs"]["rows"]
        ns = {k: ns_per_row(k) for k in ("writer", "serialize", "compress")}
        # the native wire's send cannot be called alone: its remainder
        ns["send"] = (ns_per_row("send") if t.named(f"sinks.{w}.send")
                      else ns["writer"] - ns["serialize"] - ns["compress"])
        wr = t.named(f"sinks.{w}.writer")[0]["attrs"]
        co = t.named(f"sinks.{w}.compress")[0]["attrs"]
        m[f"sinks.{w}.writer_ns_per_row"] = (ns["writer"], "ns")
        m[f"sinks.{w}.serialize_ns_per_row"] = (ns["serialize"], "ns")
        m[f"sinks.{w}.compress_ns_per_row"] = (ns["compress"], "ns")
        m[f"sinks.{w}.send_ns_per_row"] = (ns["send"], "ns")
        m[f"sinks.{w}.wire_bytes_per_row"] = (wr["wireBytes"] / wr["rows"], "B")
        m[f"sinks.{w}.compress_ratio"] = (co["bytesIn"] / co["bytesOut"], "ratio")

    # batch layers: the battery's timed passes, or the traced probe queries
    queries = steps if workload == "battery" else t.named("query", t.named("complement"))
    for f, code in zip(FAMILIES, (0.0, 1.0, 2.0)):
        qs = [q for q in queries if q["attrs"]["family"] == code]
        nq = max(len(qs), 1)
        _, st, tq = stage_sums(t, qs)
        qwall = sum(dur_ms(q) for q in qs)
        m[f"batch.{f}.s"] = (qwall / 1e3 / nq, "s")
        m[f"batch.{f}.stages"] = (len(st) / nq, "count")
        m[f"batch.{f}.tasks"] = (tq("tasks") / nq, "count")
        m[f"batch.{f}.util"] = (tq("runMs") / (qwall * cores) if qwall else 0.0, "fraction")
        m[f"batch.{f}.task_cpu_s"] = (tq("cpuMs") / 1e3 / nq, "s")
        m[f"batch.{f}.gc_s"] = (tq("gcMs") / 1e3 / nq, "s")
        m[f"batch.{f}.shuffle_mb"] = (tq("shuffleBytes") / 1e6 / nq, "MB")
        m[f"batch.{f}.spill_mb"] = (tq("spillBytes") / 1e6 / nq, "MB")
    parents = units if workload == "battery" else t.named("complement")
    m["batch.cache_release_ms"] = (mean(dur_ms(s) for s in t.named("cache_release", parents)), "ms")
    return m


def unsteady_wires(t):
    """Wires whose repeated writer calls put different byte counts on the
    wire: the same rows must always encode to the same bytes."""
    return [w for w in WIRES
            if len({s["attrs"]["wireBytes"] for s in t.named(f"sinks.{w}.writer")}) != 1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-refs", action="store_true",
                    help="rewrite data/corpus/refs.tsv from the current results "
                    "(only after tools/check.py passed them against the oracle)")
    args = ap.parse_args()
    if args.write_refs:
        args.workload, args.seed, args.seconds = "battery", 0, 0
    elif None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")
    started = time.time()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: src/main/scala/graft is missing")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    build_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build(root, os.path.join(build_root, "perfbench"))

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(build_root, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    props = {
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "tmp"),
        "spark.sql.streaming.streamingQueryListeners": "perfbench.ProgressListener",
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "derby.system.home": os.path.join(work, "tmp"),
        "log4j2.configurationFile": os.path.join(HERE, "log4j2.properties"),
    }
    if args.trace:
        props["spark.extraListeners"] = "perfbench.StageListener"
    # a fixed, pre-touched heap: peak RSS then varies with off-heap memory
    # only, instead of with when the collector chose to grow the heap
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-D{k}={v}" for k, v in props.items()]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--work", work,
              "--corpus", os.path.join(HERE, "data", "corpus"), "--out", out]
           + (["--write-refs", "1"] if args.write_refs else []))
    env = dict(os.environ, SPARK_MASTER=f"local[{cores}]", SPARK_GRAFT_CPUS=str(cores))
    log = os.path.join(work, "harness.log")
    budget = max(10, RUN_DEADLINE_S - (time.time() - started))
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                timeout=budget).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if args.write_refs and rc == 0:
        shutil.rmtree(work, ignore_errors=True)
        return
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        fail(f"harness exited with {rc}", 1)
    with open(out) as fh:
        res = json.load(fh)
    for note in res["notes"]:
        print(f"perfbench: {note}", file=sys.stderr)

    e2e = end_to_end(res)
    if args.trace:
        trace = Trace(os.path.join(work, "trace.jsonl"))
        metrics = per_layer(trace, args.workload)
        unsteady = unsteady_wires(trace)
        res["attempted"] += len(WIRES)
        res["failed"] += len(unsteady)
        for w in unsteady:
            print(f"perfbench: {w} wrote different byte counts for the same rows", file=sys.stderr)
        metrics.update({"traced." + k: v for k, v in e2e.items()})
    else:
        metrics = e2e
    shutil.rmtree(work, ignore_errors=True)
    correct = res["failed"] == 0 and res["attempted"] > 0
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

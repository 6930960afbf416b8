#!/usr/bin/env python3
"""OSMExpress-on-Spark benchmark: one workload, one seed, one window.

    python3 osmbench/run.py --workload serve|replicate --seed N \
        --seconds S --trace 0|1

Builds the benchmark (sbt, first run only), launches one Spark
``local[nproc]`` JVM that sets the store up three times, runs the
workload's closed loop for ``--seconds`` and checks every answer, then
prints the metrics. The last line of stdout is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. Everything else (build log, Spark log, a summary) goes to
stderr. The exit code is 0 for a correct run, 1 when a check failed and
2-5 when the run could not happen (bad arguments, a tuning knob set in
the environment, no library sources, build or JVM failure).

See README.md next to this file for the workloads and the metrics.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIBRARY = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH_FILE = os.path.join(HERE, "target", "runtime-classpath.txt")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("serve", "replicate")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "2g"

# Library A/B levers and bench/lookup knobs: either would make the run
# measure something other than the shipped code path.
ALLOWED_KNOBS = {"SPARK_GRAFT_CPUS"}  # read only by other mains


def set_knobs(env):
    return sorted(k for k in env
                  if k.startswith("SPARK_GRAFT_") and k not in ALLOWED_KNOBS)


# ---- statistics ----------------------------------------------------------

def percentile(values, p):
    """Nearest-rank percentile (p in [0, 100]) of a non-empty sample."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[min(rank, len(s)) - 1]


def tail_percentile(n, beyond=10):
    """Highest whole percentile with at least `beyond` of `n` samples
    above its nearest-rank position, or None when n <= beyond."""
    for p in range(99, 0, -1):
        if n - max(1, math.ceil(p / 100.0 * n)) >= beyond:
            return p
    return None


def median(values):
    return statistics.median(values) if values else 0.0


# ---- metrics -------------------------------------------------------------

def bulk_key(workload):
    """The samples behind bulk_op_p50_s."""
    return "extract_s" if workload == "serve" else "apply.minutely_s"


def end_to_end(workload, raw):
    s, v = raw["samples"], raw["values"]
    bulk = s[bulk_key(workload)]
    store = v["setup_store_bytes"] if workload == "serve" else v["store_bytes"]
    return {
        "setup_s": (median(s["setup_s"]), "s"),
        "lookup_p50_ms": (median(s["lookup_ms"]), "ms"),
        "bulk_op_p50_s": (median(bulk), "s"),
        "store_bytes_ratio": (store / v["pbf_bytes"], "ratio"),
    }


def per_layer(workload, raw):
    s, v = raw["samples"], raw["values"]
    layers = v.get("layers", {})
    out = {}

    def put(name, value, unit):
        out[name] = (float(value), unit)

    def med(key):
        return median(s.get(key, []))

    def layer(name, field, per_call=True):
        lay = layers.get(name)
        if not lay or not lay["count"]:
            return 0.0
        return lay[field] / (lay["count"] if per_call else 1)

    def layers_sum(prefix, field):
        return sum(l[field] for n, l in layers.items() if n.startswith(prefix))

    # osm.PointReader / OsmDb
    lookups = s.get("lookup_ms", [])
    lookup_tp = tail_percentile(len(lookups))
    put("lookup.count", len(lookups), "count")
    put("lookup.tail_ms", percentile(lookups, lookup_tp) if lookup_tp
        else max(lookups, default=0.0), "ms")
    put("lookup.tail_pct", lookup_tp or 100, "pct")
    for kind in ("location", "node", "way", "relation", "parents"):
        put(f"pointreader.{kind}_p50_ms", med(f"lookup.{kind}_ms"), "ms")
    first = s.get("lookup.first_touch_ms", [])
    warm = s.get("lookup.present_ms", [])
    put("pointreader.first_touch_p50_ms", median(first), "ms")
    put("pointreader.warm_p50_ms", median(warm), "ms")
    put("pointreader.absent_p50_ms", med("lookup.absent_ms"), "ms")
    # spatial.Coverer
    put("coverer.cover_ms", med("coverer.cover_ms"), "ms")
    put("coverer.cells", med("coverer.cells"), "count")
    put("coverer.ranges", med("coverer.ranges"), "count")
    # spatial.SpatialScan + osm.Extract + ops.Closure, then the encoder
    put("extract.count", len(s.get("extract_s", [])), "count")
    put("extract.complete_s", med("extract.complete_s"), "s")
    put("extract.complete_jobs", layer("extract.complete", "jobs"), "count")
    put("extract.complete_driver_s", layer("extract.complete", "driver_s"),
        "s")
    put("extract.write_s", med("extract.write_s"), "s")
    put("extract.write_jobs", layer("extract.write", "jobs"), "count")
    put("extract.bytes_out", med("extract.bytes_out"), "bytes")
    write_s = sum(s.get("extract.write_s", []))
    put("extract.write_mb_per_s",
        sum(s.get("extract.bytes_out", [])) / 1e6 / write_s if write_s
        else 0.0, "MB/s")
    # sources decode
    decode_s = med("codec.decode_s")
    put("codec.decode_s", decode_s, "s")
    put("codec.decode_mb_per_s",
        v["pbf_bytes"] / 1e6 / decode_s if decode_s else 0.0, "MB/s")
    # osm.Ingest
    put("expand.wall_s", layer("expand", "wall_s"), "s")
    for f, unit in (("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
                    ("driver_s", "s"), ("shuffle_mb", "MB"),
                    ("spill_mb", "MB"), ("bytes_written", "bytes")):
        put(f"expand.{f}", layer("expand", f), unit)
    wall = layer("expand", "wall_s")
    put("expand.cpu_util",
        layer("expand", "cpu_s") / (wall * v["cores"]) if wall else 0.0,
        "ratio")
    put("setup.encode_s", v["encode_s"], "s")
    # streaming.Replication
    for kind in ("minutely", "catchup", "clustered"):
        put(f"apply.{kind}_s", med(f"apply.{kind}_s"), "s")
    cu_s = sum(s.get("apply.catchup_s", []))
    put("apply.catchup_changes_per_s",
        sum(s.get("apply.catchup_changes", [])) / cu_s if cu_s else 0.0,
        "1/s")
    applies = sum(len(s.get(f"apply.{k}_s", []))
                  for k in ("minutely", "catchup", "clustered"))
    for f, unit in (("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
                    ("driver_s", "s"), ("shuffle_mb", "MB")):
        put(f"apply.{f}", layers_sum("apply.", f) / applies if applies
            else 0.0, unit)
    # osm.VersionedTable
    changed = sum(s.get("commit.buckets_changed", []))
    rewritten = sum(s.get("commit.buckets_rewritten", []))
    put("commit.buckets_changed", med("commit.buckets_changed"), "count")
    put("commit.buckets_rewritten", med("commit.buckets_rewritten"), "count")
    put("commit.rewrite_ratio", changed / rewritten if rewritten else 0.0,
        "ratio")
    put("commit.bytes_written", med("commit.bytes_written"), "bytes")
    put("commit.files_written", med("commit.files_written"), "count")
    put("commit.bytes_per_change", med("commit.bytes_per_change"), "bytes")
    put("vacuum.wall_s", med("vacuum.wall_s"), "s")
    put("vacuum.bytes_reclaimed", sum(s.get("vacuum.bytes_reclaimed", [])),
        "bytes")
    # streaming micro-batch operators
    stream = v.get("stream_ms", {})
    put("stream.batches", v.get("stream_batches", 0), "count")
    for phase in ("addBatch", "getBatch", "latestOffset", "queryPlanning",
                  "walCommit", "commitOffsets"):
        put(f"stream.{phase}_ms", stream.get(phase, 0), "ms")
    put("stream.catchup_s", med("stream.catchup_s"), "s")
    # Spark plan/schedule floor: every action of the run
    plan = v.get("plan_ms", [])
    put("plan.queries", len(plan), "count")
    put("plan.p50_ms", median(plan), "ms")
    put("plan.total_s", sum(plan) / 1000.0, "s")
    put("plan.exec_p50_ms", median(v.get("exec_ms", [])), "ms")
    # JVM
    put("jvm.gc_s", v.get("jvm.gc_s", 0.0), "s")
    put("jvm.heap_peak_mb", v.get("jvm.heap_peak_mb", 0.0), "MB")
    # tracing overhead: the traced window against the same requests
    # (serve) or the next commits (replicate) run untraced in the same JVM
    for name, key in (("lookup_p50", "lookup_ms"),
                      ("bulk_op_p50", bulk_key(workload))):
        traced, untraced = med(key), med("untraced." + key)
        put(f"trace.{name}_overhead_pct",
            100.0 * (traced / untraced - 1.0) if untraced else 0.0, "%")
    return out


# ---- build and launch ----------------------------------------------------

def newest_source_mtime():
    newest = 0.0
    for top in (LIBRARY, os.path.join(ROOT, "src", "main", "resources"),
                os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        newest = max(newest, os.path.getmtime(os.path.join(HERE, f)))
    return newest


def build():
    if (os.path.exists(CLASSPATH_FILE)
            and os.path.getmtime(CLASSPATH_FILE) >= newest_source_mtime()):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # no hsperfdata file outside the checkout
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -XX:-UsePerfData").strip()
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH_FILE):
        raise SystemExit(4)
    print(f"[osmbench] built in {time.time() - t0:.1f} s", file=sys.stderr)


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def launch(args, work, raw_path, spans_path):
    with open(CLASSPATH_FILE) as f:
        cp = f.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-XX:ReservedCodeCacheSize=256m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "osmbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", raw_path]
    if spans_path:
        cmd += ["--spans", spans_path]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            cwd=work)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(5)
    if rc != 0 or not os.path.exists(raw_path):
        raise SystemExit(5)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)

    knobs = set_knobs(os.environ)
    if knobs:
        print(f"[osmbench] refusing to run with tuning knobs set: {knobs}",
              file=sys.stderr)
        return 2
    if not os.path.isdir(LIBRARY):
        print(f"[osmbench] no library sources at {LIBRARY}", file=sys.stderr)
        return 3
    build()

    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}-{time.time_ns()}")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    raw_path = os.path.join(work, "raw.json")
    spans = os.path.join(OUT, f"spans-{tag}.jsonl") if args.trace else None
    try:
        os.makedirs(work)
        launch(args, work, raw_path, spans)
        with open(raw_path) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = (per_layer(args.workload, raw) if args.trace
               else end_to_end(args.workload, raw))
    line = result(raw, metrics)
    v = raw["values"]
    summary = {"workload": args.workload, "seed": args.seed,
               "cores": v.get("cores"), "heap_max_mb": v.get("heap_max_mb"),
               "elements": v.get("elements"), "pbf_bytes": v.get("pbf_bytes"),
               "measured_s": v.get("measured_s"),
               "contended": v.get("contended"),
               "contention": v.get("contention"),
               "failures": raw["failures"], "spans": spans}
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump({"summary": summary, "raw": raw, "result": line}, f)
    print(f"[osmbench] {json.dumps(summary)}", file=sys.stderr)
    print(json.dumps(line))
    return 0 if line["correct"] else 1


def result(raw, metrics):
    """The result line: the correctness tally and every metric."""
    return {"correct": raw["failed"] == 0 and raw["attempted"] >= 1,
            "attempted": raw["attempted"], "failed": raw["failed"],
            "metrics": {k: {"value": val, "unit": unit}
                        for k, (val, unit) in metrics.items()}}


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_jdbc --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run builds graft from `src/main`
and the benchmark from `perfbench/scala` with the Scala compiler that ships
in the Spark jar directory (SPARK_HOME/jars, else the `unmanagedBase` of
build.sbt) into `.bench_build/`; later runs reuse the build while the
sources are unchanged. The run prints a short report and, as its last line,
one JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
Traced runs also keep their spans in `.bench_build/traces/`.

    python3 perfbench/run.py --self-test     # unit tests of the statistics
                                             # and of the JVM check code
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("etl_jdbc", "lake_versioned", "sql_mix")
BUILD = ".bench_build"
JVM_TIMEOUT_S = 170
# A fixed heap and young generation under the parallel collector keep
# the JVM's peak RSS from following G1's adaptive sizing.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

SELF_LAYERS = ("op", "queries", "sources", "sinks", "catalyst", "scheduler",
               "executor")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# --------------------------------------------------------------- build --

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("cannot find the Spark jars: set SPARK_HOME")


def sources(pattern_root, suffix):
    out = []
    for dirpath, _, files in os.walk(pattern_root):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(suffix)]
    return sorted(out)


def stamp_of(paths, jars):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def scalac(jars, classpath, out_dir, files):
    compiler = [os.path.join(jars, j) for j in os.listdir(jars)
                if re.match(r"scala-(compiler|library|reflect)-2\.13.*\.jar$", j)]
    if len(compiler) != 3:
        fail("no Scala 2.13 compiler among the Spark jars")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp",
           ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", out_dir] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed", 1)


def build(jars):
    """Compile graft and the benchmark unless the sources are unchanged."""
    if not os.path.isdir(os.path.join("src", "main", "scala")):
        fail("run from the repository root: src/main/scala not found")
    graft_src = sources(os.path.join("src", "main", "scala"), ".scala")
    bench_src = sources(os.path.join(HERE, "scala"), ".scala")
    resources = sources(os.path.join("src", "main", "resources"), "")
    stamp = stamp_of(graft_src + bench_src + resources, jars)
    out = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(out, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="build-", dir=BUILD)
    graft_out = os.path.join(tmp, "graft")
    bench_out = os.path.join(tmp, "bench")
    os.makedirs(graft_out)
    os.makedirs(bench_out)
    jar_cp = os.path.join(jars, "*")
    scalac(jars, jar_cp, graft_out, graft_src)
    res_root = os.path.join("src", "main", "resources")
    if os.path.isdir(res_root):
        shutil.copytree(res_root, graft_out, dirs_exist_ok=True)
    scalac(jars, graft_out + ":" + jar_cp, bench_out, bench_src)
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def java_cmd(classes, jars, main, args, work):
    cp = ":".join([os.path.join(classes, "bench"),
                   os.path.join(classes, "graft"), os.path.join(jars, "*")])
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    return (["java", "-XX:-UsePerfData"] + JVM_OPTS + [
             "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
             f"-Dderby.system.home={work}",
             f"-Dderby.stream.error.file={work}/derby.log"] + opens +
            ["-cp", cp, main] + args)


# ------------------------------------------------------------- metrics --

def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def end_to_end(ops, summary):
    ok = [o for o in ops if o["ok"]]
    busy_s = sum(o["ms"] for o in ok) / 1000.0
    lat = [o["ms"] for o in ok]
    t = stats.tail(lat)
    return {
        "setup_s": (summary["setup_s"], "s"),
        "ops_per_s": (len(ok) / busy_s if busy_s else 0.0, "1/s"),
        "rows_per_s": (sum(o["rows"] for o in ok) / busy_s if busy_s
                       else 0.0, "1/s"),
        "peak_rss_mb": (summary["peak_rss_mb"], "MB"),
    }, t


def per_layer(ops, spans, summary):
    n = max(1, len(ops))
    gauges = summary.get("gauges", {})

    def c(o, k):
        return o.get("c", {}).get(k, 0.0)

    def mean(k, subset=None):
        sub = ops if subset is None else subset
        return sum(c(o, k) for o in sub) / max(1, len(sub))

    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)

    def span_ms(o, name):
        return sum((s["end"] - s["start"]) / 1000.0
                   for s in by_op.get(o["i"], ()) if s["name"] == name)

    def span_median(name):
        xs = [span_ms(o, name) for o in ops
              if any(s["name"] == name for s in by_op.get(o["i"], ()))]
        return stats.median(xs) if xs else 0.0

    gaps = []
    for o in ops:
        root = [s for s in by_op.get(o["i"], ()) if s["parent"] is None
                and s["name"].startswith("op.")]
        if not root:
            continue
        r = root[0]
        jobs = [(max(s["start"], r["start"]), min(s["end"], r["end"]))
                for s in by_op[o["i"]] if s["name"] == "scheduler.job"]
        gaps.append(((r["end"] - r["start"]) - stats.union_length(jobs))
                    / 1000.0)

    writes = [o for o in ops if o["kind"] == "write"]
    batched = [o for o in writes if c(o, "sinks.batch.batches") > 0]
    batches = sum(c(o, "sinks.batch.batches") for o in ops)
    rows_in_batches = sum(c(o, "sinks.batch.rows") for o in ops)
    fills = [c(o, "sinks.batch.rows") / c(o, "sinks.batch.batches")
             / c(o, "sinks.batch.size") for o in batched
             if c(o, "sinks.batch.size") > 0]
    split = [o for o in ops if c(o, "sources.split.partitions") > 0]
    skews = [c(o, "sources.split.skew") for o in ops
             if c(o, "sources.split.skew") > 0]
    skew_stages = sum(c(o, "executor.skew_stages") for o in ops)
    selfs = stats.self_time_by_layer(spans)

    def lat(kind):
        xs = [o["ms"] for o in ops if o["ok"] and o["kind"] == kind]
        return stats.median(xs) if xs else 0.0

    m = {
        "queries.build_ms": (span_median("queries.build"), "ms"),
        "catalyst.analysis_ms": (sum(span_ms(o, "catalyst.analysis")
                                     for o in ops) / n, "ms"),
        "catalyst.optimization_ms": (sum(span_ms(o, "catalyst.optimization")
                                         for o in ops) / n, "ms"),
        "catalyst.planning_ms": (sum(span_ms(o, "catalyst.planning")
                                     for o in ops) / n, "ms"),
        "scheduler.jobs": (mean("scheduler.jobs"), "count"),
        "scheduler.stages": (mean("scheduler.stages"), "count"),
        "scheduler.tasks": (mean("scheduler.tasks"), "count"),
        "driver.gap_ms": (stats.median(gaps), "ms"),
        "operators.pin_bytes": (gauges.get("operators.pin_bytes", 0.0),
                                "bytes"),
    }
    for k, unit in (("list_ops", "count"), ("read_ops", "count"),
                    ("write_ops", "count"), ("bytes_read", "bytes"),
                    ("bytes_written", "bytes")):
        m[f"fs.{k}"] = (mean(f"fs.{k}"), unit)
    m.update({
        "sinks.lake.versions": (gauges.get("sinks.lake.versions", 0.0),
                                "count"),
        "sinks.lake.files_live": (gauges.get("sinks.lake.files_live", 0.0),
                                  "count"),
        "sinks.lake.space_amp": (gauges.get("sinks.lake.space_amp", 0.0),
                                 "ratio"),
        "sinks.batch.batches": (mean("sinks.batch.batches", writes)
                                if writes else 0.0, "count"),
        "sinks.batch.rows_per_batch": (rows_in_batches / batches
                                       if batches else 0.0, "count"),
        "sinks.batch.fill": (stats.median(fills) if fills else 0.0, "ratio"),
        "sinks.batch.write_ms": (mean("sinks.batch.write_ns", writes) / 1e6
                                 if writes else 0.0, "ms"),
        "sinks.batch.retries": (sum(c(o, "sinks.batch.retries")
                                    for o in ops), "count"),
        "sources.split.bounds_ms": (span_median("sources.read"), "ms"),
        "sources.split.partitions": (mean("sources.split.partitions", split)
                                     if split else 0.0, "count"),
        "sources.split.skew": (stats.median(skews) if skews else 0.0,
                               "ratio"),
        "executor.run_ms": (mean("executor.run_ms"), "ms"),
        "executor.cpu_ms": (mean("executor.cpu_ms"), "ms"),
        "executor.gc_ms": (mean("executor.gc_ms"), "ms"),
        "executor.scan_bytes": (mean("executor.scan_bytes"), "bytes"),
        "executor.shuffle_read_bytes": (mean("executor.shuffle_read_bytes"),
                                        "bytes"),
        "executor.shuffle_write_bytes": (
            mean("executor.shuffle_write_bytes"), "bytes"),
        "executor.spill_bytes": (mean("executor.spill_bytes"), "bytes"),
        "executor.task_skew": (sum(c(o, "executor.task_skew_sum")
                                   for o in ops) / skew_stages
                               if skew_stages else 0.0, "ratio"),
        "jvm.gc_ms": (mean("jvm.gc_ms"), "ms"),
        "ops.ops_per_s": (end_to_end(ops, summary)[0]["ops_per_s"][0], "1/s"),
        "ops.read_p50_ms": (lat("read"), "ms"),
        "ops.write_p50_ms": (lat("write"), "ms"),
    })
    for layer in SELF_LAYERS:
        m[f"self.{layer}_ms"] = (selfs.get(layer, 0.0) / 1000.0 / n, "ms")
    return m


def report(name, seed, ops, tail, summary):
    """Human-readable lines printed before the result line."""
    ok = [o for o in ops if o["ok"]]
    print(f"workload {name} seed {seed}: {len(ops)} ops, "
          f"{len(ops) - len(ok)} failed")
    phases = summary.get("setup_phases_s", {})
    print("  set-up " + ", ".join(f"{k} {v:.2f} s" for k, v in phases.items()))
    for kind in ("read", "write"):
        xs = [o["ms"] for o in ok if o["kind"] == kind]
        if xs:
            t = stats.tail(xs)
            extra = (f", p{t[0]} {t[1]:.1f} ms ({t[2]} beyond)" if t
                     else " (too few samples for a tail)")
            print(f"  {kind}: {len(xs)} ops, p50 {stats.median(xs):.1f} ms"
                  + extra)
    names = sorted({o["name"] for o in ok})
    print("  p50 by op: " + ", ".join(
        f"{n} {stats.median([o['ms'] for o in ok if o['name'] == n]):.0f} ms"
        for n in names))
    if tail:
        print(f"  tail: p{tail[0]} {tail[1]:.1f} ms of {len(ok)} ops "
              f"({tail[2]} samples beyond)")
    else:
        print(f"  no tail: {len(ok)} ops leave fewer than "
              f"{stats.TAIL_BEYOND} samples beyond any percentile above p50")
    for o in ops:
        if not o["ok"]:
            print(f"  FAILED op {o['i']} {o['name']}: {o['err']}")


# ---------------------------------------------------------------- main --

def self_test(jars):
    import unittest
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    if not unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful():
        sys.exit(1)
    classes = build(jars)
    work = tempfile.mkdtemp(prefix="selftest-", dir=BUILD)
    try:
        os.makedirs(os.path.join(work, "tmp"))
        r = subprocess.run(java_cmd(classes, jars, "perfbench.SelfTest", [],
                                    work), timeout=JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(r.returncode)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-expected", metavar="PATH",
                    help="sql_mix: write the expected results to PATH")
    a = ap.parse_args()
    jars = spark_jars()
    if a.self_test:
        self_test(jars)
    if not a.workload:
        ap.error("--workload is required")
    classes = build(jars)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()
    work = tempfile.mkdtemp(prefix=f"run-{a.workload}-", dir=BUILD)
    out = os.path.join(work, "out")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out, "--cores", str(cores),
            "--expected", os.path.join(HERE, "expected_sql.json"),
            "--data", os.path.join(HERE, "data", "sf0.01")]
    if a.record_expected:
        args += ["--record", os.path.abspath(a.record_expected)]
    try:
        os.makedirs(os.path.join(work, "tmp"))
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            try:
                r = subprocess.run(java_cmd(classes, jars, "perfbench.Main",
                                            args, work),
                                   stdout=log, stderr=subprocess.STDOUT,
                                   timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"the JVM did not finish within {JVM_TIMEOUT_S} s", 1)
        if r.returncode != 0:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"the JVM exited with code {r.returncode}", 1)
        ops = read_jsonl(os.path.join(out, "ops.jsonl"))
        summary = read_jsonl(os.path.join(out, "summary.json"))[0]
        spans = read_jsonl(os.path.join(out, "spans.jsonl"))
        if not ops:
            fail("no op completed", 1)
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            for f in ("ops.jsonl", "spans.jsonl"):
                shutil.copy(os.path.join(out, f), os.path.join(
                    traces, f"{a.workload}-{a.seed}.{f}"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, tail = end_to_end(ops, summary)
    report(a.workload, a.seed, ops, tail, summary)
    metrics = per_layer(ops, spans, summary) if a.trace else e2e
    failed = sum(1 for o in ops if not o["ok"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()

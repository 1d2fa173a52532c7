#!/usr/bin/env python3
"""Repository benchmark: OLAP workloads driven through the engine's public
entry points, end-to-end latency with tracing off, per-layer spans and
counts with tracing on. See perfbench/README.md.

    python3 perfbench/run.py --workload olap_hot --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8 --trace 1
    python3 perfbench/run.py --selftest

The first run in a checkout compiles the engine (src/main/scala) and the
harness (perfbench/src) with the Scala compiler of the Spark distribution
(SPARK_HOME, or the one `spark-submit` on PATH belongs to) and generates
the corpus; both land in perfbench/.out. The last line of standard output
is one JSON object: correct, attempted, failed and metrics.
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
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
OUT = os.path.join(HERE, ".out")
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

WORKLOADS = ["olap_hot", "olap_adhoc"]
CPUS = min(4, os.cpu_count() or 1)
JVM_TIMEOUT_S = 165
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found (set JAVA_HOME)")
    return exe


def sources():
    out = []
    for base in (ENGINE_SRC, HARNESS_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile engine + harness once per source state; return the class dir."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}")
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(OUT, "classes-" + stamp)
    if os.path.isdir(classes):
        return classes
    os.makedirs(OUT, exist_ok=True)
    for old in os.listdir(OUT):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    os.rename(tmp, classes)
    return classes


def corpus():
    import gen_data
    with open(os.path.join(HERE, "gen_data.py"), "rb") as fh:
        stamp = hashlib.sha256(fh.read()).hexdigest()[:16]
    data = os.path.join(OUT, "data-" + stamp)
    if not os.path.isdir(data):
        gen_data.build(data)
    return data


def run_jvm(classes, jars, data, workload, seed, seconds, trace):
    work = os.path.join(OUT, "work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, f"{workload}-seed{seed}-trace{trace}.json")
    for f in (out, out + ".results"):
        if os.path.exists(f):
            os.remove(f)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java(), "-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", *opens, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classes + os.pathsep + os.path.join(jars, "*"),
           "perfbench.Harness", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--data", data,
           "--out", out, "--cpus", str(CPUS)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        # Spark's scratch space follows SPARK_LOCAL_DIRS over any conf; keep
        # it, like the JVM's temp dir, inside the checkout
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{workload}: harness JVM timed out after {JVM_TIMEOUT_S}s")
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            print(fh.read()[-4000:], file=sys.stderr)
        fail(f"{workload}: harness JVM exited with {p.returncode}")
    with open(out) as fh:
        record = json.load(fh)
    results = {}
    with open(out + ".results") as fh:
        for line in fh:
            if line.strip():
                h, j = line.rstrip("\n").split("\t", 1)
                results[h] = json.loads(j)
    return record, results, out


def check(record, results, data):
    """Check every operation; return (attempted, failed, reasons)."""
    import oracle
    o = oracle.Oracle(data)
    deltas = record["extra"].get("deltas", [])
    failed, reasons = 0, []
    for op in record["ops"]:
        why = op["error"]
        if why is None and op["kind"] != "write":
            why = o.check(op["template"], op["params"], deltas, results[op["result"]])
        if why is not None:
            failed += 1
            if len(reasons) < 5:
                reasons.append(f"{op['template']} {json.dumps(op['params'])}: {why}")
    return len(record["ops"]), failed, reasons


def tail(values):
    """The highest percentile with at least 10 samples beyond it (the
    maximum when there are 10 or fewer samples)."""
    s = sorted(values)
    if len(s) <= 10:
        return s[-1], 100.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(record):
    reads = [o["ms"] for o in record["ops"] if o["phase"] == "measure" and o["kind"] == "read"]
    return {
        "setup_s": metric(statistics.median(record["setup_s"]), "s"),
        "op_p50_ms": metric(statistics.median(reads), "ms"),
        "ops_per_s": metric(len(reads) / record["measure_s"], "1/s"),
    }


LAYERS = ["mdx.parse", "planner.build", "catalyst.analyze", "catalyst.optimize",
          "catalyst.plan", "exec", "result.render"]
COUNTS = [("exec.jobs", "jobs", "count", 1), ("exec.stages", "stages", "count", 1),
          ("exec.tasks", "tasks", "count", 1), ("exec.task_ms", "task_ms", "ms", 1),
          ("exec.shuffle_write_kb", "shuffle_write_bytes", "KiB", 1024),
          ("exec.shuffle_read_kb", "shuffle_read_bytes", "KiB", 1024),
          ("exec.spill_kb", "spill_bytes", "KiB", 1024),
          ("planner.build_jobs", "build_jobs", "count", 1)]


def mean(values):
    return statistics.fmean(values) if values else 0.0


def per_layer(record):
    """Layer metrics of a traced run: per traced read, the mean of each
    layer's self-time and Spark counts (means, so the layers and
    trace.unattributed_ms add up to trace.traced_mean_ms)."""
    ops = {o["i"]: o for o in record["ops"] if o["phase"] == "measure"}
    reads = [o for o in ops.values() if o["kind"] == "read"]
    read_layers = [l for l in record["layers"] if ops[l["i"]]["kind"] == "read"]
    write_layers = [l for l in record["layers"] if ops[l["i"]]["kind"] == "write"]

    def self_ms(layers, name):
        return mean([l["self_ms"].get(name, 0.0) for l in layers])

    m = {}
    for name in LAYERS:
        key = "exec.ms" if name == "exec" else name + "_ms"
        m[key] = metric(self_ms(read_layers, name), "ms")
    for name, field, unit, scale in COUNTS:
        m[name] = metric(mean([l[field] for l in read_layers]) / scale, unit)
    m["trace.unattributed_ms"] = metric(self_ms(read_layers, "unattributed"), "ms")
    m["trace.traced_mean_ms"] = metric(mean([l["ms"] for l in read_layers]), "ms")
    traced = [o["ms"] for o in reads if o["traced"]]
    untraced = [o["ms"] for o in reads if not o["traced"]]
    m["trace.untraced_mean_ms"] = metric(mean(untraced), "ms")
    m["trace.overhead_pct"] = metric(
        100.0 * (statistics.median(traced) / statistics.median(untraced) - 1)
        if traced and untraced else 0.0, "%")
    m["ingest.apply_ms"] = metric(self_ms(write_layers, "ingest.apply"), "ms")
    m["ingest.jobs"] = metric(mean([l["ingest_jobs"] for l in write_layers]), "count")
    write_ms = [o["ms"] for o in ops.values() if o["kind"] == "write"]
    m["write_p50_ms"] = metric(statistics.median(write_ms) if write_ms else 0.0, "ms")
    m["write_tail_ms"] = metric(tail(write_ms)[0] if write_ms else 0.0, "ms")
    t, pct = tail([o["ms"] for o in reads])
    m["op_tail_ms"] = metric(t, "ms")
    m["op_tail_pct"] = metric(pct, "%")
    m["op_samples"] = metric(len(reads), "count")
    seg = record["segcache"]
    lookups = seg["hits"] + seg["misses"]
    m["segcache.lookups"] = metric(lookups, "count")
    m["segcache.hit_ratio"] = metric(seg["hits"] / lookups if lookups else 0.0, "ratio")
    for k in ("misses", "evictions", "pinned_skips", "merges"):
        m["segcache." + k] = metric(seg[k], "count")
    m["segcache.resident_mb"] = metric(seg["resident_bytes"] / 2**20, "MiB")
    m["segcache.budget_kb"] = metric(seg["budget_bytes"] / 1024, "KiB")
    m["segcache.working_set_kb"] = metric(record["resident_growth_bytes"] / 1024, "KiB")
    m["storage_mb"] = metric(record["storage_bytes"] / 2**20, "MiB")
    m["exec.codegen_compiles"] = metric(record["codegen"]["compiles"], "count")
    m["exec.codegen_ms"] = metric(record["codegen"]["ms"], "ms")
    m["setup.codegen_compiles"] = metric(record["setup_codegen"]["compiles"], "count")
    m["setup.codegen_ms"] = metric(record["setup_codegen"]["ms"], "ms")
    m["jvm.gc_ms"] = metric(record["gc_ms"], "ms")
    m["host.calib_ms"] = metric(min(record["calib_ms"], default=0.0), "ms")
    return m


def run_one(args, classes, jars, data):
    record, results, path = run_jvm(classes, jars, data, args.workload, args.seed,
                                    args.seconds, args.trace)
    attempted, failed, reasons = check(record, results, data)
    metrics = per_layer(record) if args.trace else end_to_end(record)
    if args.trace:
        metrics["error_ratio"] = metric(failed / attempted, "ratio")
    for r in reasons:
        print(f"perfbench: FAILED {r}", file=sys.stderr)
    if record["calib_error"]:
        print(f"perfbench: calibration probe failed: {record['calib_error']}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} record={os.path.relpath(path, ROOT)}"
          f" error_ratio={failed / attempted:.4f} calib_ms={record['calib_ms']}"
          f" setup_s={record['setup_s']}")
    for k, v in sorted(metrics.items()):
        print(f"#   {k} = {v['value']:.6g} {v['unit']}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="show that perturbed results fail the checks")
    args = ap.parse_args()
    if args.workload != "all" and args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r} (have: {', '.join(WORKLOADS)})")
    if args.selftest:
        import oracle
        problems = oracle.selftest(corpus())
        print(json.dumps({"selftest_failures": problems}))
        sys.exit(1 if problems else 0)
    jars = spark_jars()
    classes = build(jars)
    data = corpus()
    if args.workload == "all":
        out = {}
        for w in WORKLOADS:
            started = time.time()
            out[w] = run_one(argparse.Namespace(**{**vars(args), "workload": w}),
                             classes, jars, data)
            print(f"# {w} took {time.time() - started:.1f}s")
        print(json.dumps(out))
        sys.exit(0 if all(r["correct"] for r in out.values()) else 1)
    print(json.dumps(run_one(args, classes, jars, data)))


if __name__ == "__main__":
    main()

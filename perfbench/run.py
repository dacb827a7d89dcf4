#!/usr/bin/env python3
"""The benchmark: one command, run from the root of the repository.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program and the JVM harness under `perfbench/jvm` from source
(once per checkout), generates the workload's inputs from the seed
(`gen.py`), runs the workload in one JVM (`perfbench.Driver`), checks the
outputs and prints, as its last stdout line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with `--trace 0`,
the per-layer ones with `--trace 1`. Each run also leaves a full artifact
under `perfbench/.work/artifacts/`. See README.md for what is measured and why.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

# Spark task slots: fixed, so runs on larger hosts measure the same thing.
# Three of a 4-core host's cores leave one for the driver thread, the JIT
# and GC: over ten seeds the spread of query_mix passes was 0.25 at four
# slots and 0.07-0.18 at three.
SLOTS = 3
JVM_TIMEOUT_S = 170

# Per workload: generator sizes, discarded warm-up ops, and timed ops per
# second of --seconds (20 in BENCHMARK.json). Work is a fixed function of
# the arguments, never of the clock.
WORKLOADS = {
    # 9 warm-up syncs, 3 per task slot; 4000 events per sync compress to
    # ~50 KB of parquet, so a 175 KB limit (3.5 syncs) rolls the events file
    # over every 4 syncs and the 8 timed syncs are 2 whole compaction cycles
    "incremental_syncs": dict(warmup=9, ops_per_s=0.4, block_limit="175K"),
    # warm-up: 1 concurrent round, then 1 sequential pass; then 2 timed passes
    "query_mix": dict(warmup=2, ops_per_s=0.1, sf=0.01),
}


def log(msg):
    print("[perfbench] %s" % msg, file=sys.stderr, flush=True)


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    for flag, key in (("-Dsbt.offline=true", "sbt.offline"),
                      ("-Dsbt.override.build.repos=true", "sbt.override.build.repos"),
                      ("-Xmx2g", "-Xmx"), ("-XX:-UsePerfData", "UsePerfData")):
        if key not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    return env


def source_fingerprint():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "jvm", "src", "main"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "jvm", "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(("%s %d %d\n" % (p, st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the JVM classpath and
    the fingerprint of the sources it was built from."""
    for need in ("build.sbt", os.path.join("src", "main")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit("perfbench: the program's sources (%s) are missing" % need)
    stamp = os.path.join(BUILD, "classpath.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["fingerprint"] == fp:
            return cached["classpath"], fp
    log("building (sbt compile) ...")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "jvm"), env=sbt_env(), stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l][-1]
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    log("built in %.0f s" % (time.time() - t0))
    return cp, fp


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(cp, workload, inputs, work, warmup, ops, trace, extra):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed set of JIT compiler threads: Driver.scala reads their CPU time
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
           "-Djava.io.tmpdir=" + tmp]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Driver", "--workload", workload,
            "--inputs", inputs, "--work", work, "--slots", str(SLOTS),
            "--warmup", str(warmup), "--ops", str(ops), "--trace", str(trace),
            "--out", out]
    for k, v in extra.items():
        cmd += ["--" + k, str(v)]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=logf,
                           stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit("perfbench: the driver JVM failed (exit %d)" % p.returncode)
    with open(out) as f:
        return json.load(f)


def cpu_jiffies():
    """(steal, total) CPU jiffies since boot, all CPUs; (0, 0) without
    /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return 0, 0
    return v[7], sum(v)


def oracle_check(tables_dir, manifest, verify_dir):
    """Each entry's warm-up result against its DuckDB oracle, compared the
    way tools/check_oracle.py compares. Returns a list of failures."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import canon
    con = duckdb.connect()
    for t in manifest["tables"]:
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, tables_dir, t))
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failures = []
    for name, _ in metrics.QUERY_ENTRIES:
        try:
            got = con.sql("SELECT * FROM '%s/%s/*.parquet'" % (verify_dir, name)).df()
            if name not in oracles:
                if len(got) == 0:
                    failures.append("%s: empty result" % name)
                continue
            expected = con.sql(oracles[name]).df()
        except Exception as e:  # a missing dump or a failing oracle fails the check
            failures.append("%s: %s" % (name, e))
            continue
        if sorted(expected.columns.str.lower()) != sorted(got.columns.str.lower()):
            failures.append("%s: columns differ" % name)
        elif canon(expected) != canon(got):
            failures.append("%s: rows differ from the oracle" % name)
    return failures


def run(workload, seed, seconds, trace):
    spec = WORKLOADS[workload]
    cp, source = build()
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    warmup = spec["warmup"]
    ops = max(2, int(seconds * spec["ops_per_s"] + 0.5))

    # every run names the query entries: traced runs report them, 0 when idle
    extra = {"entries": ",".join("%s:%s" % e for e in metrics.QUERY_ENTRIES)}
    t_setup = time.time()
    cpu_setup = time.process_time()
    if workload == "incremental_syncs":
        manifest = gen.generate(workload, seed, inputs, n_syncs=ops, n_warmup=warmup)
        extra["block-limit"] = spec["block_limit"]
    else:
        manifest = gen.generate(workload, seed, inputs, sf=spec["sf"])
    gen_cpu_s = time.process_time() - cpu_setup
    jiffies = cpu_jiffies()
    result = run_jvm(cp, workload, inputs, work, warmup, ops, trace, extra)
    steal, total = (b - a for a, b in zip(jiffies, cpu_jiffies()))
    result["stamps"]["jvm_exit_ms"] = int(time.time() * 1000)
    # set-up in CPU time, like the ops: generating the inputs, then the JVM
    # up to its first timed op (start, session, warm-up), less its JIT
    setup_s = gen_cpu_s + result["setup_cpu_s"]
    wall = metrics.wall(result, result["stamps"]["warmup_done_ms"] / 1000.0 - t_setup)

    attempted, failed = result["attempted"], result["failed"]
    errors = list(result["op_errors"])
    if workload == "query_mix":
        attempted += 1
        bad = oracle_check(inputs, manifest, result["verify_dir"])
        if bad:
            failed += 1
            errors += bad
    for e in errors:
        log("FAILED: %s" % e)

    e2e = metrics.end_to_end(result, setup_s)
    host = {
        "host.calibration_ms": metrics.median(result["calibration_ms"]),
        "host.loadavg": os.getloadavg()[0],
        "host.gc_share": result["gc_s"] / result["timed_s"],
        # the share of CPU time the hypervisor gave to other guests
        "host.steal_share": steal / total if total else 0.0,
    }
    artifact = {"workload": workload, "seed": seed, "seconds": seconds,
                "trace": trace, "slots": SLOTS, "warmup_ops": warmup,
                "timed_ops": ops, "end_to_end": e2e, "wall": wall,
                "host": host,
                "errors": errors, "driver": result}
    history = os.path.join(WORK, "history.jsonl")
    if trace:
        # the tracing overhead: against the untraced runs made so far of the
        # same sources (0 when there are none; the artifact says how many)
        layers = dict(result["layers"], **host, **wall)
        refs = []
        if os.path.exists(history):
            with open(history) as f:
                refs = [r["end_to_end"] for r in map(json.loads, f)
                        if (r["workload"], r["seconds"], r.get("source"))
                        == (workload, seconds, source)]
        for m, key in (("op_cpu_s", "trace.op_cpu_delta"), ("setup_s", "trace.setup_delta")):
            layers[key] = metrics.relative_delta(
                e2e[m], metrics.median([r[m] for r in refs])) if refs else 0.0
        artifact["per_layer"] = layers
        artifact["trace_reference_runs"] = len(refs)
        out_metrics = metrics.with_units(layers, metrics.PER_LAYER)
    else:
        with open(history, "a") as f:
            f.write(json.dumps({"workload": workload, "seed": seed, "seconds": seconds,
                                "source": source, "end_to_end": e2e}) + "\n")
        out_metrics = metrics.with_units(e2e, metrics.END_TO_END)

    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    with open(os.path.join(WORK, "artifacts", "%s-seed%d-trace%d.json"
                           % (workload, seed, trace)), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": out_metrics}


def main():
    # a SIGTERM becomes SystemExit, on which subprocess.run kills and reaps
    # the build or the JVM it is waiting for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace)), flush=True)


if __name__ == "__main__":
    main()

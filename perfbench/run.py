#!/usr/bin/env python3
"""Benchmark of record: run one workload at one seed and print its metrics.

    python3 perfbench/run.py --workload frame_queries --seed 1 --seconds 1 --trace 0

Builds the harness and engine from source (once per source digest),
generates the seed's inputs (once per seed, untimed), measures the cold
set-up, runs one closed-loop client for `--seconds`, checks every op's
output against its reference, and prints one line per metric followed by
a final JSON line. `--trace 1` runs the traced variant and reports the
per-layer metrics instead; spans go to perfbench/.work/runs/.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
HEAP = "2g"
# The parallel collector runs no concurrent GC threads beside the task
# threads, and its heap sizing repeats from run to run, so peak RSS does too
# (G1's moved it by about a fifth between runs).
GC = "-XX:+UseParallelGC"
JVM_TIMEOUT_S = 150

END_TO_END = {"setup_s": "s", "job_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
              "retained_heap_mb": "MB"}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compile engine + harness with the benchmark's own sbt build."""
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        fail(f"build failed (see {log})")
    with open(stamp, "w") as fh:
        fh.write(digest)


def jvm(args, tmp):
    cmd = (["java", f"-Xmx{HEAP}", GC, f"-Djava.io.tmpdir={tmp}",
            "-Dio.netty.tryReflectionSetAccessible=true",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"]
           + ADD_OPENS + ["-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main"] + args)
    log = os.path.join(WORK, "harness.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(cmd, cwd=tmp, stdout=fh, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out after {JVM_TIMEOUT_S} s (see {log})", 3)
    if r.returncode != 0:
        with open(log) as fh:
            first = next((l.strip() for l in fh if "Exception" in l), "")
        fail(f"harness exited with {r.returncode}: {first} (see {log})", 3)


def host_fingerprint(spark_version, jvm_version, digest):
    mem = None
    try:
        with open("/proc/meminfo") as fh:
            mem = next(l.split()[1] for l in fh if l.startswith("MemTotal:")) + " kB"
    except (OSError, StopIteration):
        pass
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total": mem,
            "jvm": jvm_version, "spark": spark_version, "python": platform.python_version(),
            "git_commit": commit, "source_sha256": digest}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", action="store_true",
                    help="make the first measured op throw and corrupt the second's output")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS}")
    digest = source_digest()
    build(digest)

    # inputs are keyed by the generator's own digest, references by the
    # source digest: a changed generator or engine never reuses stale ones
    with open(gen.__file__, "rb") as fh:
        gen_digest = hashlib.sha256(fh.read()).hexdigest()[:12]
    data = os.path.join(WORK, "data", a.workload, f"seed-{a.seed}-{gen_digest}")
    manifest = gen.generate(a.workload, a.seed, data)

    tmp = os.path.join(WORK, "tmp", a.workload)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    base = ["--workload", a.workload, "--data", data, "--work", tmp,
            "--refs", os.path.join(data, f"reference-{digest[:12]}.tsv"),
            "--cores", str(len(os.sched_getaffinity(0)))]
    out = os.path.join(tmp, "result.json")
    jvm(base + ["--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace)]
        + (["--inject"] if a.inject else []), tmp)
    r = json.load(open(out))
    shutil.rmtree(tmp, ignore_errors=True)

    acc = stats.account(r["ops"], r["reference"], r["jobs"])
    ops = stats.summarise(acc["latencies"])
    jobs = stats.summarise(acc["job_times"])
    failed = len(acc["failed"])
    e2e = {"setup_s": r["setup_s"], "job_s": jobs["p50"],
           "cpu_s": r["cpu_s"] / max(1, len(r["jobs"])), "peak_rss_mb": r["peak_rss_mb"],
           "retained_heap_mb": r["retained_heap_mb"]}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "host": host_fingerprint(r["spark_version"], r["jvm_version"], digest),
        "inputs": {"rows": manifest["rows"], "bytes": manifest["bytes"]},
        "warmup_s": r["warmup_s"], "phase_s": r["phase_s"],
        "reference_s": r["reference_s"], "jobs": len(r["jobs"]), "job_samples": jobs["n"],
        "op_samples": ops["n"], "op_p50_s": ops["p50"],
        "error_rate": failed / max(1, len(r["ops"])),
        "failures": acc["failed"][:20], "cache_leaked_rdds": r["leaked_rdds"],
        "end_to_end": e2e,
    }
    if "tail" in ops:
        record[f"op_p{ops['tail_pct']:g}_s"] = ops["tail"]
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    if a.trace:
        layers = r["layers"]
        record["layers"] = layers
        record["tracing_overhead"] = layers["trace.overhead"]
        with open(stem + "-spans.jsonl", "w") as fh:
            for s in r["spans"]:
                fh.write(json.dumps(dict(s, run=f"{a.workload}-{a.seed}")) + "\n")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)

    print(f"set-up {r['setup_s']:.1f} s cold, warm-up {r['warmup_s']:.1f} s, measured "
          f"{r['phase_s']:.1f} s, references {r['reference_s']:.1f} s")
    print(f"workload {a.workload} seed {a.seed}: {len(r['jobs'])} jobs, "
          f"{len(r['ops'])} ops attempted, {failed} failed "
          f"(error_rate {record['error_rate']:.4f}); inputs {manifest['bytes']} bytes")
    for f in acc["failed"][:5]:
        print(f"  failed: job {f['job']} op {f['op']}: {f['why']}")
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(r["layers"].items())}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        # op latency percentiles are metrics only from 100 ops a run; below
        # that the median is printed for information and the tail omitted
        if ops["n"]:
            print(f"op latency: p50 {ops['p50']:.6f} s over {ops['n']} ops")
        if "tail" in ops:
            print(f"op_p{ops['tail_pct']:g}_s = {ops['tail']:.6f} s (n={ops['n']})")
        else:
            print(f"op tail percentile omitted: {ops['n']} op samples (< 100)")
    for k, m in metrics.items():
        print(f"{k} = {m['value']} {m['unit']}")
    print(f"run record: {os.path.relpath(stem, ROOT)}.json")
    print(json.dumps({"correct": failed == 0 and len(r["ops"]) > 0,
                      "attempted": len(r["ops"]), "failed": failed, "metrics": metrics}))


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", ".mb")):
        return "MB"
    if name in ("dedup.pair_yield", "scan.rows_per_out_row", "trace.coverage", "trace.overhead"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()

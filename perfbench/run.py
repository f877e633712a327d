#!/usr/bin/env python3
"""Benchmark of the gate library and the LFB warehouse DAG.

Run from the root of a checkout:

    python3 perfbench/run.py --workload gates --seed 1 --seconds 10 --trace 0

It builds the library and the harness from source with sbt (once per
source state; the build is cached under perfbench/work), runs one harness
JVM for the workload, checks every output, and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 the run is traced and the metrics are its per_layer metrics.
A traced run also writes its per-gate and per-stage spans to
perfbench/work/trace-<workload>-<seed>.jsonl. See perfbench/README.md.
"""
import argparse
import datetime
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)
import metrics  # noqa: E402

# Input sizes are constants of the harness (BenchMain): the seed picks the
# inputs, never their size.
WORKLOADS = ("gates", "dag-batches")
EXPECTED = os.path.join(HERE, "expected.json")
# Harness JVM heap, fixed (-Xms = -Xmx, after the build's own -Xmx): a
# heap left to grow on demand made peak RSS swing 1.7-2.6 GB between
# identical runs.
HEAP = "2g"
BUILD_TIMEOUT = 700   # seconds; the first run in a checkout builds
RUN_TIMEOUT = 170     # seconds for the harness JVM of one run


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; on timeout the
    whole group is killed (and reaped) before raising."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def source_digest():
    """Digest of every file the build reads, so a cached build is reused
    only for the same sources."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += glob.glob(os.path.join(top, "*.sbt"))
        files += glob.glob(os.path.join(top, "*.properties"))
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Classpath and JVM options of the harness, building it if the
    sources changed since the last build in this checkout."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(WORK, "build.digest")
    digest = source_digest()
    if os.path.exists(launch) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return read_launch(launch)
    log("building with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
                          "benchLaunch"],
                         BUILD_TIMEOUT, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(launch):
        raise RuntimeError("sbt build failed (exit %s), see perfbench/work/build.log" % code)
    with open(stamp, "w") as f:
        f.write(digest)
    return read_launch(launch)


def read_launch(path):
    with open(path) as f:
        lines = [l for l in f.read().split("\n") if l]
    return lines[0], lines[1:]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def corpus_batch_rows(corpus_dir, split_dates):
    """Incidents of each cumulative batch, counted straight from the
    generated corpus CSV: rows dated before each split date, then all."""
    splits = [datetime.date.fromisoformat(d) for d in split_dates]
    counts = [0] * (len(splits) + 1)
    for part in sorted(glob.glob(os.path.join(corpus_dir, "part-*"))):
        with open(part) as f:
            next(f, None)  # each part file leads with the header line
            for line in f:
                if not line.strip():
                    continue
                day = datetime.datetime.strptime(line.split(",", 2)[1], "%d-%b-%y").date()
                for i, s in enumerate(splits):
                    if day < s:
                        counts[i] += 1
                counts[-1] += 1
    return counts


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # Accepted for the benchmark interface. A run always times exactly one
    # pass of its workload, which lasts longer than the 10 s BENCHMARK.json
    # asks for; a pass that stops at a time limit would measure a different
    # amount of work on a faster program.
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no library sources beside perfbench/ (build.sbt, src/main/scala): nothing to measure")
        return 2
    if args.workload not in WORKLOADS:
        log("unknown workload %r; known: %s" % (args.workload, ", ".join(WORKLOADS)))
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(EXPECTED) as f:
        expected = json.load(f)

    os.makedirs(WORK, exist_ok=True)
    classpath, jvm_opts = build()

    run_dir = os.path.join(WORK, "run")
    tmp = os.path.join(run_dir, "tmp")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(tmp)
    record_path = os.path.join(run_dir, "record.json")
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(cores())
    cmd = (["java"] + jvm_opts +
           ["-Xms" + HEAP, "-Xmx" + HEAP,
            "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "spark-warehouse"),
            "-cp", classpath, "graft.perfbench.BenchMain",
            "--workload", args.workload, "--seed", str(args.seed),
            "--trace", str(args.trace),
            "--work", os.path.join(run_dir, "work"), "--out", record_path,
            "--cores", str(cores())])
    with open(os.path.join(WORK, "harness.log"), "w") as out:
        code = run_group(cmd, RUN_TIMEOUT, cwd=ROOT, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(record_path):
        log("harness JVM failed (exit %s), see perfbench/work/harness.log" % code)
        return 1
    with open(record_path) as f:
        record = json.load(f)

    # Output checks, all after the timed work.
    if args.workload == "gates":
        attempted, failed, problems = metrics.check_gates(record, expected["gates"])
    else:
        batch_rows = corpus_batch_rows(record["corpus_dir"], record["split_dates"])
        pinned = expected["dag-batches"]["seeds"].get(str(args.seed))
        attempted, failed, problems = metrics.check_dag(record, batch_rows, pinned)
    for p in problems:
        log("check failed: " + p)

    if args.trace:
        values = metrics.layer_metrics(record)
        samples = {k: 1 for k in values}
        with open(os.path.join(WORK, "trace-%s-%d.jsonl" % (args.workload, args.seed)), "w") as f:
            for row in metrics.span_rows(record):
                f.write(json.dumps(row) + "\n")
    else:
        e2e = metrics.end_to_end(record, attempted, failed)
        values = {k: v for k, (v, _) in e2e.items()}
        samples = {k: n for k, (_, n) in e2e.items()}
    result = metrics.result_line(spec, bool(args.trace), values, attempted, failed)
    for name, m in result["metrics"].items():
        print("%-34s %16.6g %-6s n=%d" % (name, m["value"], m["unit"], samples[name]))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

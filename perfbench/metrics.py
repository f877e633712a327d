"""Metrics and output checks for one benchmark run.

The JVM harness (BenchMain) writes one raw run record per run: per-op
timings, set-up timings, the facts the output checks need and, in a traced
run, the in-memory spans (Spark jobs, stage task sums, Catalyst phases).
This module turns that record into the named metrics of BENCHMARK.json and
the correctness verdict. Everything here is a pure function of the record,
so tests/test_metrics.py pins each rule.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}\Z")

# graft.warehouse.Pipeline.stageOrder, in execution order.
DAG_STAGES = ["extract", "post-extract checks", "cleanse", "dimension builds",
              "dimension checks", "dimension loads", "fact load",
              "post-load checks", "aggregates"]
# The six concurrent chains of SparkEntry.preMaterialize, one FAIR pool each.
CHAINS = ["shingle", "winnow", "repspan", "simhash-cc", "bpe", "vectors"]
PHASES = ["analysis", "optimization", "planning"]


def stage_key(stage):
    """Metric-name form of a DAG stage name: 'fact load' -> 'fact-load'."""
    return stage.replace(" ", "-")


def iqm(values):
    """Interquartile mean: the mean of the values left after dropping the
    lowest and the highest quarter (n // 4 values each). The ops of a pass
    differ in kind, and several often take about as long as the middle one,
    so the plain median jumps between them from run to run: over the same
    ten recorded runs the median of the 9 DAG stages spread 12.8% and their
    IQM 5.6%; over 44 gates, 12.9% and 9.5%."""
    if not values:
        raise ValueError("interquartile mean of no values")
    xs = sorted(values)
    k = len(xs) // 4
    mid = xs[k:len(xs) - k]
    return sum(mid) / len(mid)


def median(values):
    return statistics.median(values)


def tail_mean(values, share=0.25):
    """Mean of the slowest `share` of the values (at least one). Over the
    11 slowest of 44 gates it spread 10% between runs where the p75 order
    statistic spread 13-22%."""
    if not values:
        raise ValueError("tail mean of no values")
    k = max(1, math.ceil(share * len(values)))
    return sum(sorted(values)[-k:]) / k


def stage_windows(start_ms, stages):
    """Time windows [start, end) in epoch ms of the stages of one
    Pipeline.run that began at `start_ms` and returned `stages`, its
    (name, seconds) pairs in execution order. The stages run back to back,
    so each window starts where the previous one ended."""
    windows, t = [], float(start_ms)
    for name, secs in stages:
        windows.append((name, t, t + secs * 1000.0))
        t += secs * 1000.0
    return windows


def attribute(windows, t_ms):
    """Name of the window holding t_ms, or None when no window does."""
    for name, start, end in windows:
        if start <= t_ms < end:
            return name
    return None


def is_schema_job(job, source_file):
    """A parquet schema-inference job issued from `source_file`: it carries
    that file's call site and runs outside any SQL execution (the reads'
    data jobs carry an execution id; the footer scan does not)."""
    return job.get("sql_id") is None and any(
        " at %s:" % source_file in site for site in job.get("call_sites", []))


def job_seconds(job):
    end = job.get("end_ms", -1)
    return max(0, end - job["start_ms"]) / 1000.0 if end >= 0 else 0.0


# ----------------------------------------------------------- end to end

def op_latencies(record):
    """Per-op latency of the timed pass. An op is one gate of the pass, or
    one stage of the DAG's timed batch."""
    run = record["run"]
    lat = [op["s"] for op in run.get("ops", []) if op["ok"]]
    lat += [st["s"] for st in run.get("batch", {}).get("stages", [])]
    return lat


def end_to_end(record, attempted, failed):
    """The end-to-end metrics of one untraced run, name -> (value, samples);
    `attempted` and `failed` count the run's checked ops."""
    run = record["run"]
    setup = record["setup"]
    lat = op_latencies(record) or [0.0]
    setup_s = (setup["session_s"] + median(setup["inputs_s"])
               + (median(setup["split_s"]) if setup.get("split_s") else 0.0))
    disk = run.get("materialize_bytes" if record["workload"] == "gates"
                   else "warehouse_bytes", 0)
    return {
        "wall_s": (run["wall_s"], 1),
        "op_iqm_s": (iqm(lat), len(lat)),
        "op_top25_mean_s": (tail_mean(lat), len(lat)),
        "materialize_s": (run["materialize_s"], 1),
        "setup_s": (setup_s, len(setup["inputs_s"])),
        "peak_rss_mb": (record["peak_rss_kb"] / 1024.0, 1),
        "warehouse_bytes": (disk, 1),
        "ops_ok_frac": (1.0 - failed / attempted, attempted),
    }


# ------------------------------------------------------------ per layer

def layer_window(run):
    """The window (epoch ms) whose spans the per-layer metrics count: on
    gates the timed pass (preMaterialize and the gate pass); on the DAG the
    timed Pipeline.run call alone, so the staging seed's extract jobs and
    the checks' counts stay out."""
    b = run.get("batch")
    if b is None:
        return run["start_ms"], run["end_ms"]
    if not b.get("ok"):
        return 0, -1  # no run: an empty window
    return b["start_ms"], b["end_ms"]


def layer_metrics(record):
    """Per-layer metrics of a traced run, name -> value: the spans whose
    start lies in the run's layer window. Metrics of a layer the workload
    does not touch read 0."""
    it = record["run"]
    tr = record["trace"]
    lo, hi = layer_window(it)
    jobs = [j for j in tr["jobs"] if lo <= j["start_ms"] <= hi]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in tr["stages"] if s["stage"] in stage_ids]
    m = {}

    ops = it.get("ops", [])
    build_jobs = [j for j in jobs if (j.get("group") or "").endswith(":build")]
    m["queries.build_s"] = sum(o.get("build_s", 0.0) for o in ops)
    m["queries.exec_s"] = sum(o.get("exec_s", 0.0) for o in ops)
    m["queries.build_jobs"] = len(build_jobs)
    m["queries.build_job_s"] = sum(job_seconds(j) for j in build_jobs)

    for prefix, src in (("tables.schema", "Tables.scala"),
                        ("interstage.read", "InterStage.scala")):
        js = [j for j in jobs if is_schema_job(j, src)]
        m[prefix + "_jobs"] = len(js)
        m[prefix + "_job_s"] = sum(job_seconds(j) for j in js)

    for chain in CHAINS:
        js = [j for j in jobs if j.get("pool") == chain and j.get("end_ms", -1) >= 0]
        m["materialize.%s_s" % chain] = (
            (max(j["end_ms"] for j in js) - min(j["start_ms"] for j in js)) / 1000.0
            if js else 0.0)

    # Catalyst: every query execution the session reported in the window,
    # plus each gate's own plan (materialized through toRdd, which the
    # listener does not see).
    phase_ms = {p: 0.0 for p in PHASES}
    for q in tr["queries"]:
        starts = [q[p]["start_ms"] for p in PHASES if p in q]
        if starts and lo <= min(starts) <= hi:
            for p in PHASES:
                phase_ms[p] += q.get(p, {}).get("ms", 0)
    for o in ops:
        for p in PHASES:
            phase_ms[p] += o.get("phases", {}).get(p, {}).get("ms", 0)
    for p in PHASES:
        m["catalyst.%s_s" % p] = phase_ms[p] / 1000.0

    tasks = sum(s["tasks"] for s in stages)
    m["sched.jobs"] = len(jobs)
    m["sched.stages"] = len(stages)
    m["sched.tasks"] = tasks
    m["sched.tasks_per_stage"] = tasks / len(stages) if stages else 0.0
    m["exec.task_run_s"] = sum(s["run_ms"] for s in stages) / 1000.0
    m["exec.task_cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9
    m["exec.gc_s"] = sum(s["gc_ms"] for s in stages) / 1000.0
    for name, key in (("shuffle.write_bytes", "shuffle_write_bytes"),
                      ("shuffle.read_bytes", "shuffle_read_bytes"),
                      ("spill_bytes", "spill_bytes"),
                      ("io.read_bytes", "input_bytes"),
                      ("io.write_bytes", "output_bytes")):
        m[name] = sum(s[key] for s in stages)

    # Pipeline stages of the incremental batch.
    last = it["batch"] if it.get("batch", {}).get("ok") else None
    secs = {st["name"]: st["s"] for st in last["stages"]} if last else {}
    windows = stage_windows(last["start_ms"], [(st["name"], st["s"]) for st in
                                                last["stages"]]) if last else []
    counts = {}
    for j in jobs:
        s = attribute(windows, j["start_ms"])
        if s is not None:
            counts[s] = counts.get(s, 0) + 1
    for st in DAG_STAGES:
        m["stage.%s_s" % stage_key(st)] = secs.get(st, 0.0)
        m["stage.%s.jobs" % stage_key(st)] = counts.get(st, 0)
    m["staging_bytes"] = it.get("staging_bytes", 0)
    m["fact.files"] = it.get("fact_files", 0)
    m["extract.appended_rows"] = it.get("appended_rows", 0)

    m["trace.wall_s"] = it["wall_s"]
    # What the layer split leaves unexplained: the timed ops' wall time
    # minus its parts (gate builds + executions, or the DAG's stages).
    parts = (m["queries.build_s"] + m["queries.exec_s"] if ops
             else sum(secs.values()))
    m["trace.unattributed_frac"] = 1.0 - parts / it["wall_s"] if it["wall_s"] else 0.0

    ab = record.get("overhead_ab") or {}
    if ab.get("untraced_s") and ab.get("traced_s"):
        m["trace.overhead_frac"] = median(ab["traced_s"]) / median(ab["untraced_s"]) - 1.0
    else:
        m["trace.overhead_frac"] = 0.0
    return m


def span_rows(record):
    """Per-gate and per-stage rows of a traced run, for the trace file: each
    op with its timings and the Spark jobs it ran."""
    it = record["run"]
    jobs = record["trace"]["jobs"] if record.get("trace") else []
    by_group = {}
    for j in jobs:
        by_group.setdefault(j.get("group"), []).append(j)
    rows = []
    for o in it.get("ops", []):
        row = {"kind": "gate", "name": o["name"], "ok": o["ok"], "s": o["s"],
               "build_s": o.get("build_s"), "exec_s": o.get("exec_s"),
               "rows": o.get("rows")}
        for phase in ("build", "exec"):
            js = by_group.get("gate:%s:%s" % (o["name"], phase), [])
            row[phase + "_jobs"] = len(js)
            row[phase + "_job_s"] = sum(job_seconds(j) for j in js)
        for p in PHASES:
            row[p + "_ms"] = o.get("phases", {}).get(p, {}).get("ms")
        rows.append(row)
    b = it.get("batch")
    if b and b.get("ok"):
        windows = stage_windows(b["start_ms"], [(s["name"], s["s"]) for s in b["stages"]])
        for name, start, end in windows:
            js = [j for j in jobs if attribute(windows, j["start_ms"]) == name]
            rows.append({"kind": "stage", "batch": b["batch"], "name": name,
                         "s": (end - start) / 1000.0, "jobs": len(js),
                         "job_s": sum(job_seconds(j) for j in js)})
    return rows


# --------------------------------------------------------------- checks

def check_gates(record, expected):
    """(attempted, failed, problems): one op per preMaterialize and per gate.
    A gate fails when it throws, or when its row count or its output digest
    (RowDigest, taken after the timed pass) differs from the committed one
    in `expected` ({"rows": {gate: n}, "digests": {gate: hex}}). The run
    must execute exactly the committed gate set."""
    run = record["run"]
    digests = record.get("digests", {})
    attempted, failed = 1, 0
    problems = []
    if run.get("materialize_error"):
        failed += 1
        problems.append("preMaterialize: %s" % run["materialize_error"])
    names = set()
    for op in run["ops"]:
        attempted += 1
        name = op["name"]
        names.add(name)
        want_rows = expected["rows"].get(name)
        want_digest = expected["digests"].get(name)
        if not op["ok"]:
            problems.append("%s: %s" % (name, op.get("error")))
        elif want_rows is None or op["rows"] != want_rows:
            problems.append("%s: %s rows, expected %s" % (name, op["rows"], want_rows))
        elif want_digest is None or digests.get(name) != want_digest:
            problems.append("%s: output digest %s, expected %s"
                            % (name, digests.get(name), want_digest))
        else:
            continue
        failed += 1
    missing = sorted(set(expected["rows"]) - names)
    if missing:
        attempted += len(missing)
        failed += len(missing)
        problems.append("gates not run: %s" % ", ".join(missing))
    return attempted, failed, problems


def check_dag(record, batch_rows, expected=None):
    """(attempted, failed, problems) for the warehouse DAG. An op is the
    staging seed (batch 2 through the extract jobs) or one stage of batch
    3's Pipeline.run; a run that throws (a quality gate failing included)
    fails all of its stages. `batch_rows` holds the incident count of each
    cumulative batch, counted from the generated corpus: the seed must
    stage exactly batch 2's incidents, batch 3's extract must append
    exactly the rest, and the fact table must then hold every incident.
    `expected`, when given, pins the default corpus: the fact rows and the
    fact table's order-independent fingerprint."""
    run = record["run"]
    attempted, failed = 1 + len(DAG_STAGES), 0
    problems = []
    if run.get("materialize_error"):
        failed += 1
        problems.append("staging seed: %s" % run["materialize_error"])
    elif run["seeded_rows"] != batch_rows[-2]:
        failed += 1
        problems.append("staging seed holds %d rows, batch 2 has %d incidents"
                        % (run["seeded_rows"], batch_rows[-2]))
    b = run["batch"]
    if not b.get("ok"):
        failed += len(DAG_STAGES)
        problems.append("batch %d: %s" % (b["batch"], b.get("error")))
        return attempted, failed, problems
    if run["appended_rows"] != batch_rows[-1] - batch_rows[-2]:
        failed += 1
        problems.append("extract appended %d rows, expected %d"
                        % (run["appended_rows"], batch_rows[-1] - batch_rows[-2]))
    if run["fact_rows"] != batch_rows[-1]:
        failed += 1
        problems.append("%d fact rows, corpus has %d incidents"
                        % (run["fact_rows"], batch_rows[-1]))
    if expected and run["fact_rows"] != expected["fact_rows"]:
        failed += 1
        problems.append("%d fact rows, committed %d"
                        % (run["fact_rows"], expected["fact_rows"]))
    if expected and run.get("fingerprint") != expected["fingerprint"]:
        failed += 1
        problems.append("lfb_call fingerprint %s, committed %s"
                        % (run.get("fingerprint"), expected["fingerprint"]))
    return attempted, failed, problems


# --------------------------------------------------------------- output

def result_line(spec, trace, values, attempted, failed):
    """The run's result object: every metric BENCHMARK.json lists for the
    mode (end_to_end untraced, per_layer traced), with its unit. Raises
    ValueError when a metric is missing or unnamed, or the record breaks
    the schema, so a malformed run never prints a result."""
    section = spec["per_layer" if trace else "end_to_end"]
    metrics = {}
    for m in section:
        name = m["name"]
        if not NAME_RE.match(name) or not UNIT_RE.match(m["unit"]):
            raise ValueError("bad metric name or unit: %r %r" % (name, m["unit"]))
        if name not in values:
            raise ValueError("metric %s was not measured" % name)
        v = values[name]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError("metric %s is not a finite number: %r" % (name, v))
        metrics[name] = {"value": v, "unit": m["unit"]}
    extra = set(values) - {m["name"] for m in section}
    if extra:
        raise ValueError("metrics not in BENCHMARK.json: %s" % sorted(extra))
    if not isinstance(attempted, int) or attempted < 1 or not isinstance(failed, int) \
            or not 0 <= failed <= attempted:
        raise ValueError("bad op counts: attempted=%r failed=%r" % (attempted, failed))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}

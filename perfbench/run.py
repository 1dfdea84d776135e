#!/usr/bin/env python3
"""The graft benchmark: a kinesiscat CLI backlog drain and the operator
suite, each checked for correct output.

    python3 perfbench/run.py --workload drain_wide --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and this
package with sbt; later runs reuse the build while the sources are
unchanged. The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1). Lines above it print every metric by name with its
unit, the failure share, any failing records or queries, and the host load.
WORKLOADS.md describes the workloads and metrics.
"""
import argparse
import bisect
import glob
import json
import math
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gen  # noqa: E402
import jvm  # noqa: E402
import layers  # noqa: E402

CORES = 4
MASTER = "local[%d]" % CORES
CLI = "graft.engine.Cli"
# heaps are fixed (initial = maximum), so peak RSS does not follow the
# garbage collector's heap resizing from run to run
CLI_HEAP = "1g"
SUITE_HEAP = "2g"
# the suite's records_per_s: input records through its JMESPath queries,
# each run this many times after the passes
JMES_QUERIES = ("jmes_wide", "jmes_wide_interp")
RATE_RUNS = 6

DRAIN = {"shards": 16, "per_shard": 3000, "batch_size": 2000, "sleep_ms": 20, "rounds": 3}
GRACE_S = 0.3  # after the last expected line, to catch extra or duplicate lines
CONTENDED = 0.1  # share of the CPUs used outside the benchmark that labels a run

END_TO_END = [("setup_s", "s"), ("records_per_s", "rec/s"), ("latency_p50_ms", "ms"),
              ("latency_p99_ms", "ms"), ("wall_s", "s"), ("query_geomean_s", "s"),
              ("peak_rss_mb", "MB")]

TRACE_PROPS = [
    "-Dspark.extraListeners=perfbench.TraceSparkListener",
    "-Dspark.sql.streaming.streamingQueryListeners=perfbench.TraceStreamingListener",
    "-Dspark.sql.queryExecutionListeners=perfbench.TraceQeListener",
]


def log(msg):
    print(msg, flush=True)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class HostLoad:
    """CPU used by processes other than this benchmark over the run window."""

    def __init__(self):
        self.busy0 = self._busy()
        self.own0 = self._own()
        self.t0 = time.perf_counter()

    @staticmethod
    def _busy():
        """Non-idle jiffies of all CPUs, hypervisor steal included."""
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v) - v[3] - v[4]

    @staticmethod
    def _own():
        t = os.times()
        return t.user + t.system + t.children_user + t.children_system

    def finish(self):
        hz = os.sysconf("SC_CLK_TCK")
        wall = time.perf_counter() - self.t0
        other = max(0.0, (self._busy() - self.busy0) / hz - (self._own() - self.own0))
        ncpu = os.cpu_count() or 1
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        frac = other / (wall * ncpu) if wall > 0 else 0.0
        return frac, load1


# ------------------------------------------------------------------ drain

def cli_props(trace_file):
    return TRACE_PROPS + ["-D%s=%s" % ("perfbench.trace.file", trace_file)] if trace_file else []


def launch_cli(rdir, classpath, master, args, trace_file):
    tmp = os.path.join(rdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = jvm.java_cmd(classpath, CLI, args, CLI_HEAP, cli_props(trace_file), tmp,
                       fixed_heap=True)
    return jvm.Proc(cmd, rdir, jvm.java_env(tmp, SPARK_MASTER=master),
                    os.path.join(rdir, "cli.log"))


def wait_ready(p, warm):
    """Set-up time: launch until every warm-up line has been read."""
    want = set(warm)
    ok = p.wait_for(lambda ls: want <= {l for _, l in ls}, 150)
    if not ok:
        raise jvm.BenchError("CLI not ready: warm-up lines missing (see %s)" % p.log.name)
    return max(t for t, l in p.lines if l in want) - p.t_launch


def checkpoint_batches(tmp, since_epoch):
    """(start, end) epoch seconds of each micro-batch that began after
    `since_epoch`, read from the times of the streaming checkpoint's files:
    a batch's offsets file is written when it starts, its commit file when
    it ends. The CLI sets no checkpoint location, so Spark keeps a temporary
    one under the JVM's temporary directory. File times come from a clock
    that lags by up to a tick, hence the margin."""
    roots = glob.glob(os.path.join(tmp, "temporary-*"))
    out = []
    for root in roots:
        commits = os.path.join(root, "commits")
        for name in os.listdir(os.path.join(root, "offsets")):
            c = os.path.join(commits, name)
            if not name.isdigit() or not os.path.exists(c):
                continue
            t0 = os.stat(os.path.join(root, "offsets", name)).st_mtime_ns / 1e9
            if t0 >= since_epoch - 0.05:
                out.append((t0, os.stat(c).st_mtime_ns / 1e9))
    if not out:
        raise jvm.BenchError("no micro-batch found in the checkpoint under %s" % tmp)
    return sorted(out)


def drain_round(rdir, classpath, master, backlog, trace_file=None):
    """One CLI over the backlog: launch it on the warm-up shards, reveal the
    backlog at once, read until every expected line arrived, measure the
    process, stop it and check its output."""
    gen_dir, expected = backlog["dir"], backlog["expected"]
    stream, staging = os.path.join(rdir, "stream"), os.path.join(rdir, "staging")
    warm = gen.write_drain_warmup(stream, backlog["seed"])
    os.makedirs(staging)
    names = sorted(os.listdir(gen_dir))
    for n in names:  # staged under another name, renamed in whole
        os.link(os.path.join(gen_dir, n), os.path.join(staging, n))
    args = ["-stream-name", stream, "-position", "TRIM_HORIZON",
            "-batch-size", str(DRAIN["batch_size"]), "-sleep-time", str(DRAIN["sleep_ms"]),
            "-filter", gen.DRAIN_FILTER]
    p = launch_cli(rdir, classpath, master, args, trace_file)
    check_ = check.StreamCheck({**warm, **expected})
    try:
        setup = wait_ready(p, warm)
        n_warm_lines = len(p.lines)
        rchar0 = jvm.read_chars(p.p.pid)
        epoch0, t0 = time.time(), time.perf_counter()
        for n in names:
            os.rename(os.path.join(staging, n), os.path.join(stream, n))
        total = len(warm) + len(expected)
        p.wait_for(lambda ls: len(ls) >= total, 150)
        time.sleep(GRACE_S)
        rss = jvm.peak_rss_mb(p.p.pid)
        rchar = jvm.read_chars(p.p.pid) - rchar0
        batches = checkpoint_batches(os.path.join(rdir, "tmp"), epoch0)
    finally:
        # only a traced CLI has work left at exit: writing its spans
        p.stop(graceful=trace_file is not None)
    for t, line in p.lines:
        check_.feed(t, line)
    attempted, failed, problems = check_.finish()
    seen = check_.seen
    arrivals = [seen[l] for l in expected if l in seen]
    t_last = max(arrivals) if arrivals else time.perf_counter()
    out_lines = p.lines[n_warm_lines:]
    # a line belongs to the last micro-batch that started before it arrived
    starts = [t0 + (b0 - epoch0) for b0, _ in batches]
    batch_lat = [(t - starts[bisect.bisect_right(starts, t) - 1]) * 1e3
                 for t in arrivals if t >= starts[0]]
    drain_s = t_last - t0
    return {
        "setup": setup, "rss": rss, "t0": t0, "drain_s": drain_s,
        "rps": backlog["records"] / drain_s, "first_s": min(arrivals, default=t_last) - t0,
        "batch_s": [b1 - b0 for b0, b1 in batches], "lat_ms": batch_lat,
        "epoch0": epoch0, "epoch_last": epoch0 + drain_s,
        "attempted": attempted, "failed": failed, "problems": problems,
        "read_amp": rchar / backlog["bytes"], "lines_out": len(out_lines),
        "bytes_out": sum(len(l.encode()) + 1 for _, l in out_lines),
    }


def drain_metrics(rounds):
    lat = [x for r in rounds for x in r["lat_ms"]]
    return {
        "setup_s": statistics.median(r["setup"] for r in rounds),
        "records_per_s": statistics.median(r["rps"] for r in rounds),
        "latency_p50_ms": statistics.median(lat),
        "latency_p99_ms": layers.pct(lat, 0.99),
        "wall_s": statistics.median(r["first_s"] for r in rounds),
        "query_geomean_s": geomean([x for r in rounds for x in r["batch_s"]]),
        "peak_rss_mb": statistics.median(r["rss"] for r in rounds),
    }, len(lat)


def round_notes(rounds):
    notes = {"per round " + k: " ".join("%.4g" % r[k] for r in rounds)
             for k in ("setup", "rss", "rps", "drain_s", "first_s")}
    notes["per round micro-batches"] = " ".join(str(len(r["batch_s"])) for r in rounds)
    notes["per round latency p50 ms"] = " ".join(
        "%.4g" % statistics.median(r["lat_ms"]) for r in rounds)
    return notes


def make_backlog(work, seed):
    d = os.path.join(work, "backlog")
    expected, sample, records, nbytes = gen.write_drain_backlog(
        d, seed, DRAIN["shards"], DRAIN["per_shard"])
    return {"dir": d, "expected": expected, "sample": sample, "records": records,
            "bytes": nbytes, "seed": seed}


def jmes_timing(work, bench_cp, sample):
    docs = os.path.join(work, "jmes_docs.jsonl")
    with open(docs, "w") as f:
        f.write("\n".join(sample) + "\n")
    tmp = os.path.join(work, "jmes_tmp")
    os.makedirs(tmp, exist_ok=True)
    p = jvm.Proc(jvm.java_cmd(bench_cp, "perfbench.JmesTime", [docs, gen.DRAIN_FILTER, "15"],
                              "1g", (), tmp), work, jvm.java_env(tmp),
                 os.path.join(work, "jmes.log"))
    p.wait_for(lambda ls: any(l.startswith("PB jmes") for _, l in ls), 120)
    p.stop()
    line = next((l for _, l in p.lines if l.startswith("PB jmes")), None)
    if line is None:
        raise jvm.BenchError("JMESPath timing failed (see %s)" % p.log.name)
    parts = line.split()
    return {"jmespath.parse_us_per_doc": float(parts[2]),
            "jmespath.search_us_per_doc": float(parts[3])}


def drain_wide(a, cps, work):
    program_cp, bench_cp = cps
    backlog = make_backlog(work, a.seed)
    if not a.trace:
        rounds = [drain_round(os.path.join(work, "r%d" % i), program_cp, MASTER, backlog)
                  for i in range(DRAIN["rounds"])]
        m, n = drain_metrics(rounds)
        return m, rounds, {"latency samples": n, **round_notes(rounds)}
    base = drain_round(os.path.join(work, "base"), program_cp, MASTER, backlog)
    trace_file = os.path.join(a.trace_dir, "spans.jsonl")
    traced = drain_round(os.path.join(work, "traced"), bench_cp, MASTER, backlog, trace_file)
    single = drain_round(os.path.join(work, "local1"), program_cp, "local[1]", backlog)
    spans = layers.load(trace_file)
    lo, hi = int(traced["epoch0"] * 1e6), int(traced["epoch_last"] * 1e6)
    measured = layers.stream_layers(spans, lo, hi, CORES)
    measured.update(jmes_timing(work, bench_cp, backlog["sample"]))
    measured.update({
        "sources.read_amplification": traced["read_amp"],
        "sinks.lines_out": traced["lines_out"], "sinks.bytes_out": traced["bytes_out"],
        "spark.scaling_x": base["rps"] / single["rps"],
        "trace.overhead_frac": traced["drain_s"] / base["drain_s"] - 1,
    })
    return measured, [base, traced, single], {
        "untraced records_per_s": base["rps"], "traced records_per_s": traced["rps"],
        "local[1] records_per_s": single["rps"]}


# ------------------------------------------------------------------ suite

def parse_pass(lines, fp, order):
    """One timed pass's `PB q` / `PB fail` lines, checked against the fingerprints."""
    times, results, problems, runs = {}, {}, [], []
    t_end = None
    for t, l in lines:
        parts = l.split(" ", 3)
        if l.startswith("PB q "):
            name, secs, n, checksum = l.split()[2:6]
            times[name] = float(secs)
            runs.append((name, float(secs)))
            results[name] = (int(n), checksum)
            t_end = t
            why = check.check_query(fp, name, int(n), checksum)
            if why:
                problems.append((name, why))
        elif l.startswith("PB fail "):
            problems.append((parts[2], parts[3] if len(parts) > 3 else "failed"))
    problems += [(q, "no result") for q in order
                 if q not in times and q not in {n for n, _ in problems}]
    return {"times": times, "runs": runs, "results": results, "t_end": t_end,
            "problems": problems, "attempted": len(order), "failed": len(problems)}


def sf_dir():
    """The sf0.1 test data: $SPARK_GRAFT_SF_DIR as for graft.Bench, else the
    directory TESTDATA.md lists for scale factor 0.1."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if d is None:
        with open(os.path.join(jvm.ROOT, "TESTDATA.md")) as f:
            m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", f.read(), re.M)
        d = m and m.group(1).rstrip("/")
    if not d or not os.path.isdir(d):
        raise jvm.BenchError("sf0.1 test data not found (%s)" % d)
    return d


def suite_run(rdir, bench_cp, order, fp, trace_file=None):
    """One suite JVM: set-up (session and a warm-up pass), two timed passes
    and, with a trace file, a traced pass between them, then repeated runs
    of the JMESPath queries. Returns (timed passes, traced pass or None,
    the repeated runs, rows of the events table)."""
    tmp = os.path.join(rdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    rate_runs = ",".join(JMES_QUERIES * RATE_RUNS)
    cmd = jvm.java_cmd(bench_cp, "perfbench.Suite",
                       [sf_dir(), str(CORES), trace_file or "-", rate_runs, *order],
                       SUITE_HEAP, (), tmp, fixed_heap=True)
    p = jvm.Proc(cmd, rdir, jvm.java_env(tmp), os.path.join(rdir, "suite.log"),
                 stdin=subprocess.PIPE)
    try:
        if not p.wait_for(lambda ls: any(l == "PB ready" for _, l in ls), 150):
            raise jvm.BenchError("suite not ready (see %s)" % p.log.name)
        if not p.wait_for(lambda ls: any(l == "PB done" for _, l in ls), 150):
            raise jvm.BenchError("suite did not finish (see %s)" % p.log.name)
        rss = jvm.peak_rss_mb(p.p.pid)
    finally:
        p.close_stdin_and_wait()
    events = next(int(l.split()[2]) for _, l in p.lines if l.startswith("PB events "))
    marks = [i for i, (_, l) in enumerate(p.lines)
             if l in ("PB ready", "PB pass", "PB traced", "PB rate")]
    setup = p.lines[marks[0]][0] - p.t_launch
    passes, traced, rate = [], None, None
    for lo, hi in zip(marks, marks[1:] + [len(p.lines)]):
        t_start = p.lines[lo][0]
        if p.lines[lo][1] == "PB rate":
            rate = parse_pass(p.lines[lo:hi], fp, JMES_QUERIES * RATE_RUNS)
            continue
        r = parse_pass(p.lines[lo:hi], fp, order)
        r.update(setup=setup, rss=rss, wall=(r["t_end"] or t_start) - t_start)
        if p.lines[lo][1] == "PB traced":
            traced = r
        else:
            passes.append(r)
    return passes, traced, rate, events


def jmes_rps(rate, events):
    """Input records per second through the JMESPath queries: their median
    times over the repeated runs."""
    t = [statistics.median(secs for n, secs in rate["runs"] if n == q)
         for q in JMES_QUERIES if q in rate["times"]]
    return len(t) * events / sum(t) if t else float("nan")


def ops_suite(a, cps, work):
    _, bench_cp = cps
    fp = check.load_fingerprints(jvm.HERE)
    order = list(layers.SUITE_QUERIES)
    random.Random(a.seed).shuffle(order)
    trace_file = os.path.join(a.trace_dir, "spans.jsonl") if a.trace else None
    passes, traced, rate, events = suite_run(os.path.join(work, "suite"), bench_cp, order,
                                             fp, trace_file)
    wall = statistics.median(r["wall"] for r in passes)
    if not a.trace:
        # per query, the median over the timed passes
        q = [statistics.median(r["times"][n] for r in passes) for n in order
             if all(n in r["times"] for r in passes)] or [float("nan")]
        m = {
            "setup_s": passes[0]["setup"],
            "records_per_s": jmes_rps(rate, events),
            "latency_p50_ms": statistics.median(q) * 1e3,
            "latency_p99_ms": layers.pct(q, 0.99) * 1e3,
            "wall_s": wall, "query_geomean_s": geomean(q), "peak_rss_mb": passes[0]["rss"],
        }
        return m, passes + [rate], {
            "per pass wall_s": " ".join("%.4g" % r["wall"] for r in passes),
            "JMESPath runs s": " ".join("%s=%.3g" % run for run in rate["runs"]),
            "per query s": " ".join("%s=%.3g" % (n, t) for n, t in zip(
                [n for n in order if all(n in r["times"] for r in passes)], q))}
    measured = layers.suite_layers(layers.load(trace_file), CORES)
    # the traced pass ran between the two untraced ones
    measured["trace.overhead_frac"] = traced["wall"] / statistics.mean(
        r["wall"] for r in passes) - 1
    return measured, passes + [traced, rate], {
        "untraced wall_s (before, after)": " ".join("%.4g" % r["wall"] for r in passes),
        "traced wall_s": traced["wall"]}


WORKLOADS = {"drain_wide": drain_wide, "ops_suite": ops_suite}


def report_failures(rounds):
    attempted = sum(r["attempted"] for r in rounds)
    failed = sum(r["failed"] for r in rounds)
    listing = [p for r in rounds for p in r["problems"]]
    log("failed_frac %.6f ratio (%d of %d)" % (failed / attempted, failed, attempted))
    for kind, what in listing[:50]:
        log("  FAILED %s: %s" % (kind, what[:200]))
    if len(listing) > 50:
        log("  ... and %d more" % (len(listing) - 50))
    return attempted, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10,
                    help="accepted for the benchmark interface; both workloads run a "
                    "fixed amount of work (WORKLOADS.md)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        cps = jvm.build()
    except jvm.BenchError as e:
        sys.stderr.write("perfbench: %s\n" % e)
        return 2
    work = os.path.join(jvm.WORK, "run", "%s-%d" % (a.workload, a.seed))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    a.trace_dir = os.path.join(jvm.WORK, "trace", "%s-%d" % (a.workload, a.seed))
    if a.trace:
        shutil.rmtree(a.trace_dir, ignore_errors=True)
        os.makedirs(a.trace_dir)
    host = HostLoad()
    try:
        values, rounds, notes = WORKLOADS[a.workload](a, cps, work)
    except jvm.BenchError as e:
        sys.stderr.write("perfbench: %s\n" % e)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    other_frac, load1 = host.finish()
    attempted, failed = report_failures(rounds)
    for k, v in notes.items():
        log("note %s %s" % (k, v))
    log("host loadavg1 %.2f, other processes used %.1f%% of the CPUs%s" % (
        load1, 100 * other_frac,
        " -- CONTENDED run, do not compare" if other_frac > CONTENDED else ""))
    if a.trace:
        values["host.other_cpu_frac"] = other_frac
        metrics, bypassed = layers.finish(values)
        moves = {name: m for name, _, m in layers.METRICS}
        for name, m in metrics.items():
            log("layer %s %s %s -> %s" % (name, m["value"], m["unit"], ", ".join(moves[name])))
        log("bypassed (layer not exercised by %s): %s" % (a.workload, " ".join(bypassed)))
        log("spans %s" % os.path.join(a.trace_dir, "spans.jsonl"))
        with open(os.path.join(a.trace_dir, "layers.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "metrics": metrics,
                       "bypassed": bypassed, "notes": notes}, f, indent=1)
    else:
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
        for name, m in metrics.items():
            log("metric %s %.6g %s" % (name, m["value"], m["unit"]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""graft benchmark: one workload per invocation, closed loop, one client.

    python3 perfbench/run.py --workload trip_stream --seed 1 --seconds 14 --trace 0

Run from the root of a graft checkout. The first run compiles graft's
sources together with the harness in `perfbench/src` (sbt, offline) and
caches the class path under `perfbench/.work`; later runs start the JVM
directly. Inputs are generated from `--seed`. The last line of standard
output is one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`. The lines before it report the run environment and the
workload's metrics under their own names.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("trip_stream", "query_mix")
DEDUP_OP = "corpus_dedup"
HEAP = "2g"
TRIP_BATCH_LINES = 250
TRIP_WARM_BATCHES = 30  # batch latency falls by about a quarter over a run's first 30-40 batches
TRIP_LOG_LINES = 60_000
QUERY_TABLES = os.path.join(HERE, "data", "sf0.01")
QUERY_SAMPLE = os.path.join(HERE, "query_mix.tsv")
COMPARE_PY = os.path.join(ROOT, "tools", "compare.py")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


T0 = time.perf_counter()


def stage(name):
    """Elapsed-time marker on stderr."""
    print(f"perfbench: {time.perf_counter() - T0:7.1f} s {name}", file=sys.stderr)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, _, files in os.walk(r):
            out.extend(os.path.join(d, f) for f in files)
    return sorted(out)


def spark_home():
    """SPARK_HOME, else the installation behind the first spark-submit on the
    PATH that ships Spark's jars."""
    dirs = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.exists(submit):
            dirs.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for d in dirs:
        if d and glob.glob(os.path.join(d, "jars", "spark-core_*.jar")):
            return d
    fail("no Spark installation found; set SPARK_HOME")


def build():
    """Compiles graft and the harness unless the sources are unchanged;
    returns the run-time class path."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala; run from a graft checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    # Keep the temporary files of sbt's JVMs inside the checkout.
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.server.autostart=false").strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as fh:
        paths = [line.strip() for line in fh if "scala-2.13/classes" in line and " " not in line.strip()]
    if r.returncode != 0 or not paths:
        fail(f"build failed, see {log}")
    cp = paths[-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def pct(xs, q):
    """The q-th percentile (1..99) as statistics.quantiles gives it."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100)[q - 1]


def run_jvm(cp, workload, seed, seconds, trace, cores, run_dir, extra):
    out = os.path.join(run_dir, "result.json")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/spark-local",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Dderby.system.home={run_dir}/derby",
            f"-Dderby.stream.error.file={run_dir}/derby.log",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores),
            "--work", run_dir, "--out", out]
    for k, v in extra.items():
        cmd += [f"--{k}", str(v)]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{workload} JVM did not finish within {JVM_TIMEOUT_S} s; see {log.name}")
    if r.returncode != 0 or not os.path.exists(out):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        fail(f"{workload} JVM exited with {r.returncode}:\n{tail}")
    return json.load(open(out))


def prepare(workload, seed, run_dir):
    """Writes the seeded inputs; returns (JVM arguments, checker context)."""
    if workload == "trip_stream":
        lines, malformed = gen.trip_log(seed, TRIP_LOG_LINES)
        path = os.path.join(run_dir, "trips.jsonl")
        gen.write_trips(path, lines)
        return ({"input": path, "batch-lines": TRIP_BATCH_LINES,
                 "warm-batches": TRIP_WARM_BATCHES}, (lines, malformed))
    docs, families = gen.corpus(seed)
    path = os.path.join(run_dir, "corpus.parquet")
    gen.write_corpus(path, docs)
    return ({"tables": QUERY_TABLES, "queries": QUERY_SAMPLE, "corpus": path,
             "threshold": gen.CORPUS_PARAMS["threshold"]}, (docs, families))


def read_tsv(path, types):
    with open(path) as fh:
        return [tuple(t(v) for t, v in zip(types, line.rstrip("\n").split("\t"))) for line in fh]


def check(workload, res, ctx, run_dir):
    """Runs the output checks; returns (failed items, named figures)."""
    c = res["check"]
    if workload == "trip_stream":
        lines, malformed = ctx
        n = c["submitted_lines"]
        sink = {r[0]: r[1:] for r in read_tsv(os.path.join(run_dir, "trip_rows.tsv"),
                                              (int, int, int, int, int, float))}
        expected_bad = sum(1 for i in malformed if i < n)
        r = checks.check_trips(lines[:n], c["batch_lines"], sink, expected_bad,
                               c["model.malformed_dropped"])
        events = sum(1 for line in lines[:n] if checks.parse_trip_line(line) is not None)
        return r["failed"], {
            "trip_failed_share": r["baseline_mismatch"] / max(1, r["trips"]),
            "trip_checked_trips": r["trips"],
            "trip_unexplained_failures": r["failed"],
            "trip_retention_splits": r["split"],
            "trip_batch_disorder_trips": r["batch_disorder_trips"],
            "reference_trip_events_per_s": events / r["reference_s"],
        }
    fails = checks.check_queries(QUERY_TABLES, c["query_dir"], COMPARE_PY)
    for q in c["failed_queries"]:
        fails.setdefault(q, "threw")
    for q, why in sorted(fails.items()):
        print(f"perfbench: query {q} failed its check: {why}", file=sys.stderr)
    docs, families = ctx
    dedup_failed, expected, figures = 0, 0, {}
    for path in ("clone", "organic"):
        d = os.path.join(run_dir, f"dedup_{path}")
        texts = {i: t for i, t, clone in docs if path == "clone" or not clone}
        r = checks.check_dedup(
            texts, families, gen.CORPUS_PARAMS["threshold"],
            read_tsv(os.path.join(d, "pairs.tsv"), (int, int, float)),
            read_tsv(os.path.join(d, "groups.tsv"), (int, int)),
            read_tsv(os.path.join(d, "clusters.tsv"), (int, int)),
            c[f"dedup_{path}_keep"])
        dedup_failed += r["failed"]
        expected += r["expected_pairs"]
        figures[f"dedup_{path}_check"] = r
    figures["query_failed_share"] = len(fails) / len(queries_in_sample())
    figures["query_failed"] = sorted(fails)
    figures["dedup_failed_share"] = dedup_failed / max(1, expected)
    return len(fails) + dedup_failed, figures


def queries_in_sample():
    with open(QUERY_SAMPLE) as fh:
        return [line.split("\t")[1].strip() for line in fh
                if line.strip() and not line.startswith("#")]


def latencies(ph, dedup=False):
    """Latencies by item: the sampled queries, and with `dedup` the dedup
    runs too."""
    per = {}
    for name, ms in zip(ph["labels"], ph["ops_ms"]):
        if dedup or name != DEDUP_OP:
            per.setdefault(name, []).append(ms)
    return per


def end_to_end(workload, res, ok_share):
    """The end-to-end metrics from the untraced phase. trip_stream:
    items_per_s is input lines over the phase's wall time and latency_ms
    the median micro-batch latency. query_mix: items_per_s is the items of
    one pass (the sampled queries and a dedup run) over the sum of their
    median latencies, and latency_ms the geometric mean of each sampled
    query's median latency. A run ends inside a pass, so its raw item
    count depends on which items the last pass reached; over thirty runs
    the per-item medians spread about a third less. A percentile over the
    samples of a seven-query mix would jump from query to query."""
    ph = res["phases"][0]
    if workload == "query_mix":
        latency = statistics.geometric_mean(
            [statistics.median(v) for v in latencies(ph).values()])
        per_item = [statistics.median(v) for v in latencies(ph, dedup=True).values()]
        rate = len(per_item) / (sum(per_item) / 1e3)
    else:
        latency = pct(ph["ops_ms"], 50)
        rate = ph["items"] / ph["wall_s"]
    return {
        "setup_s": (res["setup_s"], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "items_per_s": (rate, "1/s"),
        "latency_ms": (latency, "ms"),
        "ok_share": (ok_share, "share"),
    }


def named(workload, res, e2e, figures):
    """The workload's metrics under the names a reader of the workload uses,
    with the tail percentiles and sample counts."""
    ph = res["phases"][0]
    ops = ph["ops_ms"]
    out = {"setup_s": e2e["setup_s"][0], "peak_rss_mb": e2e["peak_rss_mb"][0]}
    if workload == "trip_stream":
        out.update(trip_events_per_s=ph["items"] / ph["wall_s"],
                   trip_batch_p50_ms=pct(ops, 50), trip_batch_p75_ms=pct(ops, 75),
                   trip_batch_p95_ms=pct(ops, 95), trip_data_batches=len(ops))
    else:
        per_query = latencies(ph)
        q_ms = [ms for v in per_query.values() for ms in v]
        dedup_ms = [ms for name, ms in zip(ph["labels"], ops) if name == DEDUP_OP]
        docs = res["check"]["dedup_clone_docs"] + res["check"]["dedup_organic_docs"]
        out.update(query_p50_s=pct(q_ms, 50) / 1e3, query_p90_s=pct(q_ms, 90) / 1e3,
                   query_geomean_s=e2e["latency_ms"][0] / 1e3,
                   query_pass_s=sum(statistics.median(v) for v in per_query.values()) / 1e3,
                   query_samples=len(q_ms), dedup_runs=len(dedup_ms),
                   dedup_docs_per_s=docs / 2 / (statistics.median(dedup_ms) / 1e3)
                   if dedup_ms else 0.0)
    out.update({k: v for k, v in figures.items() if not isinstance(v, dict)})
    return out


def tracing_overhead(untraced, traced):
    """Median over items of the traced phase's median latency over the
    untraced phase's, minus one. Per item, because the two halves of a
    query_mix run hold different mixes of items."""
    def by_item(ph):
        per = {}
        for name, ms in zip(ph["labels"] or [""] * len(ph["ops_ms"]), ph["ops_ms"]):
            per.setdefault(name, []).append(ms)
        return {k: statistics.median(v) for k, v in per.items()}
    u, t = by_item(untraced), by_item(traced)
    ratios = [t[k] / u[k] for k in u if k in t and u[k] > 0]
    return statistics.median(ratios) - 1 if ratios else 0.0


def per_layer(workload, res, figures, declared, spans):
    """Every declared per-layer metric; 0 where the workload does not
    exercise the layer."""
    vals = {k: v for k, v in res.items() if isinstance(v, (int, float)) and not isinstance(v, bool)}
    vals.update({k: v for k, v in res["check"].items()
                 if isinstance(v, (int, float)) and not isinstance(v, bool)})
    vals["trace.overhead_share"] = tracing_overhead(*res["phases"])
    for layer, s in spans["layers"].items():
        vals[f"self.{layer}_s"] = s
    vals["trace.wall_s"] = spans["wall_s"]
    vals["trace.self_sum_s"] = spans["self_sum_s"]
    vals["trace.self_gap_share"] = spans["uncovered_share"]
    vals["trace.self_sum_ok"] = 1 if spans["ok"] else 0
    if "reference_trip_events_per_s" in figures:
        vals["reference.trip_events_per_s"] = figures["reference_trip_events_per_s"]
    return {m["name"]: (float(vals.get(m["name"], 0.0)), m["unit"]) for m in declared}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(bench_json))
    load_avg = os.getloadavg()[0]
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    extra, ctx = prepare(a.workload, a.seed, run_dir)
    stage("inputs written")
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, cores, run_dir, extra)
    stage("JVM done")
    failed, figures = check(a.workload, res, ctx, run_dir)
    stage("checks done")
    failed += sum(p["failed_ops"] for p in res["phases"])
    attempted = sum(len(p["ops_ms"]) for p in res["phases"])
    env = dict(res["env"], nproc=os.cpu_count(), heap=HEAP, load_avg_1m=load_avg,
               workload=a.workload, seed=a.seed)
    print("env " + json.dumps(env, sort_keys=True))
    ok_share = 1.0 - (figures["trip_failed_share"] if a.workload == "trip_stream" else
                      figures["query_failed_share"] + figures["dedup_failed_share"])
    e2e = end_to_end(a.workload, res, ok_share)
    print(f"{a.workload} " + json.dumps(named(a.workload, res, e2e, figures), sort_keys=True))
    for k, v in figures.items():
        if isinstance(v, dict):
            print(f"{k} " + json.dumps(v, sort_keys=True))
    if a.trace:
        spans = checks.span_self_times(checks.read_spans(os.path.join(run_dir, "spans.tsv")))
        print("trace " + json.dumps(spans, sort_keys=True))
        if not spans["ok"]:
            print("perfbench: the traced spans fail the self-time check", file=sys.stderr)
        metrics = per_layer(a.workload, res, figures, spec["per_layer"], spans)
    else:
        metrics = e2e
    print(json.dumps({
        "correct": failed == 0, "attempted": max(1, attempted), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark of the graft engine: two workloads on local[N], N <= 4.

    python3 perfbench/run.py --workload corpus_pipeline --seed 1 --seconds 30 --trace 0

Builds the library and the benchmark driver from source (sbt, offline) on
first use, runs one workload in one JVM, checks every output, and prints as
its last stdout line {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are every end-to-end metric; with --trace 1 they are
every per-layer metric, of a traced run. See README.md.
"""

import argparse
import fcntl
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

import benchstats as bs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
# A run must end within 180 s.
JVM_TIMEOUT_S = 165
WORKLOADS = ("stream_nexmark", "corpus_pipeline")

# Spark 4 on JDK 17 outside spark-submit (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# The end-to-end metrics every workload reports (the contract: one set of
# names for all workloads). What each means on each workload is in
# README.md; the issue-named figures they stand in for are in the run
# record (`named`).
E2E = [("setup_s", "s"), ("pass_s", "s"), ("throughput_per_s", "1/s"), ("latency_ms", "ms")]

NEXMARK_QUERIES = [f"q{i}" for i in range(13)]
SPAN_NAMES = ["pass", "streaming.run", "dedup.full", "plans.minhash", "dedup.index_build",
              "dedup.against_index", "dedup.append", "similarity.build", "similarity.append",
              "similarity.query", "similarity.ivf", "similarity.exact"]

PER_LAYER = (
    [("queries.analysis_ms", "ms"), ("queries.optimization_ms", "ms"),
     ("queries.planning_ms", "ms"), ("queries.exec_ms", "ms"),
     ("sources.bytes_read", "bytes"), ("sources.records_read", "count"),
     ("operator.cpu_s", "s"), ("operator.cpu_util", "ratio"), ("operator.gc_s", "s"),
     ("operator.tasks", "count"), ("operator.peak_exec_mem_bytes", "bytes"),
     ("operator.shuffle_write_bytes", "bytes"), ("operator.shuffle_read_bytes", "bytes"),
     ("operator.spill_bytes", "bytes"), ("operator.task_skew", "ratio"),
     ("streaming.batches", "count"), ("streaming.add_batch_ms", "ms"),
     ("streaming.query_planning_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
     ("streaming.commit_offsets_ms", "ms"), ("streaming.state_rows", "count"),
     ("streaming.state_mem_bytes", "bytes"), ("streaming.state_commit_ms", "ms")]
    + [(f"streaming.{q}.events_per_s", "1/s") for q in NEXMARK_QUERIES]
    + [("plans.minhash_ns_per_doc", "ns"), ("plans.assign_ns_per_vec", "ns"),
       ("plans.cosine_ns_per_pair", "ns"),
       ("dedup.candidate_pairs", "count"), ("dedup.verified_pairs", "count"),
       ("dedup.verify_yield", "ratio"), ("dedup.index_build_s", "s"),
       ("dedup.against_index_s", "s"), ("dedup.append_s", "s"),
       ("dedup.index_band_rows", "count"),
       ("similarity.build_s", "s"), ("similarity.append_s", "s"),
       ("similarity.cell_skew", "ratio"), ("similarity.query_ms_per_query", "ms"),
       ("trace.overhead_pct", "%")]
    + [(f"span.{n}.{k}", "s") for n in SPAN_NAMES for k in ("wall_s", "self_s", "cpu_s")]
)


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- build ------------------------------------------------------------------

def spark_home():
    """The Spark installation: $SPARK_HOME, else the first directory on the
    PATH holding a spark-submit next to a jars/ directory (a pip-installed
    pyspark puts a spark-submit on the PATH without one)."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise BenchError("no Spark installation found: set SPARK_HOME")


def source_files():
    files = []
    for base in (LIB_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile library + driver with sbt unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(LIB_SRC, "scala", "graft")):
        raise BenchError(f"library sources not found under {os.path.relpath(LIB_SRC)}; "
                         "run from the root of a full checkout")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    fp = source_fingerprint()
    with open(STAMP + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(STAMP) and open(STAMP).read() == fp and os.path.isdir(CLASSES):
            return fp
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log("building (sbt Compile/products)")
        t0 = time.time()
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "Compile/products"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=800)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            raise BenchError("sbt compile failed")
        log(f"built in {time.time() - t0:.1f} s")
        with open(STAMP, "w") as fh:
            fh.write(fp)
    return fp


# --- one JVM run -------------------------------------------------------------

def run_jvm(args, work, cores):
    out = os.path.join(work, "result.json")
    cp = CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*")
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cores", str(cores), "--out", out])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"JVM run exceeded {JVM_TIMEOUT_S} s")
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.SIG_DFL)
    if rc != 0 or not os.path.exists(out):
        with open(logf, errors="replace") as lf:
            sys.stderr.write("".join(lf.readlines()[-60:]))
        raise BenchError(f"JVM run failed (exit {rc})")
    with open(out) as fh:
        return json.load(fh)


# --- metrics -----------------------------------------------------------------

def m(value, unit):
    return {"value": float(value), "unit": unit}


def stream_e2e(res):
    """(end-to-end metrics, issue-named figures) of a stream_nexmark run.
    A pass is one `run` call per query; its time is the sum of the calls.
    The latency is per query: the median micro-batch of each query, then
    their geometric mean (the pooled median falls between the light and
    the heavy queries' micro-batches, and jumps from run to run)."""
    calls = res["samples"]["calls"]
    batches = res["samples"]["batches"]
    by_query = {}
    for b in batches:
        by_query.setdefault(b["query"], []).append(max(1, b["trigger_ms"]))
    n = len(NEXMARK_QUERIES)
    events_per_s = sum(c["events"] for c in calls) / sum(c["s"] for c in calls)
    e2e = {"pass_s": bs.median([sum(c["s"] for c in calls[i:i + n])
                                for i in range(0, len(calls), n)]),
           "throughput_per_s": events_per_s,
           "latency_ms": bs.geomean_of_medians(by_query)}
    trig = [b["trigger_ms"] for b in batches]
    tail_p, tail = bs.highest_percentile(trig)
    named = {"stream_events_per_s": events_per_s, "stream_batch_p50_ms": bs.percentile(trig, 50),
             f"stream_batch_p{tail_p}_ms": tail, "stream_batches": len(trig)}
    return e2e, named


def corpus_stage(passes, key):
    return bs.median([p["stage_s"].get(key, 0.0) for p in passes])


def corpus_e2e(res):
    """(end-to-end metrics, issue-named figures) of a corpus_pipeline run.
    A pass's time is the sum of its timed calls (the checks left out)."""
    s = res["samples"]
    ps = s["passes"]
    ingest = [p["stage_s"]["index_build"] + p["stage_s"]["against_index"] + p["stage_s"]["append"]
              for p in ps]
    dedup_docs_per_s = s["docs"] / corpus_stage(ps, "dedup_full")
    ann_query_s = corpus_stage(ps, "ann_query")
    # milliseconds per query over the three search paths of the same
    # queries: a single path's one call per pass spread up to 0.28 over ten
    # runs, the three together up to 0.20
    search = [p["stage_s"]["ann_query"] + p["stage_s"]["ann_ivf"] + p["stage_s"]["ann_exact"]
              for p in ps]
    e2e = {"pass_s": bs.median([sum(p["stage_s"].values()) for p in ps]),
           "throughput_per_s": dedup_docs_per_s,
           "latency_ms": bs.median(search) * 1e3 / (3 * s["queries"])}
    named = {"dedup_docs_per_s": dedup_docs_per_s,
             "ingest_docs_per_s": s["docs"] / bs.median(ingest),
             "dedup_recall": bs.median([p["info"]["dedup_recall"] for p in ps]),
             "ann_build_s": bs.median([p["stage_s"]["ivf_build"] + p["stage_s"]["ivf_append"]
                                       for p in ps]),
             "ann_query_s": ann_query_s,
             "ann_ivf_s": corpus_stage(ps, "ann_ivf"),
             "ann_exact_s": corpus_stage(ps, "ann_exact"),
             "ann_recall_at_10": bs.median([p["info"]["ann_recall_at_10"] for p in ps])}
    return e2e, named


def end_to_end(res):
    """Every end-to-end metric of an untraced run, in its unit, and the
    issue-named figures of the run's workload."""
    e2e, named = {"stream_nexmark": stream_e2e, "corpus_pipeline": corpus_e2e}[res["workload"]](res)
    e2e["setup_s"] = bs.median(res["setup_s"])
    return {k: m(e2e[k], unit) for k, unit in E2E}, named


def per_layer(res, cores, ratios):
    """Per-layer metrics of the traced passes, per pass where they are
    totals; layers a workload does not touch read 0. Each ratio is also
    put in `ratios` with its numerator, denominator and base."""
    tr = res["trace"]
    n_pass = len(res["traced_pass_s"])
    wall = sum(res["traced_pass_s"])
    out = {name: 0.0 for name, _ in PER_LAYER}

    spans = tr["spans"]
    selfs = bs.self_times(spans)
    cpus = bs.subtree_sums(spans, {s["id"]: s["ops"]["cpu_ns"] for s in spans if s["ops"]})
    ops = [s["ops"] for s in spans if s["ops"]] + ([tr["unattributed_ops"]]
                                                   if tr["unattributed_ops"] else [])
    tot = {k: sum(o[k] for o in ops) for k in (ops[0].keys() if ops else [])}
    if tot:
        out.update({
            "sources.bytes_read": tot["bytes_read"] / n_pass,
            "sources.records_read": tot["records_read"] / n_pass,
            "operator.cpu_s": tot["cpu_ns"] / 1e9 / n_pass,
            "operator.cpu_util": tot["cpu_ns"] / 1e9 / (wall * cores),
            "operator.gc_s": tot["gc_ms"] / 1e3 / n_pass,
            "operator.tasks": tot["tasks"] / n_pass,
            "operator.peak_exec_mem_bytes": max(o["peak_exec_mem_bytes"] for o in ops),
            "operator.shuffle_write_bytes": tot["shuffle_write_bytes"] / n_pass,
            "operator.shuffle_read_bytes": tot["shuffle_read_bytes"] / n_pass,
            "operator.spill_bytes": tot["spill_bytes"] / n_pass})
    out["operator.task_skew"] = bs.task_skew(tr["stage_task_ms"])
    for s in spans:
        if s["name"] not in SPAN_NAMES:
            continue
        pre = f"span.{s['name']}"
        out[f"{pre}.wall_s"] += (s["end_ns"] - s["start_ns"]) / 1e9 / n_pass
        out[f"{pre}.self_s"] += selfs[s["id"]] / 1e9 / n_pass
        out[f"{pre}.cpu_s"] += cpus[s["id"]] / 1e9 / n_pass

    execs = tr["query_executions"]
    if execs:
        ph = tr["query_phases_ms"]
        for p in ("analysis", "optimization", "planning"):
            out[f"queries.{p}_ms"] = ph.get(p, 0.0) / execs
        out["queries.exec_ms"] = ph.get("execution", 0.0) / execs

    t = res["traced_samples"]
    w = res["workload"]
    if w == "stream_nexmark":
        bt = t["batches"]
        if bt:
            mean = lambda k: sum(b[k] for b in bt) / len(bt)  # noqa: E731
            out.update({"streaming.batches": len(bt) / n_pass,
                        "streaming.add_batch_ms": mean("add_batch_ms"),
                        "streaming.query_planning_ms": mean("query_planning_ms"),
                        "streaming.wal_commit_ms": mean("wal_commit_ms"),
                        "streaming.commit_offsets_ms": mean("commit_offsets_ms"),
                        "streaming.state_rows": mean("state_rows"),
                        "streaming.state_mem_bytes": max(b["state_mem_bytes"] for b in bt),
                        "streaming.state_commit_ms": mean("state_commit_ms")})
        for q in NEXMARK_QUERIES:
            cs = [c for c in t["calls"] if c["query"] == q]
            if cs:
                out[f"streaming.{q}.events_per_s"] = (sum(c["events"] for c in cs)
                                                      / sum(c["s"] for c in cs))
    if w == "corpus_pipeline":
        ps = t["passes"]
        st = lambda k: corpus_stage(ps, k)  # noqa: E731
        info = lambda k: bs.median([p["info"][k] for p in ps])  # noqa: E731
        vecs = t["vectors"] + t["drift_vectors"]
        verified = info("verified_pairs")
        yield_ = bs.Ratio(verified, t["candidate_pairs"], "candidate pairs with >= 2 band matches")
        ratios["dedup.verify_yield"] = yield_.describe()
        out.update({
            "plans.minhash_ns_per_doc": st("minhash_bands") * 1e9 / t["docs"],
            "plans.assign_ns_per_vec": st("ivf_append") * 1e9 / t["drift_vectors"],
            "plans.cosine_ns_per_pair": st("ann_exact") * 1e9 / (vecs * t["queries"]),
            "dedup.candidate_pairs": t["candidate_pairs"],
            "dedup.verified_pairs": verified,
            "dedup.verify_yield": yield_.value,
            "dedup.index_build_s": st("index_build"),
            "dedup.against_index_s": st("against_index"),
            "dedup.append_s": st("append"),
            "dedup.index_band_rows": info("index_band_rows"),
            "similarity.build_s": st("ivf_build"),
            "similarity.append_s": st("ivf_append"),
            "similarity.cell_skew": info("cell_skew"),
            "similarity.query_ms_per_query": st("ann_query") * 1e3 / t["queries"]})
    out["trace.overhead_pct"] = 100.0 * (bs.median(res["traced_pass_s"])
                                         / bs.median(res["pass_s"]) - 1.0)
    units = dict(PER_LAYER)
    return {k: m(v, units[k]) for k, v in out.items()}


def detail(res):
    """Per-call seconds of the timed passes, so that a slow figure can be
    traced to the call that moved it from the run's own output."""
    s = res["samples"]
    if res["workload"] == "stream_nexmark":
        per = {}
        for c in s["calls"]:
            per.setdefault(c["query"], []).append(round(c["s"], 3))
        return per
    return [{k: round(v, 3) for k, v in p["stage_s"].items()} for p in s["passes"]]


# --- main --------------------------------------------------------------------

def cpu_times():
    """The machine's aggregate CPU times from /proc/stat (None elsewhere)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of all CPU time between two `cpu_times` readings that the
    hypervisor gave to other guests (the 8th field, steal)."""
    if not before or not after or len(before) < 8:
        return None
    d = [a - b for a, b in zip(after, before)]
    return d[7] / sum(d) if sum(d) > 0 else None


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    nproc = len(os.sched_getaffinity(0))
    cores = min(4, nproc)
    load_before = os.getloadavg()[0]
    fingerprint = build()
    cpu_before = cpu_times()

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(args, work, cores)
        failed = res["failed"]
        failures = list(res["failures"])
        ratios = {}
        named = {}
        if args.trace:
            metrics = per_layer(res, cores, ratios)
        else:
            metrics, named = end_to_end(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    bad = [k for k in metrics if not bs.valid_name(k)]
    if bad:
        raise BenchError(f"invalid metric names {bad}")
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": git_commit(), "source_sha256": fingerprint,
        "nproc": nproc, "cores": cores, "jvm": res["jvm"], "spark": res["spark_version"],
        "python": platform.python_version(),
        "loadavg_1m_before": load_before, "loadavg_1m_after": os.getloadavg()[0],
        "cpu_steal_share": steal_share(cpu_before, cpu_times()),
        "setup_s": res["setup_s"], "check_s": res["check_s"], "pass_s": res["pass_s"],
        "traced_pass_s": res["traced_pass_s"], "named": named, "detail": detail(res),
        "ratios": ratios,
        "batch_trigger_ms": [b["trigger_ms"] for b in res["samples"].get("batches", [])],
        "batch_query": [b["query"] for b in res["samples"].get("batches", [])],
        "failures": failures,
    }
    if args.trace:
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        path = os.path.join(HERE, "out",
                            f"trace-{args.workload}-{args.seed}-{os.getpid()}.json")
        with open(path, "w") as fh:
            json.dump({"run": record, "trace": res["trace"]}, fh)
        record["trace_file"] = os.path.relpath(path, ROOT)
    print("perfbench-run " + json.dumps(record), flush=True)
    attempted = res["attempted"]
    print(json.dumps({"correct": failed == 0 and not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)

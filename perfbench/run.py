#!/usr/bin/env python3
"""Layered KG-job benchmark.

One command builds the library and the benchmark from source, generates a
workload's inputs from a seed, runs the batch KG job and the open-loop
streaming ingest through the library's public API, checks every output
against an independent DuckDB computation, and prints each metric with its
unit. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --workload kg-fit --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --seed 1                # every workload in turn

With --trace 0 it reports the end-to-end metrics of BENCHMARK.json; with
--trace 1 a traced run gives the per-layer metrics (spans around each
module call, stage counters from a SparkListener), plus the tracing
overhead and a single-task-slot run of the same KG job.
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
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
SLOTS = len(os.sched_getaffinity(0))

sys.path.insert(0, HERE)
import oracle  # noqa: E402
import gen as generate  # noqa: E402

# Every workload runs the same two phases after a warm-up KG job: the batch
# KG job, repeated for `batch_share` of --seconds (at least twice), then the
# open-loop ingest for the rest. They differ in the corpus the KG job reads
# and in the bench JVM's heap.
COMMON = dict(
    conv_size=50, dict_size=10000, dup_share=0.002, orphan_every=100,
    files=4 * SLOTS, shuffle_partitions=SLOTS, warm_jobs=1, min_jobs=2, batch_share=0.5,
    # ingest: a backlog of 30 drops primes the stream; then 250-turn drops
    # every 0.05 s (5k turns/s, about half of what the stream drains when it
    # takes a backlog in one micro-batch on 4 slots), of which those due in
    # the first 1.5 s only settle it
    drop_turns=250, prime_drops=30, interval_s=0.05, ingest_warm_s=1.5, redeliver_share=0.05,
    late_share=0.01, late_from=40, ttl_s=300, grace_s=15,
)
WORKLOADS = {
    "kg-fit": dict(
        why="uniform conversations, 1.5% of turns name one of 10^4 entities, no hot entity: one CC "
            "round and no spill (the bypass workload for link changes)",
        heap="3g", memory_fraction=0.6,
        turns=40000, mega=False, mention_share=0.015, two_mention_share=0.0,
        zipf=False, hub_share=0.0),
    "kg-hot": dict(
        why="10% of turns in 3 mega-conversations, Zipf mentions with a hub entity, 2% two-entity "
            "turns: star edges, multi-round CC and the canonical rewrite dominate, and they spill",
        heap="1g", memory_fraction=0.03,
        turns=20000, mega=True, mention_share=0.5, two_mention_share=0.02,
        zipf=True, hub_share=0.3),
}

E2E = [  # name, unit
    ("setup_s", "s"), ("kg_job_s", "s"), ("kg_triples_per_s", "triples/s"),
    ("ingest_lag_p50_s", "s"), ("ingest_lag_p90_s", "s"), ("peak_rss_mb", "MB"),
]
MODULES = ["sources", "expr", "mapper", "validate", "link", "materialize"]
STAGE_COUNTERS = [
    ("task_busy_s", "s"), ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("records_in", "rows"), ("records_out", "rows"), ("skew", "ratio"),
]
LAYER = [
    ("sources.scan_s", "s"), ("sources.tasks", "count"),
    ("expr.cells_s", "s"), ("expr.cells_evaluated", "count"),
    ("mapper.triples_s", "s"), ("mapper.self_s", "s"), ("mapper.triples_out", "count"),
    ("mapper.cell_errors_s", "s"),
    ("validate.pk_s", "s"), ("validate.fk_s", "s"), ("validate.invariant_s", "s"),
    ("validate.violations", "count"),
    ("link.mentions_s", "s"), ("link.mentions_out", "count"), ("link.star_edges_s", "s"),
    ("link.edges_out", "count"), ("link.edges_per_mention", "ratio"),
    ("link.cc_s", "s"), ("link.cc_rounds", "count"), ("link.largest_component", "count"),
    ("link.canonicalize_s", "s"), ("link.subjects_rewritten", "count"),
    ("materialize.dedup_sort_write_s", "s"), ("materialize.lineage_s", "s"),
    ("materialize.dedup_ratio", "ratio"), ("materialize.bytes_written", "bytes"),
    ("streaming.batches", "count"), ("streaming.batch_s_p50", "s"),
    ("streaming.processed_rows_per_s", "rows/s"), ("streaming.state_rows", "count"),
    ("streaming.state_mb", "MB"), ("streaming.late_dropped", "count"),
    ("streaming.dedup_ratio", "ratio"), ("streaming.gen_late_s", "s"),
] + [(f"{m}.{c}", u) for m in MODULES for c, u in STAGE_COUNTERS] + [
    ("trace.overhead_s", "s"), ("trace.kg_job_1core_s", "s"),
]

JVM_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    """A failure that leaves no result to report."""


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Compile the library and the benchmark once per source state."""
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        raise BenchError(f"library sources not found under {os.path.relpath(LIB_SRC, ROOT)}; "
                         "run from a checkout of the repository")
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    for stale in glob.glob(os.path.join(BUILD, "classes.jsa*")):
        os.remove(stale)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "-Xmx2g"), "-Dsbt.offline=true",
                                "-Dsbt.server.autostart=false"])
    log("building the library and the benchmark with sbt ...")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "benchClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            timeout=800).returncode
    if rc != 0 or not os.path.exists(cp_file):
        raise BenchError(f"build failed (exit {rc}); see .bench_build/build.log")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


# ------------------------------------------------------------------ JVM

def run_jvm(classpath, params, work):
    """Start the benchmark JVM on `params`; return (result, launch epoch s)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cfg = os.path.join(work, "config.properties")
    with open(cfg, "w") as fh:
        for k, v in params.items():
            fh.write(f"{k}={str(v).lower() if isinstance(v, bool) else v}\n")
    # The first JVM after a build records the classes it loaded into a CDS
    # archive; later JVMs map it instead of loading Spark class by class,
    # which takes seconds off every start.
    cds = os.path.join(BUILD, "classes.jsa")
    share = (f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
             else f"-XX:ArchiveClassesAtExit={cds}.tmp")
    # a fixed, pre-touched heap: the footprint does not follow the GC's
    # heap-sizing heuristics from run to run
    heap = params["heap"]
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", share,
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"] + ADD_OPENS
           + ["-cp", classpath, "graft.perfbench.Main", cfg, work])
    launched = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if rc == 0 and os.path.exists(f"{cds}.tmp"):
        os.replace(f"{cds}.tmp", cds)
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"benchmark JVM failed (exit {rc}):\n{tail}")
    with open(result) as fh:
        return json.load(fh), launched


def params_for(workload, seed, seconds, mode):
    p = dict(COMMON, **{k: v for k, v in WORKLOADS[workload].items() if k != "why"})
    ingest_s = p["ingest_warm_s"] + seconds * (1 - p["batch_share"])
    p.update(mode=mode, seed=seed, seconds=seconds, master=f"local[{SLOTS}]",
             drops=p["prime_drops"] + max(1, round(ingest_s / p["interval_s"])))
    return p


# ------------------------------------------------------------------ metrics

def p90(xs):
    return statistics.quantiles(xs, n=10)[8]


def ingest_metrics(ing, expected):
    data = [b for b in ing["batches"] if b["input_rows"] > 0]
    busy = sum(b["duration_ms"] for b in data) / 1e3
    last = ing["batches"][-1]
    return {
        "streaming.batches": len(ing["batches"]),
        "streaming.batch_s_p50": statistics.median(b["duration_ms"] for b in data) / 1e3,
        "streaming.processed_rows_per_s": sum(b["input_rows"] for b in data) / busy,
        "streaming.state_rows": last["state_rows"],
        "streaming.state_mb": last["state_bytes"] / 2**20,
        "streaming.late_dropped": sum(b["late_dropped"] for b in ing["batches"]),
        "streaming.dedup_ratio": expected["stream_rows"] / expected["stream_delivered_triples"],
        "streaming.gen_late_s": max(ing["gen_late_s"]),
    }


def state_levelled(ing):
    """State rows over the last quarter of the batches stay within 25% of
    those at the middle of the run: TTL eviction keeps pace with arrivals.
    """
    rows = [b["state_rows"] for b in ing["batches"] if b["input_rows"] > 0]
    mid = rows[len(rows) // 2]
    return mid > 0 and max(rows[3 * len(rows) // 4:]) <= 1.25 * mid


def layer_metrics(r, one_core_s, expected):
    spans = {}
    for s in r["spans"]:
        spans[s["name"]] = spans.get(s["name"], 0.0) + s["seconds"]
    c = r["counts"]
    m = {
        "sources.scan_s": spans["sources.scan"],
        "sources.tasks": r["modules"].get("sources", {}).get("tasks", 0),
        "expr.cells_s": spans["expr.cells"],
        "expr.cells_evaluated": c["expr.cells_evaluated"],
        "mapper.triples_s": spans["mapper.triples"],
        "mapper.self_s": spans["mapper.triples"] - spans["expr.cells"],
        "mapper.triples_out": c["mapper.triples_out"],
        "mapper.cell_errors_s": spans["mapper.cell_errors"],
        "validate.pk_s": spans["validate.pk"],
        "validate.fk_s": spans["validate.fk"],
        "validate.invariant_s": spans["validate.invariant"],
        "validate.violations": c["validate.violations"],
        "link.mentions_s": spans["link.mentions"],
        "link.mentions_out": c["link.mentions_out"],
        "link.star_edges_s": spans["link.star_edges"],
        "link.edges_out": c["link.edges_out"],
        "link.edges_per_mention": c["link.edges_out"] / max(1, c["link.mentions_out"]),
        "link.cc_s": spans["link.cc"],
        "link.cc_rounds": r["cc_rounds"],
        "link.largest_component": c["link.largest_component"],
        "link.canonicalize_s": spans["link.canonicalize"],
        "link.subjects_rewritten": c["link.subjects_rewritten"],
        "materialize.dedup_sort_write_s": spans["materialize.write"] - r["lineage_s"],
        "materialize.lineage_s": r["lineage_s"],
        "materialize.dedup_ratio": r["traced_job"]["triples"] / c["mapper.triples_out"],
        "materialize.bytes_written": oracle.dir_bytes(r["traced_job"]["graph"]),
        "trace.overhead_s": r["traced_job"]["seconds"] - r["job"]["seconds"],
        "trace.kg_job_1core_s": one_core_s,
    }
    for mod in MODULES:
        counters = r["modules"].get(mod, {})
        for name, _ in STAGE_COUNTERS:
            m[f"{mod}.{name}"] = counters.get(name, 1.0 if name == "skew" else 0)
    m.update(ingest_metrics(r["ingest"], expected))
    return m


# ------------------------------------------------------------------ one run

def run_workload(workload, seed, seconds, trace, classpath):
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure(workload, seed, seconds, trace, classpath, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(workload, seed, seconds, trace, classpath, work):
    params = params_for(workload, seed, seconds, "trace" if trace else "run")
    failures = []
    # set-up, part 1: generate the inputs twice; both copies must hash the same
    gen_s, gens = [], [os.path.join(work, f"gen{i}") for i in range(2)]
    for d in gens:
        t0 = time.time()
        generate.generate(d, seed, params)
        gen_s.append(time.time() - t0)
    hashes = [oracle.input_hashes(d) for d in gens]
    if hashes[0] != hashes[1]:
        failures.append(f"the same seed generated different inputs: {hashes}")
    gen = gens[0]
    params["gen_dir"] = gen

    r, launched = run_jvm(classpath, params, os.path.join(work, "main"))
    checks_start = time.time()
    stats = oracle.shape_stats(gen, r["ingest_dir"])
    log(f"[{workload} seed {seed}] inputs: " + ", ".join(f"{k}={v}" for k, v in stats.items()))

    expected = oracle.expected_graph(gen)
    jobs = r["jobs"] if not trace else [r["job"], r["traced_job"]]
    attempted, failed = 0, 0
    for j in jobs:
        attempted += 1
        bad = oracle.check_job(j, expected)
        if bad:
            failed += 1
            failures.append("KG job: " + "; ".join(bad))

    ing = r["ingest"]
    attempted += ing["attempted"]
    failed += ing["attempted"] - ing["committed"]
    if ing["committed"] < ing["attempted"]:
        failures.append(f"ingest: {ing['attempted'] - ing['committed']} drops not committed")
    stream = oracle.check_ingest(r["ingest_dir"], ing)
    expected.update(stream["expected"])
    if stream["failures"]:
        failed += 1
        failures += ["ingest: " + f for f in stream["failures"]]
    if not state_levelled(ing):
        failures.append("ingest: streaming state did not level off")

    if trace:
        one = one_core_run(workload, seed, seconds, classpath, work, gen)
        attempted += 1
        if oracle.check_job(one, expected):
            failed += 1
            failures.append("single-slot KG job: " + "; ".join(oracle.check_job(one, expected)))
        metrics = layer_metrics(r, one["seconds"], expected)
        # keep the spans and stage counters of the latest traced run
        with open(os.path.join(BUILD, f"trace-{workload}.json"), "w") as fh:
            json.dump({k: r[k] for k in ("spans", "counts", "modules", "lineage_s", "cc_rounds")}, fh, indent=1)
        spill = metrics["materialize.spill_bytes"]
        if WORKLOADS[workload]["mega"] != (spill > 0):
            failures.append(f"materialize.spill_bytes = {spill} contradicts the workload's memory shape")
        if WORKLOADS[workload]["mega"] and metrics["link.cc_rounds"] < 2:
            failures.append("link.cc_rounds < 2 on the hot workload")
    else:
        session_s = r["ready_ms"] / 1e3 - launched
        # the fastest timed job: the first one after the warm-up still runs
        # while the JIT compiles, and the host's other load only adds time
        best = min(jobs, key=lambda j: j["seconds"])
        lags = ing["lags_s"]
        metrics = {
            "setup_s": statistics.median(gen_s) + session_s + r["warmup_s"],
            "kg_job_s": best["seconds"],
            "kg_triples_per_s": best["triples"] / best["seconds"],
            "ingest_lag_p50_s": statistics.median(lags),
            "ingest_lag_p90_s": p90(lags),
            "peak_rss_mb": r["vm_hwm_kb"] / 1024,
        }
        log(f"[{workload} seed {seed}] KG jobs " + ", ".join(f"{j['seconds']:.2f} s" for j in jobs)
            + f"; {len(lags)} lag samples "
            f"({sum(1 for x in lags if x > metrics['ingest_lag_p90_s'])} beyond p90)")
    log(f"[{workload} seed {seed}] JVM {checks_start - launched:.1f} s, checks {time.time() - checks_start:.1f} s")
    for f in failures:
        log(f"[{workload} seed {seed}] CHECK FAILED: {f}")
    return result(not failures, attempted, failed, metrics, trace)


def result(correct, attempted, failed, metrics, trace):
    """The result object of one workload, metrics in declaration order."""
    units = LAYER if trace else E2E
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units}}


def one_core_run(workload, seed, seconds, classpath, work, gen_dir):
    """The same KG job at one task slot over the inputs already generated."""
    params = params_for(workload, seed, seconds, "kg1core")
    params.update(master="local[1]", shuffle_partitions=1, gen_dir=gen_dir, heap="3g")
    r, _ = run_jvm(classpath, params, os.path.join(work, "one"))
    return r["job"]


# ------------------------------------------------------------------ CLI

def parse(argv):
    ap = argparse.ArgumentParser(
        prog="perfbench/run.py",
        description="Layered KG-job benchmark; prints metrics and a final JSON line.")
    ap.add_argument("--workload", choices=sorted(WORKLOADS) + ["all"], default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    if a.seed < 0:
        ap.error("--seed must be a non-negative integer")
    if not 2 <= a.seconds <= 600:
        ap.error("--seconds must be between 2 and 600")
    return a


def main(argv=None):
    a = parse(argv)
    try:
        classpath = ensure_build()
        names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
        results = {w: run_workload(w, a.seed, a.seconds, a.trace, classpath) for w in names}
    except BenchError as e:
        log(f"error: {e}")
        return 1
    report(results)
    return 0 if all(r["correct"] for r in results.values()) else 1


def report(results):
    """Print every metric by name and unit, then the result JSON as the last
    line (one object per workload when several ran)."""
    for w, res in results.items():
        n, f = res["attempted"], res["failed"]
        print(f"{w}: failed_frac {f / n:.4f} ratio ({f} of {n} operations)")
        for k, v in res["metrics"].items():
            print(f"{w}: {k} {v['value']:.6g} {v['unit']}")
    print(json.dumps(next(iter(results.values())) if len(results) == 1 else results))


if __name__ == "__main__":
    sys.exit(main())

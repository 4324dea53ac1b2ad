#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload query_mix|table_lifecycle \\
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. It compiles the engine and the
harness (``build.py``), generates the workload's inputs from the seed
(``datagen.py``), runs the harness in one JVM with one Spark session
(``local[nproc]``, one closed-loop caller), checks every output
(``checks.py``) and prints, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(``layers.py``). The line before it carries the run's context: host, load,
revision, seed, heap, sample counts. A fuller record, with per-operation
fingerprints and span self times, is written under the build directory.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402

HEAP = "3g"
SETUP_REPS = 3
DEADLINE_S = 170

# query_mix: read-only queries with DuckDB twins from the reference,
# relational, text, dedup/ANN and event-stream families, in this order in
# every deck (the seed sets the tables, not the order)
QM = dict(sf=0.1, warm_sf=0.001, decks=12, queries=[
    "q2_inverted_index", "q28_mr_wordcount", "q5_filter_agg", "q14_time_bucket",
    "q33_cube", "q16_text_stats", "q15_exact_dedup", "q22_ann_lsh",
    "q29_stream_time_bucket"])
# table_lifecycle: lineitem at this scale (120k rows), 20-operation decks
TL = dict(sf=0.02, decks=12, batch_rows=2000, warm_sf=0.001)

# the JVM flags build.sbt passes to forked runs (Spark 4 on JDK 17)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def kind_p50_geomean(records):
    """Geometric mean, over the operation kinds (query names, table
    operations), of each kind's median latency. Every kind weighs the same,
    and a kind's median stays inside that kind's own cluster, where the
    median of all operations would sit between the clusters of fast and
    slow kinds and jump between them from run to run."""
    by_kind = {}
    for r in records:
        by_kind.setdefault(r["name"], []).append(r["wall_s"])
    return math.exp(statistics.fmean(
        math.log(statistics.median(w)) for w in by_kind.values()))


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def calibration_s(threads):
    """Seconds ``threads`` threads take to hash 64 MiB each: a fixed piece
    of parallel work whose time shows how much CPU the host gave this run
    (hashlib releases the GIL on large buffers)."""
    block = b"\0" * (1 << 20)

    def work():
        h = hashlib.sha256()
        for _ in range(64):
            h.update(block)
    pool = [threading.Thread(target=work) for _ in range(threads)]
    t = time.perf_counter()
    for th in pool:
        th.start()
    for th in pool:
        th.join()
    return time.perf_counter() - t


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def revision(build_dir):
    """The git revision, or outside git a digest of the engine sources."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        if p.returncode == 0:
            return p.stdout.strip()
    with open(os.path.join(build_dir, "classes", "engine.stamp")) as fh:
        return "src-" + fh.read()[:16]


def generate(workload, seed, data):
    """Write the workload's inputs once per (generator, sizes, seed)."""
    sizes = {"query_mix": QM, "table_lifecycle": TL}[workload]
    with open(os.path.join(HERE, "datagen.py"), "rb") as fh:
        key = hashlib.sha256(fh.read() + json.dumps(sizes).encode()).hexdigest()
    stamp = os.path.join(data, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return json.load(open(os.path.join(data, "inputs.json")))
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    info = {}
    if workload == "query_mix":
        info["tokens"] = {"q28_mr_wordcount": datagen.tables(data, seed, QM["sf"])}
        datagen.tables(f"{data}/warm", seed + 1, QM["warm_sf"])
        with open(f"{data}/plan.tsv", "w") as fh:
            fh.write(f"{len(QM['queries'])}\n")
            fh.write("\n".join(QM["queries"] * QM["decks"]) + "\n")
    else:
        datagen.lifecycle(data, seed, TL["sf"], TL["decks"], TL["batch_rows"])
        datagen.lifecycle(f"{data}/warm", seed + 1, TL["warm_sf"], 0, 0)
    with open(os.path.join(data, "inputs.json"), "w") as fh:
        json.dump(info, fh)
    with open(stamp, "w") as fh:
        fh.write(key)
    return info


def run_harness(cp, workload, data, work, seconds, trace, cores, log):
    """Run the JVM; return (records, peak RSS in MB)."""
    out = os.path.join(work, "harness.jsonl")
    # a fixed, pre-touched heap: peak RSS then moves with off-heap and
    # metaspace growth instead of with when the collector chose to expand.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss8m"] +
           ADD_OPENS + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local"] +
        ["-cp", cp, "perfbench.Harness", "--workload", workload, "--data", data,
         "--work", work, "--seconds", str(seconds), "--trace", str(int(trace)),
         "--cores", str(cores), "--reps", str(SETUP_REPS), "--out", out])
    os.makedirs(f"{work}/tmp")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work)
        timer = threading.Timer(DEADLINE_S - (time.time() - START), p.kill)
        timer.start()
        _, status, usage = os.wait4(p.pid, 0)
        p.returncode = os.waitstatus_to_exitcode(status)
        timer.cancel()
    if p.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"harness exited with {p.returncode}")
    recs = {"opdone": []}
    with open(out) as fh:
        for line in fh:
            obj = json.loads(line)
            if "opdone" in obj:
                recs["opdone"].append(obj["opdone"])
            else:
                recs.update(obj)
    return recs, usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["query_mix", "table_lifecycle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build_dir = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir = os.path.join(ROOT, build_dir) if not os.path.isabs(build_dir) else build_dir
    phase_s = {}
    cp = build.build(ROOT, build_dir)
    phase_s["build"] = time.time() - START
    cores = os.cpu_count()
    data = os.path.join(build_dir, "data", f"{a.workload}-{a.seed}")
    info = generate(a.workload, a.seed, data)
    phase_s["inputs"] = time.time() - START - sum(phase_s.values())
    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    load_before, ticks_before, calib_before = loadavg(), cpu_ticks(), calibration_s(cores)
    recs, rss_mb = run_harness(cp, a.workload, data, work, a.seconds, a.trace,
                               cores, os.path.join(work, "harness.log"))
    load_after, ticks_after, calib_after = loadavg(), cpu_ticks(), calibration_s(cores)
    phase_s["harness"] = time.time() - START - sum(phase_s.values())
    ops = recs["opdone"]
    check = recs["check"]

    # correctness: every exception and every wrong output is a failure
    failed_ops = {r["op"] for r in ops if r["error"] is not None}
    if a.workload == "query_mix":
        bad = checks.query_results(ROOT, data, check["results"], check["oracle"])
        failed_ops |= {r["op"] for r in ops if r["name"] in bad}
        extra_failed = 0
    else:
        plan = [line.rstrip("\n").split("\t") for line in open(f"{data}/ops.tsv")]
        bad = checks.table_snapshots(data, plan, ops, check)
        extra_failed = len(bad)
    attempted = len(ops)
    phase_s["check"] = time.time() - START - sum(phase_s.values())
    failed = min(attempted, len(failed_ops) + extra_failed)

    untraced = [r for r in ops if r["phase"] == "untraced"]
    walls = [r["wall_s"] for r in untraced]
    tail_q = layers.tail_quantile(len(walls))
    rate = len(walls) / sum(walls)
    setups = recs["setup"]
    e2e = {
        "latency_p50_geomean_s": (kind_p50_geomean(untraced), "s"),
        "ops_per_s": (rate, "1/s"),
        "setup_s": (statistics.median(s["total_s"] for s in setups), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    context = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": cores, "heap_max_mb": recs["heap_max_mb"],
        "loadavg_1m_before": load_before, "loadavg_1m_after": load_after,
        "cpu_steal_ratio": ((ticks_after[0] - ticks_before[0]) /
                            max(1, ticks_after[1] - ticks_before[1])),
        "calibration_s_before": calib_before, "calibration_s_after": calib_after,
        "revision": revision(build_dir), "samples": len(walls),
        "latency_p50_s": layers.quantile(walls, 0.5),
        "tail_percentile": round(tail_q * 100),
        "latency_tail_s": layers.quantile(walls, tail_q),
        "exhausted": recs["exhausted"],
        "failed_ratio": failed / attempted if attempted else 0.0,
        "mismatches": bad, "setup_reps": setups, "phase_s": phase_s,
    }
    record = {"context": context,
              "end_to_end": {k: v[0] for k, v in e2e.items()},
              "ops": ops}
    if a.trace:
        trace = {k: recs[k] for k in ("spans", "jobs", "plans", "batches")}
        m, fingerprints, self_times = layers.per_layer(
            a.workload, ops, trace, setups, cores, info.get("tokens", {}), rate, check)
        spec = layers.spec()["per_layer"]
        metrics = {k: {"value": m[k], "unit": spec[k][0]} for k in spec}
        record.update(per_layer=m, fingerprints=fingerprints,
                      self_time_s=self_times)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    records_dir = os.path.join(build_dir, "records")
    os.makedirs(records_dir, exist_ok=True)
    path = os.path.join(records_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    context["record"] = os.path.relpath(path, ROOT)
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


START = time.time()
if __name__ == "__main__":
    main()

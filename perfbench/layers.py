"""Per-layer metrics of a traced run.

The harness records spans around each call it makes into a layer, and
Spark's listeners give jobs (tagged with the operation's job group), task
counters, plan phases and streaming batches. This module turns them into
the per-layer metrics named in ``metrics.json`` and the per-operation
fingerprints a regression can be sorted with: job count, shuffle MB and
records, executor CPU seconds and a plan hash, none of which load moves.
"""
import hashlib
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE_KINDS = ["read_pruned", "read_full", "read_at", "append", "merge",
                "delete", "optimize", "vacuum"]
COMMITS = {"append", "merge", "delete", "optimize"}
READS = {"read_pruned", "read_full", "read_at"}


def spec():
    with open(os.path.join(HERE, "metrics.json")) as fh:
        return json.load(fh)


def union(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def quantile(values, q):
    """Linear-interpolated quantile of ``values`` (0 for none)."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


TAIL_GRID = (0.99, 0.95, 0.9, 0.75, 0.5)


def tail_quantile(n):
    """The highest percentile of the grid with at least ten samples beyond
    it; the median when there are fewer than twenty samples."""
    for q in TAIL_GRID:
        if n * (1 - q) >= 10:
            return q
    return 0.5


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(workload, records, trace, setups, cores, tokens, untraced_rate,
              check):
    """Return ``(metrics, fingerprints, self_times)`` for the traced window.
    ``tokens`` maps an operation name to the tokens its map phase reads."""
    ops = {r["op"]: r for r in records if r["phase"] == "traced"}
    spans = trace["spans"]
    jobs = [j for j in trace["jobs"] if j["end"] >= 0]
    by_op = {i: [] for i in ops}
    unattributed = 0
    for j in jobs:
        g = j["group"]
        if g.startswith("op-"):
            if int(g[3:]) in by_op:
                by_op[int(g[3:])].append(j)
        elif g != "check":
            unattributed += 1
    exec_of = {}
    for i, js in by_op.items():
        for j in js:
            if j["exec"]:
                exec_of[j["exec"]] = i
    plans = {i: [] for i in ops}
    for p in trace["plans"]:
        if p["exec"] in exec_of:
            plans[exec_of[p["exec"]]].append(p)
    stream_of = {j["stream"]: i for i, js in by_op.items() for j in js if j["stream"]}
    batches = {i: [] for i in ops}
    for b in trace["batches"]:
        if b["query"] in stream_of:
            batches[stream_of[b["query"]]].append(b["ms"] / 1e3)
    op_span = {s["op"]: s for s in spans if s["name"] == "op"}
    spans_of = {i: [s for s in spans if s["op"] == i] for i in ops}

    def jobs_in(span, js):
        return [j for j in js if span["start"] <= j["start"] <= span["end"] + 1]

    def covered(span, js):
        return union((max(j["start"], span["start"]), min(j["end"], span["end"]))
                     for j in js if j["end"] > span["start"] and j["start"] < span["end"])

    fingerprints, gap, run, busy_num, busy_den = [], [], [], 0.0, 0.0
    for i, r in sorted(ops.items()):
        js, sp = by_op[i], op_span.get(i)
        wall_ms = (sp["end"] - sp["start"]) if sp else r["wall_s"] * 1e3
        cov = covered(sp, js) if sp else 0.0
        gap.append((wall_ms - cov) / 1e3)
        run.append(cov / 1e3)
        busy_num += sum(j["run_ms"] for j in js)
        busy_den += cov * cores
        plan_hash = hashlib.sha1("|".join(p["hash"] for p in sorted(
            plans[i], key=lambda p: int(p["exec"]))).encode()).hexdigest()[:16]
        fingerprints.append({
            "op": i, "name": r["name"], "wall_s": r["wall_s"], "jobs": len(js),
            "shuffle_mb": sum(j["shuffle_bytes"] for j in js) / 2**20,
            "shuffle_records": sum(j["shuffle_records"] for j in js),
            "cpu_s": sum(j["cpu_ns"] for j in js) / 1e9,
            "plan_hash": plan_hash})

    # self time: a span's duration minus what its child spans and jobs cover
    self_times = {}
    for i in ops:
        for s in spans_of[i]:
            kids = [(c["start"], c["end"]) for c in spans_of[i] if c["parent"] == s["id"]]
            direct = [j for j in by_op[i] if not any(
                c["parent"] == s["id"] and c["start"] <= j["start"] <= c["end"]
                for c in spans_of[i])]
            kids += [(max(j["start"], s["start"]), min(j["end"], s["end"]))
                     for j in direct if j["end"] > s["start"] and j["start"] < s["end"]]
            self_times.setdefault(s["name"], []).append(
                (s["end"] - s["start"] - union(kids)) / 1e3)
    self_times = {k: _mean(v) for k, v in sorted(self_times.items())}

    def per_op(f):
        return _mean(f(i) for i in ops)

    m = {}
    med = lambda k: statistics.median(s[k] for s in setups)
    m["session.create_s"] = med("create_s")
    m["session.warmup_s"] = med("warmup_s")
    m["artifacts.build_s"] = med("prepare_s") if workload == "query_mix" else 0.0
    builds = [s for s in spans if s["name"] == "operators.build" and s["op"] in ops]
    m["operators.build_s"] = _mean((s["end"] - s["start"]) / 1e3 for s in builds)
    m["operators.eager_jobs"] = _mean(len(jobs_in(s, by_op[s["op"]])) for s in builds)
    for k, src in (("analyze", "analyze_ms"), ("optimize", "optimize_ms"),
                   ("physical", "physical_ms")):
        m[f"plan.{k}_s"] = per_op(lambda i: sum(p[src] for p in plans[i]) / 1e3)
    m["exec.jobs"] = per_op(lambda i: len(by_op[i]))
    m["exec.unattributed_jobs"] = unattributed
    m["exec.driver_gap_s"] = _mean(gap)
    m["exec.run_s"] = _mean(run)
    for k, src, scale in (("task_cpu_s", "cpu_ns", 1e9), ("gc_s", "gc_ms", 1e3),
                          ("shuffle_write_mb", "shuffle_bytes", 2**20),
                          ("shuffle_records", "shuffle_records", 1),
                          ("spill_mb", "spill_bytes", 2**20),
                          ("input_mb", "input_bytes", 2**20)):
        m[f"exec.{k}"] = per_op(lambda i: sum(j[src] for j in by_op[i]) / scale)
    m["exec.core_busy_ratio"] = busy_num / busy_den if busy_den else 0.0
    m["api.combine_ratio"] = _mean(
        sum(j["shuffle_records"] for j in by_op[i]) / tokens[r["name"]]
        for i, r in ops.items() if r["name"] in tokens)

    resolves = [s for s in spans if s["name"] == "sources.resolve" and s["op"] in ops]
    m["sources.resolve_s"] = _mean((s["end"] - s["start"]) / 1e3 for s in resolves)
    for kind in SOURCE_KINDS:
        ss = [s for s in spans if s["name"] == f"sources.{kind}" and s["op"] in ops]
        m[f"sources.{kind}_s"] = _mean((s["end"] - s["start"]) / 1e3 for s in ss)
        m[f"sources.{kind}_jobs"] = _mean(len(jobs_in(s, by_op[s["op"]])) for s in ss)
        m[f"sources.{kind}_driver_s"] = _mean(
            (s["end"] - s["start"] - covered(s, by_op[s["op"]])) / 1e3 for s in ss)
    commits = [r for r in ops.values() if r["kind"] in COMMITS and "files_added" in r]
    m["sources.files_added"] = _mean(r["files_added"] for r in commits)
    m["sources.files_removed"] = _mean(r["files_removed"] for r in commits)
    m["sources.bytes_written_mb"] = _mean(r["bytes_written"] / 2**20 for r in commits)
    m["sources.versions"] = max((r.get("version", 0) for r in records), default=0)
    m["sources.space_amp"] = (check["root_bytes"] / check["snapshot_bytes"]
                              if check.get("snapshot_bytes") else 0.0)
    untraced = [r for r in records if r["phase"] == "untraced" and r["error"] is None]
    for name, kinds in (("commit", COMMITS), ("read", READS)):
        w = [r["wall_s"] for r in untraced if r["kind"] in kinds]
        m[f"sources.{name}_p50_s"] = quantile(w, 0.5)
        m[f"sources.{name}_tail_s"] = quantile(w, tail_quantile(len(w)))
    m["streaming.batches"] = per_op(lambda i: len(batches[i]))
    all_b = [b for i in ops for b in batches[i]]
    m["streaming.batch_s"] = _mean(all_b)
    traced_walls = [r["wall_s"] for r in ops.values()]
    traced_rate = len(traced_walls) / sum(traced_walls) if traced_walls else 0.0
    m["trace.overhead_ratio"] = (untraced_rate / traced_rate - 1) if traced_rate else 0.0
    return m, fingerprints, self_times

#!/usr/bin/env python3
"""Fast self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

Runs every workload on tiny inputs (sf0.001 tables, a small manifest
table) with tracing off and on, and asserts that:

- the last line is the result object, every metric BENCHMARK.json names is
  printed with its unit, and the run is correct;
- the correctness gate catches a deliberately wrong output of each
  workload: a query result missing a row, and a table snapshot with a row
  too many.

It uses the same build directory as the benchmark and seeds of its own.
"""
import glob
import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402

SEED = 424242
TINY = {
    "QM": dict(run.QM, sf=0.001, decks=5),
    "TL": dict(run.TL, sf=0.001, decks=5, batch_rows=50),
}


def bench(workload, trace):
    """One tiny run in a child process; returns (context, result)."""
    code = (f"import sys; sys.argv = {['run.py', '--workload', workload, '--seed', str(SEED), '--seconds', '1', '--trace', str(trace)]!r}; "
            f"import run; run.QM.update({TINY['QM']!r}); "
            f"run.TL.update({TINY['TL']!r}); run.main()")
    p = subprocess.run([sys.executable, "-c", code], cwd=HERE, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace} failed:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


def expect_metrics(result, names, units, label):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, label
    got = result["metrics"]
    assert set(got) == set(names), f"{label}: {sorted(set(got) ^ set(names))}"
    for n in names:
        assert got[n]["unit"] == units[n], f"{label}: {n} unit {got[n]['unit']}"
        assert isinstance(got[n]["value"], (int, float)), f"{label}: {n}"
    assert result["correct"] and result["failed"] == 0, f"{label}: {result}"
    assert result["attempted"] >= 1, label


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    documented = {k: v[0] for k, v in json.load(
        open(os.path.join(HERE, "metrics.json")))["per_layer"].items()}
    assert layer == documented, "BENCHMARK.json per_layer != metrics.json"
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))

    for w in [x["name"] for x in spec["workloads"]]:
        ctx, res = bench(w, 0)
        expect_metrics(res, e2e, e2e, f"{w} untraced")
        ctx1, res1 = bench(w, 1)
        expect_metrics(res1, layer, layer, f"{w} traced")
        work = os.path.join(build_dir, "work", f"{w}-{SEED}-1")
        data = os.path.join(build_dir, "data", f"{w}-{SEED}")
        record = json.load(open(os.path.join(ROOT, ctx1["record"])))
        assert record["fingerprints"], f"{w}: no fingerprints"
        assert ctx["samples"] >= 1 and "loadavg_1m_before" in ctx, w

        # a deliberately wrong output must be caught by the gate
        if w == "query_mix":
            f = max(glob.glob(f"{work}/results/*/*.parquet"),
                    key=lambda p: pq.read_metadata(p).num_rows)
            name = os.path.basename(os.path.dirname(f))
            pq.write_table(pq.read_table(f).slice(1), f)   # drop one row
            oracle = {}
            for line in open(f"{work}/harness.jsonl"):
                obj = json.loads(line)
                if "check" in obj:
                    oracle = obj["check"]["oracle"]
            bad = checks.query_results(ROOT, data, f"{work}/results",
                                       {name: oracle[name]})
            assert name in bad, "query_mix: a dropped result row went unnoticed"
        else:
            final = glob.glob(f"{work}/check/final/*.parquet")[0]
            t = pq.read_table(final)
            pq.write_table(pa.concat_tables([t, t.slice(0, 1)]), final)  # a row twice
            check, ops = None, []
            for line in open(f"{work}/harness.jsonl"):
                obj = json.loads(line)
                if "check" in obj:
                    check = obj["check"]
                if "opdone" in obj:
                    ops.append(obj["opdone"])
            plan = [l.rstrip("\n").split("\t") for l in open(f"{data}/ops.tsv")]
            bad = checks.table_snapshots(data, plan, ops, check)
            assert "final" in bad, "table_lifecycle: a wrong snapshot went unnoticed"
        print(f"ok  {w}: {len(e2e)} end-to-end and {len(layer)} per-layer metrics; "
              "wrong output caught")
    print("selftest passed")


if __name__ == "__main__":
    main()

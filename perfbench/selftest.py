#!/usr/bin/env python3
"""Self-tests of the benchmark harness.

    python3 perfbench/selftest.py          # fast checks, no JVM
    python3 perfbench/selftest.py --e2e    # also one full run with a wrong pinned fold

1. The generator's closed-form answers equal a brute-force evaluation of the
   reference semantics over the CSV text it wrote, on a tiny shape.
2. The result line names every metric in BENCHMARK.json, with its unit, and
   every metric there has a unit and a direction.
3. A wrong pinned fold makes a run report a failure.
"""

import csv
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402


def brute_force(directory, shape):
    """The reference's semantics, cell by cell, from the landed CSV text:
    DictReader strings, (country, province) combine with zero-fill, and a
    first-match lookup in file order."""
    tables = {}
    for m in gen.MEASURES:
        with open(os.path.join(directory, f"{m}.csv")) as f:
            tables[m] = list(csv.DictReader(f))
    with open(os.path.join(directory, "lookup.csv")) as f:
        lookup = list(csv.DictReader(f))
    dates = [c for c in tables["confirmed"][0] if c.count("/") == 2]
    names = dict(zip(dates, shape.date_names))

    def iso2(country):
        for row in lookup:
            if row["Country_Region"] == country:
                return row["iso2"]
        return None

    def series(row):
        return [int(row[d]) for d in dates]

    def find(m, row):
        for other in tables[m]:
            if other["Country/Region"] == row["Country/Region"] and other["Province/State"] == row["Province/State"]:
                return other
        return None

    flat = {m: 0 for m in gen.MEASURES}
    for row in tables["confirmed"]:
        for m in gen.MEASURES:
            match = find(m, row)
            flat[m] += sum(series(match)) if match else 0
    deaths = [(sum(series(r)), r["Country/Region"], series(r)[-1]) for r in tables["deaths"]]
    top = sorted(deaths, key=lambda t: (-t[0], t[1]))[: gen.TOP_K]
    in_range = [d for d in dates if gen.RANGE_FROM <= names[d] <= gen.RANGE_TO]
    pairs = sorted([r["Country/Region"], iso2(r["Country/Region"])] for r in tables["confirmed"])
    return {
        "latest": [len(deaths), sum(t[2] for t in deaths)],
        "topk": [[c, t] for t, c, _ in top],
        "range": sum(int(r[d]) for r in tables["confirmed"] for d in in_range),
        "lake_sums": {m: sum(sum(series(r)) for r in tables[m]) for m in gen.MEASURES},
        "lake_counts": {m: len(tables[m]) for m in gen.MEASURES},
        "lake_records": sum(len(tables[m]) for m in gen.MEASURES),
        "lake_iso2": pairs,
        "flat_records": len(tables["confirmed"]),
        "flat_sums": flat,
        "flat_iso2": pairs,
    }


def test_closed_form():
    for seed in (1, 7):
        # 500 dates reach the query set's date range; 31 rows hit every
        # missing-row rule and leave some countries out of the lookup.
        shape = gen.JhuShape(seed, rows=31, dates=500)
        with tempfile.TemporaryDirectory() as d:
            shape.write(d)
            want = brute_force(d, shape)
        got = shape.expected()
        assert got == want, f"closed form differs from brute force (seed {seed}): " + str(
            {k: (got[k], want[k]) for k in want if got[k] != want[k]})[:2000]
        assert any(p[1] is None for p in got["lake_iso2"]), "the shape should leave a country unmatched"


def test_report_names_every_metric():
    spec = run.benchmark_spec()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] and m["better"] in ("lower", "higher"), m
    values = {m["name"]: 1.0 for m in spec["per_layer"]}
    values.update(run_s=2.0, etl_s=1.0, lake_query_s=0.5, peak_heap_mb=100.0, dedup_rows=10.0, dedup_s=1.0)
    result = {
        "setup": {"setup_s": 3.0, "session.jvm_s": 0.1, "session.spark_s": 1.0, "session.warmup_s": 1.9},
        "host.cpu_probe_s": 0.4,
        "error": None,
        "checks": {"q": "1:2"},
        "values": values,
    }
    results = [result, result]
    for trace, group in ((False, "end_to_end"), (True, "per_layer")):
        line = run.summarise(results, {"q": "1:2"}, None, trace, spec)
        want = {m["name"]: m["unit"] for m in spec[group]}
        got = {k: v["unit"] for k, v in line["metrics"].items()}
        assert got == want, f"{group}: report {sorted(got)} != BENCHMARK.json {sorted(want)}"
        assert line["correct"] and line["attempted"] == 2 and line["failed"] == 0, line


def test_wrong_fold_fails():
    pins = run.load_pins(run.PINS)
    folds = {op: pins[op] for op in run.SF_OPS}
    for op in run.SF_OPS:
        wrong = dict(folds)
        n, h = wrong[op].split(":")
        wrong[op] = f"{n}:{int(h) ^ 1}"
        attempted, failed, note = run.check_iteration(folds, wrong)
        assert attempted == len(folds) and failed == 1 and op in note, (op, failed, note)


def test_wrong_fold_fails_end_to_end():
    pins = run.load_pins(run.PINS)
    pins["q64_cc_chain"] = "1:1"
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        json.dump(pins, f)
    try:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "dedup_index", "--seed", "1",
                            "--seconds", "1", "--trace", "0", "--pins", f.name],
                           stdout=subprocess.PIPE, text=True, timeout=600)
    finally:
        os.unlink(f.name)
    line = json.loads(p.stdout.strip().splitlines()[-1])
    assert p.returncode == 0 and not line["correct"] and line["failed"] >= 1, line
    print(f"  wrong pin reported: attempted={line['attempted']} failed={line['failed']}")


if __name__ == "__main__":
    tests = [test_closed_form, test_report_names_every_metric, test_wrong_fold_fails]
    if "--e2e" in sys.argv:
        tests.append(test_wrong_fold_fails_end_to_end)
    for t in tests:
        t()
        print(f"ok {t.__name__}")

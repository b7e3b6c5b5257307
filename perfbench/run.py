#!/usr/bin/env python3
"""The repository benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload jhu_daily --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
harness from source with sbt (offline) and caches the classpath and a JVM
class-data archive under `perfbench/.build/`; later runs rebuild only when a
source file changed.
Every run works in a fresh directory under `perfbench/.work/` and deletes it.

The last line of stdout is the result:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.
With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
with `--trace 1` its per-layer metrics. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Input size of each workload (see README.md for why each was chosen).
JHU_SHAPE = (289, 1100)  # rows, date columns: the reference's published shape
# sf0.1's embeddings and customer row counts; documents scaled down from
# sf0.1's 5000 for the run-time budget (README.md, "Scale").
SF_TABLES = {"docs": 1000, "vectors": 2000, "customers": 15000}
SF_OPS = ("q22_minhash_lsh_pairs", "q45_neardup_clusters", "q64_cc_chain",
          "q275_manifest_lifecycle", "q281_dedup_manifest_lifecycle")
WORKLOADS = ("jhu_daily", "dedup_index")
HEAP = "4g"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
PINS = os.path.join(HERE, "pins.json")
RUN_LIMIT_S = 175  # a run must end within 180 s
ARCHIVE = "classes.jsa"  # the JVMs' class-data archive, made by the build


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- build -------------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Builds program + harness when sources changed; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("the program's sources (build.sbt, src/main) are not next to perfbench/; run from a full checkout")
    build = os.path.join(HERE, ".build")
    stamp, cp_file = os.path.join(build, "digest"), os.path.join(build, "classpath")
    digest = source_digest()
    if all(map(os.path.isfile, (stamp, cp_file, os.path.join(build, ARCHIVE)))) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(build, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(build, "sbt.log")
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True, timeout=840)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {p.returncode}); log in {log}")
    cp = jar_directories(lines[-1].strip(), build)
    dump_archive(cp, build)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def jar_directories(cp, build):
    """Packs each class directory of the classpath into a jar under `build`:
    the JVM's class-data archive holds classes from jars only."""
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(build, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, names in sorted(os.walk(entry)):
                    for n in sorted(names):
                        f = os.path.join(d, n)
                        z.write(f, os.path.relpath(f, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def dump_archive(cp, build):
    """Records the classes a set-up loads into a class-data archive, which
    every benchmark JVM then maps instead of loading them one by one."""
    archive = os.path.join(build, ARCHIVE)
    if os.path.exists(archive):
        os.remove(archive)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="archive-", dir=os.path.join(HERE, ".work"))
    try:
        jvm(cp, work, "jhu_daily", work, ["--setup-only"], time.monotonic() + 600,
            [f"-XX:ArchiveClassesAtExit={archive}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.isfile(archive):
        fail("the set-up JVM wrote no class-data archive")


# ---- one JVM ------------------------------------------------------------------

def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def jvm(cp, work, workload, inputs, extra, deadline, flags=None):
    """Runs Main once (one iteration); returns its parsed result file."""
    tmp = tempfile.mkdtemp(prefix="jvm-", dir=work)
    out = os.path.join(tmp, "result.json")
    if flags is None:
        flags = [f"-XX:SharedArchiveFile={os.path.join(HERE, '.build', ARCHIVE)}"]
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + flags
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", workload, "--inputs", inputs,
            "--work", tmp, "--out", out, "--cpus", str(cpus())] + extra
    log = os.path.join(work, "jvm.log")
    try:
        with open(log, "a") as lf:
            p = subprocess.run(cmd, stdout=lf, stderr=lf, timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        fail(f"{workload}: the benchmark JVM did not finish within the run's time limit")
    if not os.path.isfile(out):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"{workload}: the benchmark JVM exited {p.returncode} without a result")
    with open(out) as f:
        res = json.load(f)
    shutil.rmtree(tmp, ignore_errors=True)
    return res


# ---- correctness ---------------------------------------------------------------

def check_iteration(checks, expected):
    """(attempted, failed, first mismatch) for one iteration's answers."""
    attempted = len(expected)
    bad = [k for k, v in expected.items() if checks.get(k) != v]
    return attempted, len(bad), (f"{bad[0]}: got {str(checks.get(bad[0]))[:200]} want {str(expected[bad[0]])[:200]}" if bad else None)


def load_pins(path):
    if not os.path.isfile(path):
        return {}
    with open(path) as f:
        return json.load(f)


# ---- metrics ---------------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def summarise(results, expected, points, trace, spec):
    """Folds the JVMs' results into the benchmark's result line."""
    attempted = failed = 0
    notes = []
    for r in results:
        if r.get("error"):
            failed += 1
            attempted += 1
            notes.append(r["error"])
        else:
            a, f, note = check_iteration(r["checks"], expected)
            attempted += a
            failed += f
            if note:
                notes.append(note)
    ok = [r["values"] for r in results if not r.get("error")]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if not trace:
        rate = [(points or v["dedup_rows"]) / (v["etl_s"] if points else v["dedup_s"]) for v in ok]
        values = {
            "setup_s": median([r["setup"]["setup_s"] for r in results]),
            "run_s": median([v["run_s"] for v in ok]),
            "etl_points_per_s": median(rate),
            "lake_query_s": median([v["lake_query_s"] for v in ok]),
            "peak_heap_mb": median([v["peak_heap_mb"] for v in ok]),
        }
    else:
        values = {}
        for m in spec["per_layer"]:
            n = m["name"]
            if n.startswith("session."):
                values[n] = median([r["setup"][n] for r in results])
            elif n == "host.cpu_probe_s":
                values[n] = median([r[n] for r in results])
            else:
                values[n] = median([v.get(n, 0.0) for v in ok])
    for n in notes[:5]:
        print(f"perfbench: mismatch: {n}", file=sys.stderr)
    # The host's speed, on every run: a recorded fact, not a metric.
    print(json.dumps({"host.cpu_probe_s": {"value": median([r["host.cpu_probe_s"] for r in results]), "unit": "s"}}))
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pins", default=PINS, help="pinned folds for the dedup/index ops")
    ap.add_argument("--capture-pins", action="store_true",
                    help="record the ops' folds into --pins after proving they equal the suite queries' folds")
    args = ap.parse_args(argv)

    spec = benchmark_spec()
    cp = classpath()
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(HERE, ".work"))
    try:
        inputs = os.path.join(work, "inputs")
        results = []
        if args.workload == "jhu_daily":
            shape = gen.JhuShape(args.seed, *JHU_SHAPE)
            shape.write(inputs)
            expected, points = shape.expected(), shape.points()
        else:
            gen.write_sf_tables(inputs, **SF_TABLES)
            points = None
            pins = load_pins(args.pins)
            expected = {op: pins.get(op) for op in SF_OPS}
            if None in expected.values() and not args.capture_pins:
                fail(f"no pinned fold for some op in {args.pins}")
        # One fresh JVM per iteration, as the nightly timer pays it, until
        # the run's time is used. A traced JVM times its tracer's own work
        # (trace.overhead_s), so a traced run needs no untraced twin.
        t0 = time.monotonic()
        deadline = t0 + RUN_LIMIT_S
        extra = (["--trace"] if args.trace else []) + (["--capture"] if args.capture_pins else [])
        while not results or time.monotonic() - t0 < args.seconds:
            results.append(jvm(cp, work, args.workload, inputs, extra, deadline))
        if args.capture_pins:
            expected = capture(args, results)
        line = summarise(results, expected, points, bool(args.trace), spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))


def capture(args, results):
    """Pins the ops' folds, only if every op reproduces its suite query."""
    r = results[-1]
    if r.get("error"):
        fail(f"capture: the run failed: {r['error']}")
    folds = r["checks"]
    for op, fold in folds.items():
        if r["suite"].get(op) != fold:
            fail(f"capture: {op} folds to {fold}, its suite query to {r['suite'].get(op)}")
    pins = load_pins(args.pins)
    pins.update(folds)
    with open(args.pins, "w") as f:
        json.dump(pins, f, indent=2, sort_keys=True)
        f.write("\n")
    print(f"perfbench: pinned {len(folds)} folds", file=sys.stderr)
    return folds


if __name__ == "__main__":
    main()

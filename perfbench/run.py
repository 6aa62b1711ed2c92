#!/usr/bin/env python3
"""graft's benchmark: one workload per invocation, from the repository root.

    python3 perfbench/run.py --workload analytics|etl \
        --seed N --seconds S --trace 0|1 [--record-expected]

It builds the engine and the harness from source (sbt, once per source
state), generates the query tables once, then starts one JVM that sets up a
`local[n]` session, runs one cold pass, one unmeasured warm-up pass and warm
passes for at least S seconds, sets up the session fourteen more times
(timing the last six), and writes its raw measurements. This script derives the
metrics, checks the outputs, prints every metric with its unit, and prints
one JSON object as the last line. `--trace 1` reports the per-layer metrics
instead of the end-to-end ones and writes the span tree under .bench_build/.
`--record-expected` stores the cold pass's row counts and digests as the
expectation for the workload's queries.

Exit status: 0 when every output is correct, 1 when an output is wrong or a
query or pipeline run failed, 2 when the benchmark could not run.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from bench import etlgen, metrics  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# Spark task slots: two, so that the tasks, the driver thread, the JIT and
# the GC together stay within the cores of a 4-core machine. The query passes
# are mostly driver work (task CPU is under half of their wall), so more
# slots buy little and leave more threads than cores.
CORES = max(1, min(2, (os.cpu_count() or 2) - 1))
SCALE = 0.1  # lineitem 600k rows
EXPECTED = os.path.join(HERE, "expected", f"sf{SCALE}.json")

# Workloads. The query workload runs a fixed set of registry queries (the
# seed only orders it). `min_passes` is the fewest warm passes a run makes;
# otherwise warm passes repeat for --seconds.
WORKLOADS = {
    # Execution-heavy: the cheapest execution-dominated query of each of
    # the ten relational, text, vector and training-data modules.
    "analytics": {"kind": "queries", "min_passes": 3, "queries": [
        "q02_filter_revenue", "q21_split_explode", "q27_window_sliding", "q84_asof_native",
        "q29_typed_agg_mask", "q69_source_mixing", "q30_dedup_exact", "q41_lang_id",
        "q60_knn_brute", "q52_media_features"]},
    "etl": {"kind": "etl", "min_passes": 4},
}

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

BUILD_TIMEOUT_S = 600
GEN_TIMEOUT_S = 120
RUN_TIMEOUT_S = 165


class BenchError(Exception):
    """The benchmark could not run (exit 2, no result line)."""


def run_logged(cmd, log_path, timeout, cwd=ROOT, env=None):
    """Runs cmd in its own process group with output to log_path; on timeout
    kills the whole group and waits for it. Returns the exit code."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"{cmd[0]} timed out after {timeout}s; see {log_path}")
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def source_stamp(paths):
    """Hash of every file under the given paths (relative name + content)."""
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Builds engine + harness with sbt unless the sources are unchanged;
    returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"engine source not found: {need} (run from the repository root)")
    stamp = source_stamp([os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
                          os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
                          os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src", "main")])
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    code = run_logged(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                       "export Runtime/fullClasspath"], log, BUILD_TIMEOUT_S, cwd=HERE, env=env)
    lines = [ln.strip() for ln in open(log) if ln.strip()]
    if code != 0 or not lines or os.pathsep not in lines[-1]:
        raise BenchError(f"build failed (exit {code}):\n{tail(log)}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def java(cp, args, heap, tag):
    """The JVM command; its scratch and warehouse directories start empty."""
    scratch = os.path.join(WORK, f"jvm-{tag}")
    shutil.rmtree(scratch, ignore_errors=True)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    return (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}", "-Dspark.ui.enabled=false"]
            + JAVA_OPENS + ["-cp", cp, "graftbench.Main"] + args + ["--cores", str(CORES)])


def ensure_data(cp):
    """Generates the query tables once per generator version."""
    gen = os.path.join(HERE, "src", "main", "scala", "graftbench", "DataGen.scala")
    data = os.path.join(WORK, "data", f"sf{SCALE}-{source_stamp([gen])[:12]}")
    if os.path.exists(os.path.join(data, "_COMPLETE")):
        return data
    shutil.rmtree(data, ignore_errors=True)
    log = os.path.join(WORK, "gen.log")
    code = run_logged(java(cp, ["gen", "--data", data, "--sf", str(SCALE)], "2g", "gen"), log, GEN_TIMEOUT_S)
    if code != 0:
        raise BenchError(f"data generation failed (exit {code}):\n{tail(log)}")
    return data


def load_expected():
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as f:
        return json.load(f)


def check_queries(res, expected):
    """(attempted, failed, problems) over every query execution."""
    attempted, failed, problems = 0, 0, []
    for p in res["passes"]:
        for q in p["items"]:
            attempted += 1
            exp = expected.get(q["name"])
            if q["error"]:
                bad = f"{q['name']} failed: {q['error']}"
            elif exp is None:
                bad = f"{q['name']}: no expectation recorded in {os.path.relpath(EXPECTED, ROOT)}"
            elif q["rows"] != exp["rows"]:
                bad = f"{q['name']}: {q['rows']} rows, expected {exp['rows']}"
            elif p["kind"] == "cold" and q["digest"] != exp["digest"]:
                bad = f"{q['name']}: row digest {q['digest']}, expected {exp['digest']}"
            else:
                continue
            failed += 1
            problems.append(bad)
    return attempted, failed, problems


def check_etl(res, animals):
    attempted, failed, problems = 0, 0, []
    for i, p in enumerate(res["passes"]):
        run = p["items"][0]
        attempted += len(animals)
        if run["error"]:
            failed += len(animals)
            problems.append(f"run {i} failed: {run['error']}")
            continue
        _, bad = etlgen.check_posted(animals, [json.loads(b) for b in run["posted"]])
        failed += len(bad)
        problems += [f"run {i}: id {k}: {v}" for k, v in list(bad.items())[:5]]
    return attempted, failed, problems


def posted_records(run):
    return sum(len(json.loads(b)) for b in run["posted"])


def end_to_end(res, kind):
    warm = [p for p in res["passes"] if p["kind"] == "warm"]
    cold = [p for p in res["passes"] if p["kind"] == "cold"][0]
    if kind == "queries":
        samples = [q["wall_s"] for p in warm for q in p["items"]]
    else:  # per logical HTTP request, backoff included
        samples = [(r["t1_us"] - r["t0_us"]) / 1e6
                   for p in warm for r in metrics.logical_requests(p["items"][0]["attempts"])]
    return {
        "setup_s": metrics.median(res["setup_s"]),
        "cold_s": cold["wall_s"],
        "wall_s": metrics.median([p["wall_s"] for p in warm]),
        "query_p50_s": metrics.percentile(samples, 50),
        "query_p90_s": metrics.percentile(samples, 90),
        "cpu_s": metrics.median([p["cpu_s"] for p in warm]),
        "heap_mb": metrics.median([p["heap_mb"] for p in warm]),
    }, len(samples)


def per_layer(res, kind, names):
    """Median over traced warm passes of each declared layer metric (a layer
    the workload does not use reads 0), the tracing overhead, and the span
    tree."""
    warm = [p for p in res["passes"] if p["kind"] == "warm"]
    traced = [p for p in warm if p["traced"]]
    rows, spans = [], []
    for p in traced:
        if kind == "queries":
            r, s = metrics.query_pass_layers(p, res["cores"])
        else:
            r, s = metrics.etl_pass_layers(p, posted_records(p["items"][0]))
        rows.append(r)
        spans.append(s)
    undeclared = {k for r in rows for k in r} - set(names)
    if undeclared:
        raise BenchError(f"layer metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    out = {name: metrics.median([r.get(name, 0) for r in rows]) for name in names}
    walls = lambda ps: metrics.median([p["wall_s"] for p in ps])  # noqa: E731
    out["trace.overhead_s"] = walls(traced) - walls([p for p in warm if not p["traced"]])
    return out, spans


def declared_units(kind):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def record_expected(res, workload):
    exp = load_expected()
    cold = [p for p in res["passes"] if p["kind"] == "cold"][0]
    errors = [q["name"] for q in cold["items"] if q["error"]]
    if errors:
        raise BenchError(f"not recording: {', '.join(errors)} failed")
    for q in cold["items"]:
        exp[q["name"]] = {"rows": q["rows"], "digest": q["digest"]}
    with open(EXPECTED, "w") as f:
        json.dump(dict(sorted(exp.items())), f, indent=1)
        f.write("\n")
    print(f"recorded {len(cold['items'])} expectations for {workload} in {EXPECTED}", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)

    cp = build()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(WORK, f"result-{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    # A traced run alternates traced and untraced warm passes; two of each
    # give the tracing overhead.
    min_passes = max(4, wl["min_passes"]) if args.trace else wl["min_passes"]
    jvm = ["run", "--workload", wl["kind"], "--seconds", str(args.seconds),
           "--min-passes", str(min_passes), "--trace", str(args.trace), "--out", out]
    if wl["kind"] == "queries":
        order = list(wl["queries"])
        random.Random(f"{args.workload}:{args.seed}").shuffle(order)
        jvm += ["--data", ensure_data(cp), "--cold-queries", ",".join(wl["queries"]),
                "--queries", ",".join(order)]
        heap = "3g"
    else:
        config = etlgen.service_config(args.seed)
        catalog = os.path.join(WORK, f"etl-catalog-seed{args.seed}.json")
        with open(catalog, "w") as f:
            json.dump(config, f)
        jvm += ["--catalog", catalog, "--as-of", etlgen.AS_OF]
        heap = "1g"
    log = os.path.join(WORK, f"jvm-{tag}.log")
    code = run_logged(java(cp, jvm, heap, tag), log, RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(out):
        raise BenchError(f"benchmark JVM failed (exit {code}):\n{tail(log)}")
    with open(out) as f:
        res = json.load(f)

    if wl["kind"] == "queries":
        if args.record_expected:
            record_expected(res, args.workload)
        attempted, failed, problems = check_queries(res, load_expected())
    else:
        attempted, failed, problems = check_etl(res, config["animals"])
    for p in problems[:20]:
        print(f"[check] {p}", file=sys.stderr)

    warm = sum(1 for p in res["passes"] if p["kind"] == "warm")
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"local[{res['cores']}] warm passes={warm}")
    units = declared_units("per_layer" if args.trace else "end_to_end")
    if args.trace:
        values, spans = per_layer(res, wl["kind"], units)
        trace_file = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump(spans, f)
        print(f"  span tree: {os.path.relpath(trace_file, ROOT)}")
    else:
        values, n = end_to_end(res, wl["kind"])
        sample = "warm query executions" if wl["kind"] == "queries" else "warm logical HTTP requests"
        print(f"  percentiles over n={n} {sample}; the highest with >=10 samples beyond is "
              f"p{metrics.highest_percentile(n)}")
    if set(units) != set(values):
        raise BenchError(f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(values))}")
    for name, v in values.items():
        print(f"  {name:34s} {v:14.6f} {units[name]}")
    print(f"  {'failed_frac':34s} {failed / attempted:14.6f} ratio ({failed}/{attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    # A SIGTERM unwinds like an exception, so that run_logged stops the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)

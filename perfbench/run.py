#!/usr/bin/env python3
"""The repository benchmark.

Usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
                                --trace <0|1>

Workloads (see BENCHMARK.json):
  etl_appointments  EtlMain.run on seeded synthetic appointment inputs
  ops_mix           registry queries on the bundled sf0.01 tables: read-side
                    analytics and write-path gates (ANN lifecycle, DocStore,
                    streaming)

The program is built from source on first use (sbt, offline) into
``.bench_build`` at the checkout root; later runs reuse that build while the
sources are unchanged. Each invocation works in its own directory (JVM temp
dir, Spark local dir, warehouse, outputs) and deletes it on exit.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
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
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen_etl  # noqa: E402

ETL_ROWS = 25_000
# Registry queries of the ops workload: read-side analytics (the two
# graft.Bench drift canaries) and write-path gates (the ANN index lifecycle
# through the DocStore catalog, a streaming aggregation). The seed shuffles
# their order.
OPS = {
    "ops_mix": [
        "q21_pricing_summary", "q123_metadata_only_agg",
        "q227_ann_catalog_discovery", "q48_stream_tumbling"],
}
WORKLOADS = ["etl_appointments"] + list(OPS)
DEADLINE_S = 170  # one invocation, build excluded
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_stamp():
    h = hashlib.sha256(ROOT.encode())
    tops = ["build.sbt", os.path.join("project", "build.properties"),
            os.path.join("perfbench", "build.sbt"),
            os.path.join("perfbench", "project", "build.properties")]
    trees = [os.path.join("src", "main"), os.path.join("perfbench", "src")]
    files = [t for t in tops if os.path.isfile(os.path.join(ROOT, t))]
    for t in trees:
        for d, _, names in os.walk(os.path.join(ROOT, t)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build the program and the benchmark's Scala code if the sources
    changed; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else [])))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.forcestart=false",
                          "export perfbench/Runtime/fullClasspath"],
                         timeout=840, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT)
    with open(log) as f:
        lines = f.read().splitlines()
    if code != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {code}); see {log}", 1)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(cp, work, args, seconds):
    result = os.path.join(work, "result.json")
    cmd = (["java"] + [x for p in JVM_OPENS
                       for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
            "perfbench.Main", "--work", work, "--result", result,
            "--seconds", str(seconds)] + args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        code = run_group(cmd, timeout=DEADLINE_S, cwd=work, stdout=out,
                         stderr=subprocess.STDOUT)
    if code != 0 or not os.path.exists(result):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {code}", 1)
    with open(result) as f:
        return json.load(f)


def etl(cp, work, seed, seconds, trace):
    tally = gen_etl.generate(os.path.join(work, "in"), ETL_ROWS, seed)
    r = run_jvm(cp, work, ["--workload", "etl_appointments",
                           "--trace", str(trace)], seconds)
    # every unit's console summary is checked; the output files are the
    # last unit's, so wrong files fail that unit
    wrong = [check.check_console(c, tally) for c in r["consoles"]]
    files = check.check_etl(os.path.join(work, "out"), tally)
    wrong[-1] = wrong[-1] + files
    problems = [p for w in wrong for p in w]
    wall = median(r["units_s"])
    e2e = {"setup_s": r["setup_s"], "wall_s": wall,
           "query_p50_s": median(r["actions_s"]),
           "peak_storage_mb": median(r["peaks_mb"])}
    extra = {"etl_rows_per_s": (ETL_ROWS / wall, "rows/s")}
    return r, len(wrong), sum(1 for w in wrong if w), problems, e2e, extra


def ops(cp, work, workload, seed, seconds, trace):
    queries = list(OPS[workload])
    random.Random(seed).shuffle(queries)
    r = run_jvm(cp, work, ["--workload", workload, "--trace", str(trace),
                           "--data", DATA, "--queries", ",".join(queries)],
                seconds)
    out = os.path.join(work, "out")
    wrong = dict(r["warm_errors"])
    wrong.update(check.check_ops(ROOT, DATA, out, queries))
    mixes = len(r["units_s"])
    attempted = mixes * len(queries)
    failed = sum(mixes if q in wrong else r["failed"].get(q, 0)
                 for q in queries)
    problems = [f"{q}: {why}" for q, why in wrong.items()] + r["errors"]
    # each query at its fastest of the measured mixes; the mix is their sum
    best = [min(r["queries_s"][q]) for q in queries if r["queries_s"].get(q)]
    e2e = {"setup_s": r["setup_s"], "wall_s": sum(best),
           "query_p50_s": median(best) if best else float("nan"),
           "peak_storage_mb": median(r["peaks_mb"])}
    return r, attempted, failed, problems, e2e, {}


ETL_LAYERS = ("readers.", "pipeline.", "reports.", "writers.", "etlmain.",
              "cache.")
OPS_LAYERS = ("ops.", "phases.", "lake.", "streams.")


def layer_values(spec, workload, layers):
    """Every per-layer metric of the spec: as measured, or 0 for a layer the
    workload does not run. A metric missing for a layer the workload does
    run is a benchmark error."""
    foreign = OPS_LAYERS if workload == "etl_appointments" else ETL_LAYERS
    vals = {}
    for m in spec["per_layer"]:
        name = m["name"]
        if name in layers:
            v = layers[name]
        elif name.startswith(foreign):
            v = 0.0
        else:
            fail(f"per-layer metric {name} was not measured on {workload}", 1)
        vals[name] = {"value": v, "unit": m["unit"]}
    return vals


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated benchmark still stops the JVM it started (run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources next to {HERE}; run from a full checkout")
    if not os.path.isdir(DATA):
        fail(f"missing bundled tables {DATA}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = classpath()
    work = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.workload == "etl_appointments":
            r, attempted, failed, problems, e2e, extra = etl(
                cp, work, a.seed, a.seconds, a.trace)
        else:
            r, attempted, failed, problems, e2e, extra = ops(
                cp, work, a.workload, a.seed, a.seconds, a.trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # raw timings of the last run of each workload, for people reading them
    with open(os.path.join(BUILD, f"last-{a.workload}.json"), "w") as f:
        json.dump({k: v for k, v in r.items() if k != "spans"}, f)
    for p in problems[:20]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    if a.trace:
        metrics = layer_values(spec, a.workload, r["layers"])
        with open(os.path.join(BUILD, f"trace-{a.workload}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "units_s": r["units_s"],
                       "traced_units_s": r["traced_units_s"],
                       "layers": r["layers"], "spans": r["spans"]}, f)
    else:
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in units}
    # every end-to-end figure of the workload, for people reading the log
    shown = {k: (v, units[k]) for k, v in e2e.items()}
    shown.update(extra)
    shown["failed_frac"] = (failed / max(attempted, 1), "ratio")
    print(f"perfbench {a.workload} seed={a.seed}: " + ", ".join(
        f"{k}={v:.6g} {u}" for k, (v, u) in shown.items()))
    print(json.dumps({"correct": failed == 0 and not problems,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

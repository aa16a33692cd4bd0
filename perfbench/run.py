#!/usr/bin/env python3
"""The repo benchmark: builds the engine from source, runs one workload
closed-loop from one client on local[4] in a fresh JVM, checks every
output, and prints the metrics.

    python3 perfbench/run.py --workload <image_etl|analytics_small|llm_heavy>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. Everything it builds or writes goes
under `.bench_build/` (or $CARGO_TARGET_DIR when set). The fixture tables
are read where the engine's smoke entry reads them, or from
$PERFBENCH_DATA. The second-to-last stdout line is the full record (every
metric with unit, sample counts, the op_tail_s percentile); the last line
is the compact summary `{"correct", "attempted", "failed", "metrics"}`:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
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

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import oracle  # noqa: E402

CORES = 4
IMAGES = 300          # image_etl corpus size
DEADLINE_S = 170      # a run never outlives this, build excluded

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "op_p50_s": "s",
              "op_tail_s": "s", "throughput_per_s": "1/s",
              "rss_peak_mb": "MB"}
# The end-to-end metrics on the last line, each bounded in BENCHMARK.json.
# op_tail_s stays in the full record only: with a few dozen operations a
# run, the highest percentile with ten samples beyond it is too low (or,
# for image_etl's handful of passes, absent) to bound.
SUMMARY_E2E = ["setup_s", "cold_s", "warm_s", "op_p50_s", "throughput_per_s",
               "rss_peak_mb"]

# Per-layer figures. All are in the full record; SUMMARY_LAYERS, the ones
# an optimisation is most likely to move, also go on the last line.
LAYERS = {
    "tables.scan_bytes": "B", "tables.scan_rows": "count",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plans.analysis_s": "s", "plans.optimization_s": "s",
    "plans.planning_s": "s", "plans.graft_rules_s": "s",
    "plans.aqe_updates": "count",
    "codegen.compile_s": "s", "codegen.classes": "count",
    "codegen.cold_compile_s": "s", "codegen.cold_classes": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.driver_gap_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.deser_s": "s", "exec.busy_ratio": "ratio",
    "exec.stage_skew": "ratio",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_bytes": "B",
    "materialize.blocks": "count", "materialize.block_bytes": "B",
    "functions.dot128_us": "us", "functions.minhash_bands_us": "us",
    "functions.shingles3_us": "us", "functions.simhash64_us": "us",
    "pipeline.decode_ms": "ms", "pipeline.resize_ms": "ms",
    "pipeline.flip_ms": "ms", "pipeline.rotate_ms": "ms",
    "pipeline.jitter_ms": "ms", "pipeline.jpeg_encode_ms": "ms",
    "pipeline.chain_ms": "ms", "pipeline.parallel_eff": "ratio",
    "source.read_s": "s", "sink.write_s": "s", "sink.bytes_written": "B",
    "self.pass_s": "s", "self.op_s": "s", "self.build_s": "s",
    "self.plan_s": "s", "self.execute_s": "s", "self.job_s": "s",
    "self.stage_s": "s", "trace.overhead_ratio": "ratio",
}
SUMMARY_LAYERS = [
    "tables.scan_bytes", "queries.build_s", "plans.analysis_s",
    "plans.optimization_s", "plans.planning_s", "codegen.cold_compile_s",
    "sched.tasks", "sched.driver_gap_s", "exec.run_s", "exec.cpu_s",
    "exec.deser_s", "exec.busy_ratio", "shuffle.write_bytes",
    "materialize.block_bytes", "functions.dot128_us", "pipeline.chain_ms",
    "pipeline.parallel_eff", "sink.write_s", "trace.overhead_ratio",
]

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


T0 = time.time()


def note(msg):
    print(f"perfbench: +{time.time() - T0:.1f} s {msg}", file=sys.stderr)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """The Spark jars the build compiles against: $SPARK_HOME/jars, else
    build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            for line in f:
                if line.strip().startswith("unmanagedBase"):
                    return line.split('file("', 1)[1].split('"', 1)[0]
    except (OSError, IndexError):
        pass
    fail("no Spark jars: set SPARK_HOME")


def build(root, out, jars):
    """Compile the engine (src/main/scala) and the benchmark's Scala
    sources with scalac; reuse the classes while the sources are
    unchanged."""
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    if not engine or not bench:
        fail("engine or benchmark sources not found; run from the repo root")
    h = hashlib.sha256()
    for p in engine + bench:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(out, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    for old in glob.glob(os.path.join(out, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(engine + bench) + "\n")
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp",
                        os.path.join(jars, "*"), "scala.tools.nsc.Main",
                        "-usejavacp", "-classpath", tmp, "-nowarn", "-d", tmp,
                        "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    open(os.path.join(tmp, ".ok"), "w").close()
    os.rename(tmp, classes)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def java(classes, jars, work, args, heap="4g"):
    """The JVM flags of scripts/run_main.sh and build.sbt, with temporary
    files kept in the work dir (-XX:-UsePerfData: no /tmp/hsperfdata)."""
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-cp", classes + os.pathsep + os.path.join(jars, "*")] + args)


def run_jvm(cmd, log, deadline):
    # Spark's scratch space stays in the work dir (spark.local.dir)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log, "a") as lf:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, text=True,
                             env=env)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM exceeded the run deadline; see {log}")
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"JVM exited with {p.returncode}; see {log}")
    return out


def prepare(classes, jars, out):
    """Once per build: find the fixture root and the expected DuckDB
    hashes of every oracled key of both query workloads, so no timed run
    pays for them (PageRank's oracle alone takes about 20 s). Returns
    the fixture root."""
    spec_file = os.path.join(classes, "oracle.json")
    if not os.path.exists(spec_file):
        work = os.path.join(out, "work", "prepare")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        data = os.environ.get("PERFBENCH_DATA")
        run_jvm(java(classes, jars, work, ["perfbench.Main", "oracle", "--work", work,
                                           "--out", spec_file + ".tmp"] +
                     (["--data", data] if data else [])),
                os.path.join(out, "prepare.log"), time.time() + 600)
        with open(spec_file + ".tmp") as f:
            spec = json.load(f)
        for w in spec.values():
            ora = oracle.Oracle(w["sf_dir"], os.path.join(out, "oracle"))
            for sql in w["oracle"].values():
                ora.expected(sql)
        shutil.rmtree(work, ignore_errors=True)
        os.replace(spec_file + ".tmp", spec_file)
    with open(spec_file) as f:
        spec = json.load(f)
    return os.environ.get("PERFBENCH_DATA") or \
        os.path.dirname(next(iter(spec.values()))["sf_dir"])


def num(v):
    """A metric value for JSON: NaN (no passing sample) becomes null."""
    return None if v != v else v


def tail(values):
    """(value, percentile, samples): the highest percentile with at least
    ten samples beyond it; the maximum when there are fewer than 11."""
    s = sorted(values)
    n = len(s)
    if n >= 11:
        return s[n - 11], 100.0 * (n - 10) / n, n
    return s[-1], 100.0, n


def check_ops(res, cache_dir):
    """Mark each op failed when it threw, disagrees with DuckDB on an
    oracled key, or (no oracle) differs from the first pass's rows."""
    if "oracle" not in res:
        return  # image_etl checks its outputs inside the JVM
    ora = oracle.Oracle(res["sf_dir"], cache_dir)
    first = {}
    for op in res["ops"]:
        if op["error"]:
            continue
        key = op["key"]
        got = {"cols": op["cols"], "hashes": op["hashes"], "rows": op["rows"]}
        if key in res["oracle"]:
            exp = ora.expected(res["oracle"][key])
        else:
            exp = first.setdefault(key, got)
        if got != exp:
            bad = [c for c, a, b in zip(got["cols"], got["hashes"], exp["hashes"])
                   if a != b]
            op["error"] = (f"output mismatch: rows {got['rows']} vs {exp['rows']},"
                           f" columns {bad or got['cols']}")


def per_key(res):
    """Median warm wall per operation key, untraced passes only."""
    plain = {p["pass"] for p in res["passes"] if p["kind"] == "warm" and not p["traced"]}
    keys = {}
    for o in res["ops"]:
        if o["pass"] in plain and not o["error"]:
            keys.setdefault(o["key"], []).append(o["wall_s"])
    return {k: statistics.median(v) for k, v in sorted(keys.items())}


def metrics(res, setup):
    passes = res["passes"]
    by_pass = {}
    for op in res["ops"]:
        by_pass.setdefault(op["pass"], []).append(op)
    ok = {p["pass"]: all(not o["error"] for o in by_pass.get(p["pass"], []))
          for p in passes}
    cold = [p["wall_s"] for p in passes if p["kind"] == "cold" and ok[p["pass"]]]
    warm = [p for p in passes if p["kind"] == "warm" and ok[p["pass"]]]
    plain = [p["wall_s"] for p in warm if not p["traced"]]
    traced = [p for p in warm if p["traced"]]
    plain_passes = {p["pass"] for p in warm if not p["traced"]}
    lat = [o["wall_s"] for o in res["ops"] if o["pass"] in plain_passes]
    units = res["images"] if res["workload"] == "image_etl" else \
        len(by_pass.get(0, []))
    warm_s = statistics.median(plain) if plain else float("nan")
    t_val, t_pct, t_n = tail(lat) if lat else (float("nan"), 0.0, 0)
    e2e = {
        "setup_s": setup,
        "cold_s": cold[0] if cold else float("nan"),
        "warm_s": warm_s,
        "op_p50_s": statistics.median(lat) if lat else float("nan"),
        "op_tail_s": t_val,
        "throughput_per_s": units / warm_s,
        "rss_peak_mb": res["rss_peak_mb"],
    }
    samples = {"setup_s": 1, "cold_s": len(cold), "warm_s": len(plain),
               "op_p50_s": len(lat), "op_tail_s": t_n}
    layers = {}
    if traced:
        for name in traced[0]["layers"]:
            layers[name] = statistics.median(p["layers"][name] for p in traced)
        layers.update({k: v for k, v in res["probes"].items()
                       if not k.startswith("probe.")})
        layers["trace.overhead_ratio"] = \
            statistics.median(p["wall_s"] for p in traced) / warm_s
        if res["workload"] == "image_etl":
            images, pass_s = res["images"], warm_s
        else:
            images, pass_s = 32, res["probes"]["probe.augment_pass_s"]
        layers["pipeline.parallel_eff"] = \
            layers["pipeline.chain_ms"] * images / 1e3 / (pass_s * CORES)
        samples["layers"] = len(traced)
    return e2e, layers, samples, t_pct


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["image_etl", "analytics_small", "llm_heavy"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    out = os.path.join(out, "perfbench")
    os.makedirs(out, exist_ok=True)
    jars = spark_jars(root)
    classes = build(root, out, jars)
    data = prepare(classes, jars, out)
    note("built")
    deadline = time.time() + DEADLINE_S

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(out, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(out, f"{tag}.log")
    open(log, "w").close()

    extra = []
    if a.workload == "image_etl":
        corpus = os.path.join(out, "corpus", f"seed{a.seed}-n{IMAGES}")
        if not os.path.isdir(corpus):
            os.makedirs(os.path.dirname(corpus), exist_ok=True)
            run_jvm(java(classes, jars, work, ["perfbench.Corpus", corpus,
                                               str(IMAGES), str(a.seed)],
                         heap="512m"), log, deadline)
        extra = ["--corpus", corpus]
        note("corpus ready")
    extra += ["--data", data]

    result = os.path.join(work, "result.json")
    spans = os.path.join(out, "traces", f"{tag}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    t0 = time.time_ns()
    run_jvm(java(classes, jars, work, [
        "perfbench.Main", "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--t0", str(t0),
        "--work", work, "--out", result, "--spans", spans] + extra),
        log, deadline)
    with open(result) as f:
        res = json.load(f)
    setup = (res["ready_ns"] - t0) / 1e9

    note("measuring JVM done")
    check_ops(res, os.path.join(out, "oracle"))
    e2e, layers, samples, t_pct = metrics(res, setup)
    attempted = len(res["ops"])
    errors = [f"{o['key']}@{o['pass']}: {o['error']}" for o in res["ops"] if o["error"]]
    failed = len(errors)

    full = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "cores": CORES, "attempted": attempted, "failed": failed,
            "fail_ratio": failed / attempted, "op_tail_pct": t_pct,
            "samples": samples,
            "metrics": {k: {"value": num(v), "unit": END_TO_END[k]} for k, v in e2e.items()},
            "layers": {k: {"value": num(v), "unit": LAYERS[k]}
                       for k, v in sorted(layers.items())},
            "cold_ops_s": {o["key"]: o["wall_s"] for o in res["ops"] if o["pass"] == 0},
            "warm_ops_p50_s": per_key(res),
            "errors": errors[:20], "trace_file": os.path.relpath(spans, root)}
    with open(os.path.join(out, f"{tag}.json"), "w") as f:
        json.dump(full, f, indent=1)
    with open(os.path.join(out, f"{tag}.raw.json"), "w") as f:
        json.dump(res, f)
    shutil.rmtree(work, ignore_errors=True)
    for e in errors[:10]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)

    if a.trace:
        shown = {k: {"value": num(layers[k]), "unit": LAYERS[k]} for k in SUMMARY_LAYERS}
    else:
        shown = {k: {"value": num(e2e[k]), "unit": END_TO_END[k]} for k in SUMMARY_E2E}
    print(json.dumps(full, separators=(",", ":")))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": shown}, separators=(",", ":")))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The repo benchmark: the FHIR bulk flow and a registry query mix.

Usage, from the root of a checkout of the program:

    python3 perfbench/run.py --workload fhir_bulk --seed 1 --seconds 8 --trace 0

Workloads: fhir_bulk, fhir_many_files, registry_mix (see perfbench/README.md).
The first run builds the program and the harness with sbt (offline) into
`target/` directories; later runs reuse the build while the sources hash the
same. Inputs are generated from the seed under `.perfbench/`, the JVM drives
the program in a closed loop from one client thread on `local[<cores>]`,
and the outputs are checked after it exits. `--trace 0` prints the
end-to-end metrics, `--trace 1` the per-layer ones; the last line of stdout
is always the JSON result.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

# Registry mix: the 14 refcore FHIR-transform queries, the 8 manifest queries
# and q_pagerank from the build-heavy group (README: why the other five are out).
MIX = [
    "q_filter_by_id", "q_field_update", "q_field_drop", "q_nested_set", "q_array_pos_set",
    "q_nested_filter", "q_array_extract", "q_array_last", "q_date_filter", "q_array_append",
    "q_lookup_enrich", "q_conditional_update", "q_anti_join", "q_count_kept",
    "q_split_extract", "q_manifest_agg", "q_manifest_explode", "q_incremental_since",
    "q_rename_manifest", "q_ndjson_ingest", "q_json_extract", "q_union_drift",
    "q_pagerank",
]
REGISTRY_SF = 0.01
SETUP_REPEATS = 3
WORKLOADS = ("fhir_bulk", "fhir_many_files", "registry_mix")

END_TO_END = {"setup_s": "s", "cold_s": "s", "op_s": "s", "items_per_s": "1/s"}
PER_LAYER = {
    "ingest.read_s": "s", "ingest.quarantine_s": "s", "ingest.files": "count",
    "ingest.lines": "count", "ingest.bytes": "bytes", "ingest.corrupt_lines": "count",
    "ingest.records_read_ratio": "ratio",
    "transform.write_s": "s", "transform.rows_out": "count", "transform.bytes_out": "bytes",
    "transform.files_out": "count", "transform.kept_ratio": "ratio",
    "pipeline.promote_s": "s", "pipeline.driver_s": "s",
    "manifest.build_s": "s", "manifest.entries": "count",
    "registry.build_s": "s", "registry.build_jobs": "count", "registry.exec_s": "s",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.busy_ratio": "ratio",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.peak_exec_mem_mb": "MB",
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def tree_hash(root, parts=("",)):
    """SHA-256 over the names and bytes of the files under root/part."""
    h = hashlib.sha256()
    for r in parts:
        p = os.path.join(root, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def source_hash(checkout):
    return tree_hash(checkout, ("build.sbt", "project/build.properties", "src/main",
                                "perfbench/build.sbt", "perfbench/project/build.properties",
                                "perfbench/src"))


def build(checkout, work):
    """Compile program + harness with sbt unless the sources are unchanged."""
    stamp = os.path.join(work, "build.json")
    digest = source_hash(checkout)
    if os.path.exists(stamp):
        with open(stamp) as f:
            prev = json.load(f)
        if prev["hash"] == digest:
            return prev["classpath"]
    log("building the program and the harness with sbt (first run in this checkout)")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    p = subprocess.run(cmd + ["compile", "export Runtime/fullClasspath"],
                       cwd=os.path.join(checkout, "perfbench"), env=env,
                       capture_output=True, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        raise SystemExit("perfbench: sbt build failed")
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def make_inputs(workload, root, seed):
    if workload == "registry_mix":
        gen.star_corpus(root, seed, REGISTRY_SF)
        return None
    return gen.fhir_landing(root, workload, seed)


def run_jvm(classpath, work, workload, inputs, seed, seconds, traced, cores):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", workload, "--input", inputs, "--out", out,
            "--seconds", str(seconds), "--seed", str(seed), "--trace", "1" if traced else "0"])
    if workload == "registry_mix":
        cmd += ["--mix", ",".join(MIX), "--verify", os.path.join(work, "verify")]
    launched = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                           cwd=work, timeout=170)
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: the benchmark JVM exited {p.returncode}")
    with open(out) as f:
        res = json.load(f)
    res["launched_ms"] = launched * 1000
    res["jvm_exit"] = time.perf_counter()
    return res


def end_to_end(res, workload, expect, setup_s):
    """setup_s; cold_s, the first flow or pass; op_s, the median warm flow or
    pass; items_per_s, landed lines or queries per warm second."""
    ops = res["ops"]
    m = {"setup_s": setup_s, "cold_s": res["cold_s"], "op_s": statistics.median(ops)}
    if workload == "registry_mix":
        m["items_per_s"] = len(res["queries"]) / sum(ops)
    else:
        lines = sum(r["lines"] for r in expect["resources"].values())
        m["items_per_s"] = lines * len(ops) / sum(ops)
    return m


def report(workload, res, m, setup_s, gen_s, jvm_s, n_attempted, n_failed):
    """The human-readable report, by the names the workload's users know."""
    ops = res["ops"]
    print(f"== perfbench {workload}: {len(ops)} timed operations in {res['window_s']:.2f} s "
          f"on local[{res['cores']}], closed loop, one client")
    print(f"setup_s        {setup_s:.4f} s   (input generation {gen_s:.4f} s, median of "
          f"{SETUP_REPEATS}; JVM start to session {jvm_s:.4f} s)")
    if workload == "registry_mix":
        queries = res["queries"]
        p50, p90 = layers.percentiles(queries)
        print(f"cold_pass_s    {res['cold_s']:.4f} s   (first pass over {len(MIX)} queries)")
        print(f"pass_s         {m['op_s']:.4f} s   (median of n={len(ops)} warm passes)")
        print(f"query_s.p50    {p50:.4f} s   (n={len(queries)})")
        print(f"query_s.p90    " + (f"{p90:.4f} s" if p90 is not None else
                                    f"n/a: {len(queries)} samples, p90 needs 100"))
        print(f"queries_per_s  {m['items_per_s']:.4f} 1/s")
        slow = sorted(res["cold_by_query"].items(), key=lambda kv: -kv[1])[:3]
        print("cold pass, slowest: " + ", ".join(f"{q} {t:.2f} s" for q, t in slow))
    else:
        p50 = m["op_s"]
        print(f"first_flow_s   {res['cold_s']:.4f} s")
        print(f"flow_s         {p50:.4f} s   (median of n={len(ops)} warm flows)")
        print(f"records_per_s  {m['items_per_s']:.2f} 1/s   (landed NDJSON lines / warm flow s)")
    print(f"error_rate     {n_failed / n_attempted:.4f}   ({n_failed} of {n_attempted} failed)")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    checkout = os.getcwd()
    if not (os.path.isfile(os.path.join(checkout, "build.sbt"))
            and os.path.isdir(os.path.join(checkout, "src", "main", "scala"))):
        log("no program here: run from the root of a checkout (build.sbt, src/main/scala)")
        return 2
    base = os.path.join(checkout, ".perfbench")
    os.makedirs(base, exist_ok=True)
    classpath = build(checkout, base)

    work = os.path.join(base, "run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = os.path.join(work, "input")
    gen_times = []
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(inputs, ignore_errors=True)
        t0 = time.perf_counter()
        expect = make_inputs(args.workload, inputs, args.seed)
        gen_times.append(time.perf_counter() - t0)
    gen_s = statistics.median(gen_times)

    cores = len(os.sched_getaffinity(0))
    t_jvm = time.perf_counter()
    res = run_jvm(classpath, work, args.workload, inputs, args.seed, args.seconds,
                  args.trace == 1, cores)
    jvm_s = (res["session_ready_ms"] - res["launched_ms"]) / 1000
    setup_s = gen_s + jvm_s

    # Output checks, outside the timed window.
    n_attempted = res["attempted"]
    n_failed = res["failed"]
    if args.workload == "registry_mix":
        problems, bad = checks.registry(checkout, inputs, os.path.join(work, "verify"), MIX)
        names = res["names"]
        n_failed += sum(q in bad for q in names)
    else:
        # Same program, same inputs: the promoted output must not change.
        landed = tree_hash(inputs, ("landing", "rxnorm.tsv"))
        key = hashlib.sha256((source_hash(checkout) + landed).encode()).hexdigest()
        problems, failed, facts = checks.fhir(
            inputs, expect, res, os.path.join(base, "digests", key[:24]))
        n_failed += failed
        res.update(facts)
    for p in problems:
        print(f"CHECK FAILED: {p}")
    with open(os.path.join(work, "jvm.log"), errors="replace") as f:
        noise = sum("Assume no metadata directory" in line for line in f)
    if noise:
        print(f"log noise: {noise} FileStreamSink 'Assume no metadata directory' WARNs with "
              f"stack traces in {os.path.relpath(os.path.join(work, 'jvm.log'), checkout)}")
    log(f"input generation {sum(gen_times):.1f} s, JVM {res['jvm_exit'] - t_jvm:.1f} s, "
        f"checks {time.perf_counter() - res['jvm_exit']:.1f} s")

    m = end_to_end(res, args.workload, expect, setup_s)
    report(args.workload, res, m, setup_s, gen_s, jvm_s, n_attempted, n_failed)
    last = os.path.join(base, "last-untraced", f"{args.workload}.json")
    if args.trace:
        metrics, spans = layers.layer_metrics(res, args.workload, expect)
        out = os.path.join(base, "spans", f"{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump(spans, f)
        for k in PER_LAYER:
            print(f"{k:28s} {metrics[k]:.6g} {PER_LAYER[k]}")
        print(f"spans with self time: {os.path.relpath(out, checkout)}")
        if os.path.exists(last):
            with open(last) as f:
                base_m = json.load(f)
            for k in ("op_s", "items_per_s"):
                print(f"tracing overhead {k}: {m[k] / base_m[k] - 1:+.2%} "
                      f"(traced {m[k]:.4g} vs untraced {base_m[k]:.4g}, seed {base_m['seed']})")
        units = PER_LAYER
    else:
        metrics = m
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump(dict(m, seed=args.seed), f)
        units = END_TO_END
    print(json.dumps({
        "correct": n_failed == 0 and not problems,
        "attempted": n_attempted, "failed": n_failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

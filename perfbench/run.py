#!/usr/bin/env python3
"""The repository's benchmark: one command per (workload, seed).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline); later runs reuse the build
until a source file changes. Each run generates its inputs from the
seed, runs one JVM at local[k] (k = min(nproc, the configured cores)),
checks the outputs, and prints one JSON line as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Per-operation detail (and, when tracing, the spans) goes to
.bench_build/out/, never to stdout.

Workloads, metrics and the frozen parameters are in perfbench/config.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 880
SETUP_REPS = 3


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, cwd, log, timeout, env=None):
    """Run `cmd` in its own process group and wait for it; on timeout or
    when this process is signalled, the whole group (the JVM and any pipe
    children, or sbt) is killed and reaped."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)

    def stop_group():
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(p.pid, sig)
            except ProcessLookupError:
                break
            try:
                p.wait(timeout=5)
                break
            except subprocess.TimeoutExpired:
                pass
        p.wait()

    def on_signal(signum, _frame):
        stop_group()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_group()
        fail(f"{cmd[0]} exceeded {timeout} s")


def config():
    with open(os.path.join(HERE, "config.json")) as f:
        return json.load(f)


def fingerprint():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    fp = fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["fingerprint"] == fp and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt must be on PATH to build the benchmark")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], HERE, out, BUILD_TIMEOUT_S, env)
    with open(log) as f:
        lines = f.read().splitlines()
    if code != 0:
        fail(f"build failed (see {log})")
    cp_line = next((l for l in reversed(lines) if ":" in l and l.strip().endswith(".jar")
                    and not l.startswith("[")), None)
    if cp_line is None:
        fail(f"no classpath in build output (see {log})")
    classpath = cp_line.strip().split(os.pathsep)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    return classpath


def generate(workload, cfg, data, seed, cores):
    """Write the workload's inputs; return the median of SETUP_REPS timed
    generations (the repeatable part of set-up)."""
    times = []
    for _ in range(SETUP_REPS):
        shutil.rmtree(data, ignore_errors=True)
        t = time.perf_counter()
        if workload.startswith("suite"):
            gen.suite_tables(data, seed, cfg["suite"]["sf"])
        elif workload == "pipe":
            gen.pipe_table(os.path.join(data, "pipe"), seed, cfg["pipe"]["rows"], cores)
        else:
            c = cfg["ingest"]
            files = c["drain_files"] + c["open_files"]
            gen.ingest_files(data, seed, c["base_docs"], files, c["docs_per_file"])
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def tail(values):
    """(value, percentile): the highest percentile with at least 10 samples
    beyond it, but never below p75."""
    s = sorted(values)
    n = len(s)
    i = max(n - 11, math.ceil(0.75 * n) - 1, 0)
    return s[i], 100.0 * (i + 1) / n


def median_by(samples, key, value):
    groups = {}
    for s in samples:
        groups.setdefault(s[key], []).append(s[value])
    return {k: statistics.median(v) for k, v in groups.items()}


def suite_metrics(raw, queries, trace, cores, check_failed):
    failed = dict(raw["failed"])
    failed.update(check_failed)
    passes = raw["passes"]
    ok = [s for s in raw["samples"] if s["query"] not in failed]
    attempted = len(queries) * (passes + 1)
    n_failed = len([q for q in queries if q in failed]) * (passes + 1)
    untraced = [s for s in ok if not s["traced"]]
    traced = [s for s in ok if s["traced"]]
    detail = {"failed": failed, "passes": passes,
              "per_query_median_s": median_by(untraced or ok, "query", "wall_s")}
    e2e, layers = {}, {}
    if untraced:
        walls = [s["wall_s"] for s in untraced]
        tv, tp = tail(walls)
        e2e = {"wall_s": sum(detail["per_query_median_s"].values()),
               "op_p50_ms": 1e3 * statistics.median(walls), "op_tail_ms": 1e3 * tv}
        detail["tail_percentile"] = tp
        detail["tail_n"] = len(walls)
    if trace and traced:
        tpasses = len({s["pass"] for s in traced})
        wall_q = median_by(traced, "query", "wall_s")
        layers["queries.build_s"] = sum(median_by(traced, "query", "build_s").values())
        layers["sql.plan_s"] = sum(median_by(traced, "query", "plan_s").values())
        layers["sql.plan_nodes"] = sum(median_by(traced, "query", "plan_nodes").values())
        sched = raw.get("sched", {})
        for q in wall_q:
            for k, v in sched.get(q, {}).items():
                if k == "operators.task_skew":
                    layers[k] = max(layers.get(k, 0.0), v)
                else:
                    layers[k] = layers.get(k, 0.0) + v / tpasses
        layers["spark.driver_gap_s"] = sum(
            wall_q[q] - sched.get(q, {}).get("operators.task_s", 0.0) / tpasses / cores
            for q in wall_q)
        detail["per_query_traced"] = {
            q: {"wall_s": wall_q[q], **{k: (v if k == "operators.task_skew" else v / tpasses)
                                       for k, v in sched.get(q, {}).items()}}
            for q in wall_q}
        if untraced:
            layers["trace.overhead_frac"] = sum(wall_q.values()) / e2e["wall_s"] - 1
    return e2e, layers, attempted, n_failed, detail


def pipe_metrics(raw, trace, cores):
    failed = raw["failed"]
    passes = raw["passes"]
    samples = raw["samples"]
    untraced = [s for s in samples if not s["traced"]]
    traced = [s for s in samples if s["traced"]]
    n_cases = len({s["case"] for s in samples} | set(failed))
    attempted = n_cases * (passes + 1)
    n_failed = len(failed) * (passes + 1)
    e2e, layers, detail = {}, {}, {"failed": failed, "passes": passes}

    def per_case(ss):
        return median_by(ss, "case", "wall_s")

    if untraced:
        med = per_case(untraced)
        # the JVM-child fanout tasks, one population: a fresh JVM child's
        # start dominates them, as it does for the R and Python clients
        lat = [t["latency_s"] for t in raw["tasks"]
               if t["case"] == "fanout.jvm" and not t["traced"] and t["latency_s"] >= 0]
        tv, tp = tail(lat)
        e2e = {"wall_s": sum(v for k, v in med.items() if k != "floor"),
               "op_p50_ms": 1e3 * statistics.median(lat), "op_tail_ms": 1e3 * tv}
        detail.update(per_case_median_s=med, tail_percentile=tp, tail_n=len(lat), tasks=raw["tasks"])
    if trace and traced and untraced:
        med = per_case(untraced)
        rows = raw["rows"]
        L = raw["layers"]
        for fmt in ("tsv", "arrow", "rdf"):
            w = med.get(f"bulk.{fmt}")
            if w is None:
                continue
            layers[f"pipe.{fmt}_rows_per_s"] = rows / w
            codec = (L.get(f"protocol.{fmt}.encode_ns_per_row", 0.0)
                     + L.get(f"protocol.{fmt}.decode_ns_per_row", 0.0)) * rows / cores / 1e9
            layers[f"plans.{fmt}.child_wait_s"] = w - codec - med["floor"]
        layers["pipe.fanout_s"] = sum(v for k, v in med.items() if k.startswith("fanout"))
        layers["plans.floor_rows_per_s"] = rows / med["floor"]
        tmed = per_case(traced)
        layers["trace.overhead_frac"] = (sum(v for k, v in tmed.items() if k != "floor")
                                         / e2e["wall_s"] - 1)
    return e2e, layers, attempted, n_failed, detail


def ingest_metrics(raw, trace):
    e2e, layers = {}, {}
    lat = [b["latency_s"] for b in raw["open_batches"]]
    failed = raw["failed"]
    detail = {"failed": failed, "open_batches": raw["open_batches"]}
    # one stream carries every batch, so a wrong batch leaves no time
    if lat and not failed:
        tv, tp = tail(lat)
        e2e = {"wall_s": raw["drain_wall_s"], "op_p50_ms": 1e3 * statistics.median(lat),
               "op_tail_ms": 1e3 * tv}
        detail.update(tail_percentile=tp, tail_n=len(lat))
        if trace:
            layers["ingest.drain_rows_per_s"] = raw["drain_rows"] / raw["drain_wall_s"]
            layers["ingest.latency_p50_s"] = statistics.median(lat)
            layers["ingest.latency_tail_s"] = tv
            layers["ingest.lag_end_s"] = raw["open_batches"][-1]["done_after_due_s"]
            u = raw.get("untraced_drain_wall_s", 0.0)
            if u > 0:
                layers["trace.overhead_frac"] = raw["drain_wall_s"] / u - 1
    return e2e, layers, raw["attempted"], len(failed), detail


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (suite at sf0.001), for the benchmark's own tests")
    ap.add_argument("--break-check", action="store_true",
                    help="corrupt one expected result, to prove the check catches it")
    args = ap.parse_args()
    t_start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources are missing: run from the root of a full checkout")
    cfg = config()
    if args.smoke:
        for part, over in cfg["smoke"].items():
            cfg[part].update(over)
    if args.workload not in cfg["workloads"]:
        fail(f"unknown workload {args.workload!r}; known: {', '.join(cfg['workloads'])}")
    if shutil.which("java") is None:
        fail("java must be on PATH")

    classpath = build()
    t_built = time.time()
    cores = min(os.cpu_count() or 1, cfg["cores"][args.workload])
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BUILD, "work", f"{run_id}-{os.getpid()}")
    out_dir = os.path.join(BUILD, "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        gen_s = generate(args.workload, cfg, data, args.seed, cores)
        queries = cfg["suite"]["lists"].get(args.workload, [])
        raw_file = os.path.join(work, "raw.json")
        # fixed heap limits, not the host's memory-size defaults; the heap
        # grows from the small initial size as the workload needs, so peak
        # RSS follows what it allocates
        jvm = ["java", "-Xms256m", "-Xmx2g", "-XX:+UseG1GC",
               f"-Djava.io.tmpdir={work}/tmp", "-Duser.timezone=UTC", *JVM_OPENS,
               "-cp", os.pathsep.join(classpath), "perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--cores", str(cores), "--data", data, "--work", work, "--out", raw_file,
               "--queries", ",".join(queries),
               "--rate", str(cfg["ingest"]["rate_files_per_s"]),
               "--drain-files", str(cfg["ingest"]["drain_files"]),
               "--open-files", str(cfg["ingest"]["open_files"]),
               "--break-check", "1" if args.break_check else "0"]
        t_jvm = time.time()
        with open(os.path.join(out_dir, f"{run_id}.log"), "w") as log:
            code = run_group(jvm, work, log, JVM_TIMEOUT_S)
        if code != 0 or not os.path.exists(raw_file):
            fail(f"benchmark JVM failed with code {code} (log in {out_dir}/{run_id}.log)")
        with open(raw_file) as f:
            raw = json.load(f)

        if args.workload.startswith("suite"):
            import oracle  # needs the repository's tools/ and duckdb
            if args.break_check:
                oracle.corrupt(os.path.join(work, "check"))
            check_failed = oracle.check(data, os.path.join(work, "check"))
            queries = sorted(oracle.queries(os.path.join(work, "check")))
            e2e, layers, attempted, n_failed, detail = suite_metrics(
                raw, queries, args.trace, cores, check_failed)
        elif args.workload == "pipe":
            e2e, layers, attempted, n_failed, detail = pipe_metrics(raw, args.trace, cores)
        else:
            e2e, layers, attempted, n_failed, detail = ingest_metrics(raw, args.trace)

        # set-up: input generation (the median of its repetitions) plus
        # JVM launch to the first timed operation; a build is not set-up
        gen_total = t_jvm - t_built
        setup_s = gen_s + raw["first_timed_epoch_s"] - t_jvm
        e2e = dict(e2e, setup_s=setup_s, peak_live_heap_mb=raw["peak_live_heap_mb"]) if e2e else {}
        invalid = list(raw["invalid"])
        bound = cfg["ingest"]["gen_late_bound_s"]
        if args.workload == "ingest-stream" and raw.get("gen_late_s", 0.0) > bound:
            invalid.append(f"streaming.gen_late_s {raw['gen_late_s']:.3f} > {bound}")
        layers.update(raw["layers"])
        layers["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
        layers["failed_frac"] = n_failed / max(1, attempted)
        detail.update(invalid=invalid, cores=cores, gen_median_s=gen_s, gen_total_s=gen_total,
                      e2e=e2e, layers=layers, attempted=attempted, failed_ops=n_failed)
        with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
        if args.trace and os.path.exists(raw_file[:-5] + "-spans.json"):
            shutil.copy(raw_file[:-5] + "-spans.json", os.path.join(out_dir, f"{run_id}-spans.json"))

        names = cfg["per_layer" if args.trace else "end_to_end"]
        metrics = {}
        if not invalid and e2e:
            source = layers if args.trace else e2e
            metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
                       for m in names}
        result = {"correct": n_failed == 0 and not invalid and bool(metrics),
                  "attempted": int(attempted), "failed": int(n_failed), "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

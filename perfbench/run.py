#!/usr/bin/env python3
"""perfbench: seeded end-to-end and per-layer benchmark of graft.

Run from the root of a checkout:

    python3 perfbench/run.py --workload history_api --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The first run builds graft and the benchmark harness with sbt (offline)
into the checkout; later runs reuse the build while the sources are
unchanged. Each run generates its inputs from the seed, starts one JVM
with one Spark session, sets the workload up, drives it as a closed loop
for --seconds, checks the answers in DuckDB, and prints a report whose
last line is one JSON object: every end-to-end metric with --trace 0,
every per-layer metric with --trace 1. All scratch files live in a
per-run dir under .bench_build/ that is deleted at exit.
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
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("history_api", "training_data")
TIME_LIMIT_S = 150  # for the JVM; the answer checks follow it

E2E_UNITS = {"op_p50_ms": "ms", "ops_per_s": "1/s", "setup_s": "s"}
# name -> unit; every name is printed on every workload (0 where the
# workload does not exercise that layer), see perfbench/README.md
LAYER_UNITS = {
    "open_ms_per_op": "ms", "plan_ms_per_op": "ms", "exec_ms_per_op": "ms",
    "driver_ms_per_op": "ms", "jobs_per_op": "count", "tasks_per_op": "count",
    "files_read_per_op": "count", "input_mb_per_op": "MB",
    "rows_scanned_per_row": "ratio", "tier_hit_ratio": "ratio",
    "busy_share": "ratio", "shuffle_mb_per_op": "MB", "spill_mb_per_op": "MB",
    "task_cpu_s_per_op": "s", "gc_ms_per_op": "ms", "heap_peak_mb": "MB",
    "triggers_per_op": "count", "trigger_p50_ms": "ms",
    "trigger_getbatch_ms": "ms", "trigger_planning_ms": "ms",
    "trigger_addbatch_ms": "ms", "trigger_walcommit_ms": "ms",
    "files_written_per_op": "count", "mb_written_per_op": "MB",
    "stores.stream_hll_distinct_s": "s", "stores.store_delete_knn_s": "s",
    "corpus.dedup_minhash_lsh_s": "s", "corpus.dedup_components_s": "s",
    "corpus.dedup_edit_distance_s": "s", "corpus.ann_ivf_topk_s": "s",
    "corpus.kmeans_fit_s": "s", "corpus.text_tfidf_s": "s",
    "setup.generate_s": "s", "setup.session_s": "s", "setup.store_build_s": "s",
    "setup.warm_s": "s", "setup.raw_write_s": "s", "setup.tier_build_s": "s",
    "setup.compact_s": "s", "trace_cost_ms_per_op": "ms",
    "scratch_mb_left": "MB",
}

# Per-layer metrics only one workload exercises; the other reports 0.
ONLY = {
    "history_api": {"files_read_per_op", "rows_scanned_per_row", "tier_hit_ratio",
                    "setup.raw_write_s", "setup.tier_build_s", "setup.compact_s"},
    "training_data": {"files_written_per_op", "mb_written_per_op"} |
                     {k for k in LAYER_UNITS if k.startswith(("stores.", "corpus."))},
}

# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt sets
# them for `sbt run`).
JAVA_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


class BenchError(Exception):
    pass


# ------------------------------------------------------------- statistics
def percentile(xs, p):
    """Nearest-rank percentile: (value, samples strictly beyond it)."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1], len(s) - k


def tail(xs):
    """The highest of p99/p95/p90/p75/p50 with at least ten samples
    beyond it, as (p, value, beyond); None when there are fewer than 20."""
    for p in (99, 95, 90, 75, 50):
        v, beyond = percentile(xs, p)
        if beyond >= 10:
            return p, v, beyond
    return None


# ------------------------------------------------------------------ build
def source_stamp():
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    for rel in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"):
        p = os.path.join(ROOT, rel)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout or interruption kill
    the whole group and wait for it, so nothing it started outlives the
    benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except BaseException as e:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        if isinstance(e, subprocess.TimeoutExpired):
            raise BenchError("%s timed out after %ds" % (cmd[0], timeout))
        raise
    return p.returncode, out, err


def build():
    """Compile graft and the harness; returns the runtime classpath."""
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError("not a graft checkout: %s is missing" % need)
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    code, out, err = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Djava.io.tmpdir=" + sbt_tmp,
         "compile", "export Runtime/fullClasspath"],
        timeout=800, cwd=os.path.join(HERE), env=env, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:] + err[-4000:])
        raise BenchError("build failed (sbt exit %d)" % code)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ---------------------------------------------------------------- window
def cpu_ticks():
    """(total, steal) ticks from /proc/stat, as graft.Bench reads them."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
        return sum(xs), xs[7] if len(xs) > 7 else 0
    except OSError:
        return 0, 0


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def tree_size(path):
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                size += os.path.getsize(os.path.join(d, f))
                files += 1
            except OSError:
                pass
    return files, size


# ------------------------------------------------------------------- run
def run(args):
    check_names()
    cp = build()
    t_start = time.monotonic()  # the time limit counts from here: a build may take longer
    run_dir = os.path.join(BUILD, "runs", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    inputs, expected = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "expected")
    tmp, work, out = (os.path.join(run_dir, d) for d in ("tmp", "work", "out"))
    try:
        for d in (tmp, work, out):
            os.makedirs(d)
        ticks0, load_before = cpu_ticks(), load1()
        gen_s = []
        digests = set()
        for _ in range(3):  # set up several times; the median is reported
            g0 = time.perf_counter()
            sizes = gen.generate(args.workload, args.seed, inputs, expected)
            gen_s.append(time.perf_counter() - g0)
            digests.add(check.digest(inputs))
        if len(digests) != 1:
            raise BenchError("the generator is not deterministic for seed %d" % args.seed)

        cmd = ["java"] + JAVA_OPENS + [
            "-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-cp", cp, "perfbench.Main",
            "workload=" + args.workload, "seconds=%d" % args.seconds,
            "trace=%d" % args.trace, "inputs=" + inputs, "work=" + work, "out=" + out]
        budget = TIME_LIMIT_S - (time.monotonic() - t_start)
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            code, _, _ = run_group(cmd, timeout=max(10, budget), stdout=log, stderr=log)
        if code != 0 or not os.path.exists(os.path.join(out, "result.json")):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise BenchError("benchmark JVM failed (exit %d)" % code)
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        ticks1, load_after = cpu_ticks(), load1()

        checks = check.run_checks(args.workload, inputs, expected, out, work)
        attempted = res["attempted"] + len(checks)
        failed = res["failed"] + sum(1 for c in checks if not c[1])
        left_files, left_bytes = tree_size(tmp)
        store = os.path.join(work, "store")
        if os.path.isdir(store):
            s_files, s_bytes = tree_size(store)
            s_dirs = sum(1 for _, ds, _ in os.walk(store) if not ds)
            rows = sizes["fleet_deltas.parquet"]["rows"] * len(gen.FLEET_PATHS)
            store_line = "store on disk: %d files in %d partition dirs, %.2f MB, %.1f bytes per raw row" % (
                s_files, s_dirs, s_bytes / 1048576.0, s_bytes / rows)
        report, metrics, e2e = summarize(
            args, res, sizes, gen_s, checks, failed / attempted,
            (ticks0, ticks1, load_before, load_after), (left_files, left_bytes))
        if os.path.isdir(store):
            report.insert(2, store_line)
        if args.trace:
            keep = os.path.join(BUILD, "traces")
            os.makedirs(keep, exist_ok=True)
            dst = os.path.join(keep, "%s-seed%d.jsonl" % (args.workload, args.seed))
            shutil.copyfile(os.path.join(out, "spans.jsonl"), dst)
            report.append("spans written to %s" % os.path.relpath(dst, ROOT))
        report += tracing_overhead(args, e2e)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in report:
        print(line)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def summarize(args, res, sizes, gen_s, checks, fail_ratio, window, left):
    lat = res["latency_ms"]
    setup = res["setup"]
    gen_med = statistics.median(gen_s)
    setup_s = gen_med + setup["session_s"] + setup["store_build_s"] + setup["warm_s"]
    e2e = {
        "op_p50_ms": statistics.median(lat) if lat else float("nan"),
        "ops_per_s": len(lat) / res["window_s"],
        "setup_s": setup_s,
    }
    layers = dict(res["layers"])
    for w, names in ONLY.items():
        if w != args.workload:
            layers.update({k: 0.0 for k in names})
    for k in ("generate_s", "session_s", "store_build_s", "warm_s", "raw_write_s",
              "tier_build_s", "compact_s"):
        if k in setup or k == "generate_s":
            layers["setup." + k] = gen_med if k == "generate_s" else setup[k]
    layers["scratch_mb_left"] = left[1] / 1048576.0
    t0, t1, lb, la = window
    steal = (t1[1] - t0[1]) / max(1, t1[0] - t0[0])

    r = ["perfbench %s seed=%d seconds=%d trace=%d cores=%d" % (
        args.workload, args.seed, args.seconds, args.trace, res["cores"])]
    r.append("inputs: " + ", ".join("%s %d rows %d bytes" % (k, v.get("rows", 0), v["bytes"])
                                    for k, v in sorted(sizes.items())))
    r.append("window: cpu steal share %.4f, load1 %.2f before / %.2f after" % (steal, lb, la))
    r.append("ops: %d attempted, %d failed; answer checks: %d, %d failed" % (
        res["attempted"], res["failed"], len(checks), sum(1 for c in checks if not c[1])))
    for name, ok, msg in checks:
        if not ok:
            r.append("  CHECK FAILED %s: %s" % (name, msg))
    for e in res.get("errors", []):
        r.append("  OP FAILED: %s" % e)
    label = {"history_api": "request", "training_data": "cycle"}[args.workload]
    r.append("%s latency: p50 %.2f ms (n=%d)" % (label, e2e["op_p50_ms"], len(lat)))
    t = tail(lat)
    r.append("  tail: " + ("p%d %.2f ms (n=%d, %d beyond)" % (t[0], t[1], len(lat), t[2]) if t else
                           "none reported (n=%d < 20: no percentile has 10 samples beyond)" % len(lat)))
    r.append("throughput: %.4f ops/s over %.2f s" % (e2e["ops_per_s"], res["window_s"]))
    if args.workload == "history_api":
        p95, beyond = percentile(lat, 95) if lat else (float("nan"), 0)
        r.append("named: history.p50_ms %.2f ms (n=%d); history.p95_ms %s; history.rps %.4f 1/s; "
                 "setup_s %.3f s; fail_ratio %.4f" % (
                     e2e["op_p50_ms"], len(lat),
                     "%.2f ms (n=%d, %d beyond)" % (p95, len(lat), beyond) if beyond >= 10 else
                     "not reported (n=%d: fewer than 10 samples beyond)" % len(lat),
                     e2e["ops_per_s"], setup_s, fail_ratio))
    else:
        docs = sizes["documents.parquet"]["rows"]
        n_trig = round(layers["triggers_per_op"] * len(lat))
        r.append("named: stores.cycle_p50_s %.3f s (n=%d); stores.trigger_p50_ms %.1f ms (n=%d triggers); "
                 "corpus.docs_per_s %.2f 1/s (%d documents / median cycle); setup_s %.3f s; fail_ratio %.4f" % (
                     e2e["op_p50_ms"] / 1000.0, len(lat), layers["trigger_p50_ms"], n_trig,
                     docs / (e2e["op_p50_ms"] / 1000.0), docs, setup_s, fail_ratio))
    r.append("setup: %.3f s = generate %.3f (median of 3) + session %.3f + store build %.3f + warm %.3f" % (
        setup_s, gen_med, setup["session_s"], setup["store_build_s"], setup["warm_s"]))
    r.append("scratch left behind by the calls: %d files, %.2f MB (deleted at exit)" % (
        left[0], left[1] / 1048576.0))
    missing = set(LAYER_UNITS) - set(layers)
    if missing:
        raise BenchError("per-layer metrics not measured: %s" % sorted(missing))
    if args.trace:
        r.append("per-layer metrics (traced run):")
        r += ["  %s = %.6g %s" % (k, layers[k], LAYER_UNITS[k]) for k in LAYER_UNITS]
        metrics = {k: {"value": layers[k], "unit": LAYER_UNITS[k]} for k in LAYER_UNITS}
    else:
        metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in E2E_UNITS}
    return r, metrics, e2e


def tracing_overhead(args, e2e):
    """An untraced run records its end-to-end figures; a traced run of the
    same workload, seed and length reports its difference from them."""
    path = os.path.join(BUILD, "untraced", "%s-seed%d-s%d.json" % (args.workload, args.seed, args.seconds))
    if not args.trace:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(e2e, f)
        return []
    if not os.path.exists(path):
        return ["tracing overhead: no untraced run of this workload and seed to compare with"]
    with open(path) as f:
        base = json.load(f)
    return ["tracing overhead (traced - untraced, same seed): " + ", ".join(
        "%s %+.2f%%" % (k, 100.0 * (e2e[k] - base[k]) / base[k]) for k in E2E_UNITS)]


# -------------------------------------------------------------- selftest
def check_names():
    """The metric names in BENCHMARK.json must be the names printed."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    wl = [w["name"] for w in spec["workloads"]]
    if e2e != E2E_UNITS or layers != LAYER_UNITS or tuple(wl) != WORKLOADS:
        raise BenchError("BENCHMARK.json and perfbench/run.py disagree on metric or workload names")


def selftest():
    # percentile rule: nearest rank, ten samples beyond the reported tail
    xs = list(range(1, 201))
    assert percentile(xs, 50) == (100, 100)
    assert percentile(xs, 95) == (190, 10)
    assert tail(xs) == (95, 190, 10)
    assert tail(list(range(1, 100))) == (75, 75, 24)
    assert tail(list(range(19))) is None
    assert percentile([7.0], 50) == (7.0, 0)
    check_names()
    # generator: same seed -> byte-identical inputs, other seed -> other
    scratch = os.path.join(BUILD, "selftest")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        for w in WORKLOADS:
            d = {}
            for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
                gen.generate(w, seed, os.path.join(scratch, w + tag), os.path.join(scratch, w + tag + "x"))
                d[tag] = check.digest(os.path.join(scratch, w + tag))
            assert d["a"] == d["b"], "%s: same seed gave different inputs" % w
            assert d["a"] != d["c"], "%s: different seeds gave the same inputs" % w
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print("selftest passed: percentile rule, metric names, generator determinism")


def main():
    # a terminated run still stops its JVM and deletes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    try:
        if args.selftest:
            selftest()
        elif args.workload is None:
            ap.error("--workload is required")
        else:
            run(args)
    except BenchError as e:
        sys.stderr.write("perfbench: %s\n" % e)
        sys.exit(2)


if __name__ == "__main__":
    main()

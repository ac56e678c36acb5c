#!/usr/bin/env python3
"""Lakehouse benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark from
source (perfbench/build.py), runs the workload in a fresh JVM whose
scratch, temp, Spark-local and warehouse directories all live under
.bench_build/, checks the outputs against the engine's DuckDB oracles, and
prints one JSON line: with --trace 0 the end-to-end metrics, with
--trace 1 the per-layer metrics of a traced run. Exits non-zero on any
wrong or failed operation. See perfbench/design.json for what each
workload and metric is for.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = list(gen.GENERATORS)
RUN_LIMIT_S = 170
GENERATE_REPS = 3
# layers whose spans carry Spark work, in the order the per-layer table lists them
SPARK_LAYERS = ["extract_load", "layers", "manifest", "mv", "scd2", "xml_shred", "dim_date",
                "marts", "dedup", "text", "similarity"]
SPARK_COUNTS = ["jobs", "tasks", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes", "input_rows"]
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def driver_heap():
    """The tier-1 SPARK_DRIVER_MEM rule: half the host memory in GiB, within [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kib // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def run_jvm(classes, args, inputs, root, deadline):
    cpus = len(os.sched_getaffinity(0))
    for d in ["tmp", "local", "derby"]:
        os.makedirs(os.path.join(root, d), exist_ok=True)
    jars = os.path.join(build.SPARK_JARS, "*")
    # -UsePerfData: no hsperfdata file under the system /tmp
    cmd = ["java", f"-Xmx{driver_heap()}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={root}/tmp", f"-Dderby.system.home={root}/derby",
            f"-Dderby.stream.error.file={root}/derby/derby.log",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{os.path.abspath(classes)}:{jars}", "perfbench.Main",
            "--workload", args.workload, "--inputs", inputs, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--root", root, "--cpus", str(cpus),
            "--launch-ms", str(int(time.time() * 1000))]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{root}/local", SPARK_GRAFT_CPUS=str(cpus))
    with open(os.path.join(root, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("the workload did not finish in time")
    if p.returncode != 0:
        with open(os.path.join(root, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError(f"JVM exited with {p.returncode}")
    with open(os.path.join(root, "jvm_result.json")) as f:
        return json.load(f)


def end_to_end(r):
    tail, pct, n = stats.tail(r["read_s"])
    return {
        "setup_s": (statistics.median(r["generate_s"]) + r["session_s"] + r["prepare_s"] + r["warmup_s"], "s"),
        "write_s_median": (statistics.median(r["write_s"]), "s"),
        "read_s_median": (statistics.median(r["read_s"]), "s"),
        "read_s_tail": (tail, "s"),
        "bytes_written_per_input_byte": (r["bytes_written"] / r["input_bytes"], "ratio"),
    }, {"read_s_tail": {"percentile": pct, "samples": n}}


def per_layer(r, curated):
    """The per-layer table of a traced run, from the spans of the timed
    window. Times are self times; Spark counts are those of jobs issued
    while the layer's span was the innermost open one."""
    spans = [s for s in r["spans"] if s["id"] != 0 and 0 <= s["start_s"] and s["end_s"] <= r["window_s"]]
    self_s = stats.self_times(spans)
    m = {}

    def of(layer, name=None):
        return [s for s in spans if s["layer"] == layer and (name is None or s["name"] == name)]

    def attr(ss, key):
        return sum(s["attrs"].get(key, 0.0) for s in ss)

    def busy(ss):
        return sum(self_s[s["id"]] for s in ss)

    for layer in ["dag", "extract_load", "layers", "manifest", "mv", "scd2", "xml_shred",
                  "dim_date", "marts", "dedup", "text", "glue"]:
        m[f"{layer}.busy_s"] = (busy(of(layer)), "s")
    dags = of("dag")
    idle = 0.0
    for d in dags:
        tasks = [(s["attrs"]["wave"], s["start_s"], s["end_s"]) for s in spans
                 if s["parent"] == d["id"] and "wave" in s["attrs"]]
        idle += stats.wave_idle(tasks)
    m["dag.idle_core_s"] = (idle, "core_s")
    m["dag.retries"] = (attr(dags, "retries"), "count")
    loaded = attr(of("extract_load"), "rows_loaded")
    scanned = sum((s["spark"] or {}).get("input_rows", 0) for s in of("extract_load"))
    m["extract_load.rows_loaded"] = (loaded, "rows")
    m["extract_load.rows_scanned_per_row_loaded"] = (scanned / loaded if loaded else 0.0, "ratio")
    m["layers.bytes_written"] = (attr(of("layers"), "bytes_written"), "bytes")
    m["layers.files_written"] = (attr(of("layers"), "files_written"), "count")
    m["manifest.commits"] = (attr(spans, "commits"), "count")
    m["manifest.files_read"] = (attr(spans, "files_read"), "count")
    m["scd2.rows_changed"] = (attr(of("scd2"), "rows_changed"), "rows")
    m["marts.planning_s"] = (attr(of("marts"), "planning_s"), "s")
    docs = sum(c["docs"] for c in curated)
    m["dedup.pairs_kept"] = (sum(c["pairs_kept"] for c in curated), "pairs")
    m["text.docs_kept_per_doc"] = (sum(c["docs_kept"] for c in curated) / docs if docs else 0.0, "ratio")
    setup_sim = [s for s in r["spans"] if s["layer"] == "similarity" and s["name"].startswith("build_")]
    m["similarity.index_build_s"] = (sum(s["end_s"] - s["start_s"] for s in setup_sim), "s")
    serve = of("similarity")
    m["similarity.serve_busy_s"] = (busy(serve), "s")
    queries = r["counters"].get("queries_served", 0)
    rows = sum((s["spark"] or {}).get("input_rows", 0) for s in serve)
    m["similarity.rows_scanned_per_query"] = (rows / queries if queries else 0.0, "rows")
    m["similarity.recall_at_10"] = (r["counters"].get("recall_at_10", 0.0), "ratio")
    m["derived.builds"] = (r["counters"].get("derived_builds", 0), "count")
    m["derived.bytes"] = (r["counters"].get("derived_bytes", 0), "bytes")
    # the served kNN read: a Derived memo hit, timed apart from read_s
    m["derived.hit_s"] = (statistics.median(r["serve_s"]) if r["serve_s"] else 0.0, "s")
    for layer in SPARK_LAYERS:
        for c in SPARK_COUNTS:
            m[f"{layer}.{c}"] = (sum((s["spark"] or {}).get(c, 0) for s in of(layer)),
                                 "s" if c.endswith("_s") else "count")
    m["jvm.peak_rss_mib"] = (r["peak_rss_kib"] / 1024.0, "MiB")
    m["jvm.gc_s"] = (r["gc_s"], "s")
    m["jvm.jit_s"] = (r["jit_s"], "s")
    m["host.steal_s"] = (r["steal_s"], "s")
    top = [s for s in spans if s["parent"] == 0]
    m["trace.window_s"] = (r["window_s"], "s")
    m["trace.top_level_share"] = (sum(s["end_s"] - s["start_s"] for s in top) / r["window_s"], "ratio")
    m["trace.write_s_median"] = (statistics.median(r["write_s"]), "s")
    m["trace.read_s_median"] = (statistics.median(r["read_s"]), "s")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()
    checkout = os.getcwd()
    classes = build.build(checkout)
    start = time.time()  # the run limit excludes a first run's build
    root = os.path.join(checkout, build.BUILD_DIR, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        # set-up, part 1: generate the inputs several times into fresh
        # directories; the median is the generation time
        generate_s = []
        for i in range(GENERATE_REPS):
            inputs = os.path.join(root, f"inputs-{i}")
            if i:
                shutil.rmtree(os.path.join(root, f"inputs-{i - 1}"))
            t0 = time.perf_counter()
            gen.GENERATORS[args.workload](inputs, args.seed)
            generate_s.append(time.perf_counter() - t0)
        digest = gen.digest(inputs)
        t_jvm = time.time()
        r = run_jvm(classes, args, inputs, root, start + RUN_LIMIT_S - 15)
        t_check = time.time()
        r["generate_s"] = generate_s
        check = r["check"]
        if check["kind"] == "medallion":
            wrong, curated = oracle.medallion(check), []
        else:
            wrong, curated = oracle.curation(check)
        t_end = time.time()
        # a wrong published table makes the write that published it wrong;
        # a wrong dashboard replay makes that read wrong
        failed = stats.failed_ops(r["attempted"], r["failed"], r["wrong"] + len(wrong))
        for e in r["errors"] + wrong:
            print(f"[perfbench] FAILED {e}", file=sys.stderr)
        if args.trace:
            metrics = per_layer(r, curated)
            notes = {}
        else:
            metrics, notes = end_to_end(r)
        print(f"[perfbench] {args.workload} seed={args.seed} input digest={digest}")
        print(f"[perfbench] cpus={r['cpus']} max_heap_bytes={r['max_heap_bytes']} "
              f"cycles={r['cycles']} writes={len(r['write_s'])} reads={len(r['read_s'])} "
              f"op_failure_ratio={stats.failure_ratio(r['attempted'], failed)}")
        print(f"[perfbench] steal_s={r['steal_s']:.2f} session_s={r['session_s']:.2f} generate_s="
              + ",".join(f"{x:.2f}" for x in r["generate_s"]) + f" prepare_s={r['prepare_s']:.2f}"
              f" warmup_s={r['warmup_s']:.2f}"
              f" window_s={r['window_s']:.2f} write_s=" + ",".join(f"{x:.2f}" for x in r["write_s"])
              + " serve_s=" + ",".join(f"{x:.2f}" for x in r["serve_s"])
              + f" jvm_wall_s={t_check - t_jvm:.2f} check_s={t_end - t_check:.2f}")
        for k, v in notes.items():
            print(f"[perfbench] {k}: " + " ".join(f"{a}={b}" for a, b in v.items()))
        for name, (value, unit) in metrics.items():
            print(f"[perfbench] {name} = {value} {unit}")
        print(json.dumps({"correct": not wrong and failed == 0, "attempted": r["attempted"],
                          "failed": failed,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        return 0 if failed == 0 and not wrong else 1
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (RuntimeError, FileNotFoundError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)

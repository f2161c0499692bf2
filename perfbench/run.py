#!/usr/bin/env python3
"""Benchmark entry point: build the engine from source, run one workload in
one fresh JVM, check its answers, print the metrics.

    python3 perfbench/run.py --workload view_serve --seed 1 --seconds 12 --trace 0

Run from the repository root. The last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`; the line before it carries
host-noise and sample-count diagnostics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

START = time.time()
ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent

def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first `spark-submit` on the PATH
    that belongs to a Spark install (a pip `pyspark` shim does not)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d) / "spark-submit"
        if submit.is_file():
            jars = Path(os.path.realpath(submit)).parent.parent / "jars"
            if jars.is_dir():
                return jars
    return Path("spark-jars-not-found")


SPARK_JARS = spark_jars()
BUILD_ROOT = ROOT / ".bench_build"
WORK_ROOT = ROOT / ".bench_work"
WORKLOADS = ("view_serve", "dedup_batch")
# Spark executors: a fixed local[K], capped by the CPUs this process may use.
K = min(2, len(os.sched_getaffinity(0)))
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# a fixed set of JIT compiler threads, so that their CPU time can be told
# apart from the program's for the whole run
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-XX:-UseDynamicNumberOfCompilerThreads",
             "-Dspark.ui.enabled=false"] + [
    a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """The engine's sources and the harness's, in a fixed order."""
    main = ROOT / "src" / "main"
    if not (main / "scala").is_dir():
        die(f"no engine sources under {main}; run from the repository root")
    if not SPARK_JARS.is_dir():
        die(f"Spark jars not found at {SPARK_JARS} (set SPARK_HOME or put spark-submit on the PATH)")
    engine = sorted(p for p in (main / "scala").rglob("*.scala"))
    resources = sorted(p for p in (main / "resources").rglob("*") if p.is_file()) \
        if (main / "resources").is_dir() else []
    harness = sorted((BENCH / "scala").rglob("*.scala"))
    return engine, resources, harness


def scalac(out, classpath, files, tmp):
    out.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main", "-nowarn",
           "-classpath", classpath, "-d", str(out)] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        die("compile failed:\n" + r.stdout[-4000:])


def build():
    """Compile engine and harness once per source tree; reuse afterwards."""
    engine, resources, harness = sources()
    h = hashlib.sha256()
    for p in engine + resources + harness:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = BUILD_ROOT / f"perfbench-{h.hexdigest()[:16]}"
    if out.is_dir():
        return out, False
    tmp = BUILD_ROOT / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "jtmp").mkdir(parents=True)
    try:
        classes = tmp / "classes"
        scalac(classes, f"{SPARK_JARS}/*", engine, tmp / "jtmp")
        for p in resources:
            dst = classes / p.relative_to(ROOT / "src" / "main" / "resources")
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(p, dst)
        scalac(tmp / "harness", f"{classes}:{SPARK_JARS}/*", harness, tmp / "jtmp")
        shutil.rmtree(tmp / "jtmp")
        try:
            tmp.rename(out)
        except OSError:
            if not out.is_dir():  # else a concurrent run built the same sources
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out, True


def run_jvm(build_dir, args, work, limit_s):
    """Run the harness in its own process group; kill the group on timeout."""
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    launch_ms = int(time.time() * 1000)
    cmd = ["java"] + JVM_FLAGS + [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        "-cp", f"{build_dir / 'harness'}:{build_dir / 'classes'}:{SPARK_JARS}/*",
        "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
        str(args.trace), str(K), str(work), str(result), str(launch_ms), str(BENCH / "data")]
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS"))}
    log = work / "jvm.log"
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                             cwd=work, start_new_session=True)
        try:
            rc = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"JVM exceeded {limit_s:.0f} s:\n" + log.read_text()[-3000:])
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or not result.is_file():
        die(f"JVM exited with {rc}:\n" + log.read_text()[-3000:])
    return json.loads(result.read_text())


# The engine's recall bound for MinHash-LSH over the exact n-gram Jaccard
# pairs (`MinhashRecallBound` in graft.operators.PipelineQueries).
MINHASH_RECALL = 0.9


def oracle_check(work):
    """The first full-corpus pair sets against DuckDB oracles:
    - n-gram Jaccard pairs equal `SparkEntry.oracleSql("dedup_ngram_jaccard")`;
    - every containment pair of `oracleSql("dedup_winnow")` is a winnowing
      pair at overlap 1.0 (what the registered `dedup_winnow` query relies on);
    - every MinHash-LSH pair is an oracle n-gram pair with the same Jaccard,
      and it finds at least MINHASH_RECALL of them. Both measure the Jaccard
      of distinct 3-token shingles; the n-gram query's document-frequency cap
      (1,000) is never reached on a 2,500-document draw (top df is about 20).
    SimHash has no independent oracle; it is checked against its first pass."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{work / 'duckdb'}'")
    docs = str(work / "corpus" / "documents.parquet" / "*.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    exact = con.execute((work / "dedup_ngram_jaccard.sql").read_text()).fetchall()
    contained = con.execute((work / "dedup_winnow.sql").read_text()).fetchall()
    con.close()

    def pairs(name):
        rows = [line.split(",") for line in (work / f"{name}_pairs.csv").read_text().split()]
        return [(int(i), int(j), float(v)) for i, j, v in rows]

    ngram = pairs("ngram_jaccard")
    ngram_ok = len(ngram) == len(exact) and all(
        g[0] == w[0] and g[1] == w[1] and abs(g[2] - float(w[2])) <= 1e-9
        for g, w in zip(ngram, exact))
    winnow = {(i, j): v for i, j, v in pairs("winnow")}
    winnow_ok = all(winnow.get((i, j)) == 1.0 for i, j, _ in contained)
    jaccard = {(i, j): float(v) for i, j, v in exact}
    minhash = pairs("minhash_lsh")
    minhash_ok = len(minhash) >= MINHASH_RECALL * len(jaccard) and all(
        (i, j) in jaccard and abs(v - jaccard[(i, j)]) <= 1e-9 for i, j, v in minhash)
    return {"ngram_jaccard": ngram_ok, "winnow": winnow_ok, "minhash_lsh": minhash_ok,
            "exact_pairs": len(exact), "containment_pairs": len(contained),
            "minhash_pairs": len(minhash)}


# The host speed every CPU time is scaled to: the speed at which the
# harness's reference kernel takes this many CPU ms (perfbench/README.md,
# "Reference kernel").
REFERENCE_KERNEL_MS = 10.0


def q(values, p):
    """Percentile by linear interpolation between closest ranks."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(r, ok_cpu):
    """Every per-layer metric, from the traced ops of a --trace 1 run and
    from its traced set-up steps (the view's refresh)."""
    tr = r["trace"]
    steps = r["setup_steps"]

    def mean(key, rows=tr):
        return sum(t.get(key, 0.0) for t in rows) / max(len(rows), 1)

    def call_median(name, rows=tr):
        return median([t[f"call:{name}"] for t in rows if f"call:{name}" in t])

    def kind_median(kind):
        return median([o["ms"] for o in r["ops"] if o["traced"] and o["ok"] and o["kind"] == kind])

    def ratio(a, b):
        return a / b if b else 0.0

    traced = [o["cpu_ms"] for o in r["ops"] if o["traced"] and o["ok"]]
    untraced = [o["cpu_ms"] for o in r["ops"] if not o["traced"] and o["ok"]]
    half = len(ok_cpu) // 2
    heap_growth = (r["heap_end_mb"] - r["heap_used_mb"]) / len(r["ops"]) * 1000
    m = {
        "engine.materialize_s": (r["materialize_s"], "s"),
        "engine.df_build_ms": (call_median("engine.df_build"), "ms"),
        "engine.get_ms": (kind_median("get"), "ms"),
        "engine.scan_ms": (kind_median("scan"), "ms"),
        "engine.count_ms": (kind_median("count"), "ms"),
        "engine.refresh_ms": (call_median("engine.refresh", steps), "ms"),
        "engine.readback_ms": (call_median("engine.readback", steps), "ms"),
        "engine.feed_ms": (call_median("engine.feed", steps), "ms"),
        "engine.refresh_jobs": (mean("jobs", steps), "count"),
        "store.bytes_written_per_change_byte": (
            ratio(mean("bytes_written", steps), mean("change_bytes", steps)), "1"),
        "store.files_written_per_refresh": (mean("files_written", steps), "count"),
        "store.disk_bytes_per_live_byte": (
            ratio(mean("disk_bytes", steps), mean("live_bytes", steps)), "1"),
        "operators.ngram_jaccard_ms": (call_median("operators.ngram_jaccard"), "ms"),
        "operators.minhash_lsh_ms": (call_median("operators.minhash_lsh"), "ms"),
        "operators.simhash_ms": (call_median("operators.simhash"), "ms"),
        "operators.winnow_ms": (call_median("operators.winnow"), "ms"),
        "operators.pairs_out": (mean("pairs_out"), "count"),
        "operators.pairs_per_shuffle_record": (ratio(mean("pairs_out"), mean("shuffle_records_written")), "1"),
        "catalyst.analysis_ms": (mean("analysis_ms"), "ms"),
        "catalyst.optimization_ms": (mean("optimization_ms"), "ms"),
        "catalyst.planning_ms": (mean("planning_ms"), "ms"),
        "codegen.compiles_per_op": (mean("codegen_compiles"), "count"),
        "codegen.compile_ms_per_op": (mean("codegen_ms"), "ms"),
        "scheduler.jobs_per_op": (mean("jobs"), "count"),
        "scheduler.stages_per_op": (mean("stages"), "count"),
        "scheduler.tasks_per_op": (mean("tasks"), "count"),
        "scheduler.driver_residue_ms": (mean("driver_residue_ms"), "ms"),
        "executor.task_run_ms_per_op": (mean("task_run_ms"), "ms"),
        "executor.task_cpu_ms_per_op": (mean("task_cpu_ms"), "ms"),
        "executor.busy_ratio": (mean("busy_ratio"), "1"),
        "shuffle.write_bytes_per_op": (mean("shuffle_write_bytes"), "B"),
        "shuffle.read_bytes_per_op": (mean("shuffle_read_bytes"), "B"),
        "shuffle.records_written_per_op": (mean("shuffle_records_written"), "count"),
        "shuffle.fetch_wait_ms_per_op": (mean("fetch_wait_ms"), "ms"),
        "parquet.files_read_per_op": (mean("files_read"), "count"),
        "parquet.bytes_read_per_op": (mean("input_bytes"), "B"),
        "parquet.records_read_per_op": (mean("input_records"), "count"),
        "parquet.rows_read_per_row_returned": (ratio(mean("input_records"), mean("rows_out")), "1"),
        "jvm.gc_ms_per_op": (mean("gc_ms"), "ms"),
        "jvm.heap_growth_mb_per_kop": (heap_growth, "MB/kop"),
        "host.steal_ratio": (r["steal_ratio"], "1"),
        "host.loadavg_1m": (r["loadavg_1m"], "1"),
        "host.kernel_ms": (median(r["kernel_ms"]), "ms"),
        "jvm.jit_cpu_ms_per_op": (r["timed_jit_s"] * 1000 / len(r["ops"]), "ms"),
        "bench.drift_ratio": (ratio(median(ok_cpu[half:]), median(ok_cpu[:half])), "1"),
        "trace.overhead_ratio": (ratio(median(traced), median(untraced)), "1"),
    }
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build_dir, built = build()
    # 180 s per run; the run that builds gets the first-run allowance
    limit = (900 if built else 175) - (time.time() - START)
    work = WORK_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        r = run_jvm(build_dir, args, work, limit)
        oracle = oracle_check(work) if args.workload == "dedup_batch" else {}
        if args.trace:
            traces = WORK_ROOT / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copyfile(work / "spans.json", traces / f"{args.workload}-seed{args.seed}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = r["ops"]
    oracle_ok = all(v for v in oracle.values() if isinstance(v, bool))
    # timed passes are checked against the first full pass; when an oracle
    # rejects that pass, every timed pass that matched it is wrong too
    for o in ops:
        o["ok"] = o["ok"] and oracle_ok
    failed = sum(1 for o in ops if not o["ok"])
    ok = [o for o in ops if o["ok"]] or ops
    cpu = [o["cpu_ms"] for o in ok]
    wall = [o["ms"] for o in ok]
    units = sum(o["work"] for o in ops if o["ok"])
    wall_e2e = {
        "wall.setup_s": ((r["first_op_epoch_ms"] - r["launch_epoch_ms"]) / 1000, "s"),
        "wall.op_p50_ms": (q(wall, 50), "ms"),
        "wall.op_p80_ms": (q(wall, 80), "ms"),
        "wall.work_per_s": (units / r["elapsed_s"], "1/s"),
    }
    # CPU times of this run at the reference host speed
    scale = REFERENCE_KERNEL_MS / median(r["kernel_ms"])
    e2e = {
        "setup_s": (r["setup_cpu_s"], "s"),
        "op_refcpu_p50_ms": (q(cpu, 50) * scale, "ms"),
        "op_refcpu_p80_ms": (q(cpu, 80) * scale, "ms"),
        "work_per_refcpu_s": (units / (r["timed_cpu_s"] * scale), "1/s"),
        "heap_used_mb": (r["heap_used_mb"], "MB"),
        "op_ok_ratio": (1 - failed / len(ops), "1"),
    }
    raw = {"op_cpu_p50_ms": (q(cpu, 50), "ms"), "op_cpu_p80_ms": (q(cpu, 80), "ms"),
           "work_per_cpu_s": (units / r["timed_cpu_s"], "1/s")}
    metrics = {**per_layer(r, cpu), **wall_e2e} if args.trace else e2e
    setup_ok = all(st.get("ok", 1.0) == 1.0 for st in r["setup_steps"])
    info = {
        "workload": args.workload, "seed": args.seed, "timed_ops": len(ops),
        "samples_above_p80": sum(1 for x in cpu if x > q(cpu, 80)),
        "op_fail_ratio": failed / len(ops), "warmup_ops": r["warmup_ops"],
        "session_s": (r["session_epoch_ms"] - r["launch_epoch_ms"]) / 1000,
        "warmup_s": r["warmup_s"], "materialize_s": r["materialize_s"],
        "setup_steps_s": [round(st["wall_ms"] / 1000, 2) for st in r["setup_steps"]],
        "timed_cpu_s": r["timed_cpu_s"], "timed_jit_s": r["timed_jit_s"],
        "steal_ratio": r["steal_ratio"], "loadavg_1m": r["loadavg_1m"],
        "nproc": r["nproc"], "spark_k": r["k"], "heap_flags": r["heap_flags"],
        "setup_ok": setup_ok, "oracle": oracle, "errors": r["errors"],
        "warmup_ms": [round(x, 1) for x in r["warmup_ms"]],
        "ops_ms": [round(o["ms"], 1) for o in ops],
        "ops_cpu_ms": [round(o["cpu_ms"], 1) for o in ops],
        "ops_steal": [round(o["steal"], 3) for o in ops],
        "kernel_ms": [round(x, 3) for x in r["kernel_ms"]],
        "end_to_end": {k: v for k, (v, _) in {**e2e, **raw, **wall_e2e}.items()},
    }
    print(json.dumps({"info": info}))
    correct = failed == 0 and r["warmup_failed"] == 0 and setup_ok and oracle_ok
    print(json.dumps({
        "correct": correct, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()

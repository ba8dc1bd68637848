#!/usr/bin/env python3
"""Benchmark entry point: build, generate seeded inputs, run one workload,
check its outputs, print metrics.

    python3 perfbench/run.py --workload query_tail --seed 1 --seconds 10 \
        --trace 0

Run it from the repository root. It compiles the program's sources and
the harness with the Scala compiler that ships in Spark's jars (into
.bench_build/, reused while the sources are unchanged), writes inputs
and working state under .bench_run/ (removed on exit, also on failure)
and spans of traced runs under .bench_out/. The last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}, where metrics are
the end-to-end ones of BENCHMARK.json with --trace 0 and the per-layer
ones with --trace 1. The lines before it give the regime and the
workload-specific figures that are not in BENCHMARK.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
CORES = min(os.cpu_count() or 1, 4)
HEAP = "3g"
SF = 0.1
SETUP_REPS = 3
JVM_TIMEOUT_S = 160

# Work per run, as a function of --seconds only (never of measured
# speed), so the same arguments always mean the same work: untimed
# warm-up passes, then round(seconds / PASS_SECONDS) timed passes.
QUERY_STRATA = 6           # query_tail: one query per cost stratum
CATALOG_INSERTS = 2        # catalog_sql: literal INSERT + SELECT pairs
WARMUP_PASSES = {"query_tail": 2, "catalog_sql": 1}
PASS_SECONDS = 7.0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        sys.exit("perfbench: no Spark jars (set SPARK_HOME)")
    return jars


def build(jars):
    """Compile the program and the harness; reuse the last build while
    every source file is unchanged. Returns (source hash, classpath)."""
    sources = sorted(glob.glob(os.path.join(SRC, "**", "*.scala"),
                               recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not sources:
        sys.exit("perfbench: no program sources under src/main/scala")
    digest = hashlib.sha256()
    for f in sources + harness:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()[:16]
    out = os.path.join(BUILD, stamp)
    cp_jars = ":".join(jars)
    if not os.path.exists(os.path.join(out, "done")):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        for part, files, extra in (("classes", sources, ""),
                                   ("harness", harness, "classes")):
            dest = os.path.join(tmp, part)
            os.makedirs(dest)
            cp = cp_jars + (":" + os.path.join(tmp, extra) if extra else "")
            log(f"compiling {len(files)} files into {part}")
            r = subprocess.run(
                ["java", "-Xss8m", "-Xmx3g", "-cp", cp_jars,
                 "scala.tools.nsc.Main", "-nowarn", "-d", dest,
                 "-classpath", cp] + files,
                stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if r.returncode != 0:
                shutil.rmtree(tmp, ignore_errors=True)
                sys.stderr.write(r.stdout[-4000:])
                sys.exit(f"perfbench: compiling {part} failed")
        open(os.path.join(tmp, "done"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return stamp, [os.path.join(out, "classes"), RESOURCES,
                   os.path.join(out, "harness")] + jars


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    try:
        r = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def make_inputs(workload, seed, data_dir):
    """Generate the workload's inputs SETUP_REPS times; return the spec
    fields and the median generation time."""
    times = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        shutil.rmtree(data_dir, ignore_errors=True)
        if workload == "query_tail":
            rows = gen.write_tables(data_dir, seed, SF)
            spec = {"queries": gen.tail_queries(QUERY_STRATA)}
        else:
            rows = gen.write_tables(data_dir, seed, SF, only={"documents"})
            spec = gen.catalog_sql_spec(seed, CATALOG_INSERTS,
                                        rows["documents"])
        times.append(time.perf_counter() - t0)
    return spec, rows, statistics.median(times)


def run_jvm(cp, spec_path, log_path):
    cmd = ["java", "-cp", ":".join(cp), f"-Xmx{HEAP}", f"-Xms{HEAP}",
           "-XX:-UsePerfData",
           "-XX:+UseG1GC", f"-XX:ParallelGCThreads={CORES}",
           "-XX:ConcGCThreads=1", "-Xss8m",
           f"-Djava.io.tmpdir={os.path.dirname(spec_path)}/work/tmp",
           "-Dlog4j2.configurationFile=" +
           os.path.join(HERE, "log4j2.properties")]
    for mod in ("java.lang", "java.lang.invoke", "java.lang.reflect",
                "java.io", "java.net", "java.nio", "java.util",
                "java.util.concurrent", "java.util.concurrent.atomic",
                "jdk.internal.ref", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar"):
        cmd.append(f"--add-opens=java.base/{mod}=ALL-UNNAMED")
    cmd += ["perfbench.Harness", spec_path]
    with open(log_path, "w") as lf:
        start = time.time()
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return code, start


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(ops, out, setup_s):
    """BENCHMARK.json's end-to-end metrics from the timed passes."""
    by_pass = {}
    by_pos = {}
    for o in ops:
        by_pass.setdefault(o["pass"], []).append(o["lat_s"])
        by_pos.setdefault(o["index"], []).append(o["lat_s"])
    per_op = sorted(median(v) for v in by_pos.values())
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (median([sum(v) for v in by_pass.values()]), "s"),
        "op_p50_s": (median(per_op), "s"),
        "retained_heap_mb": (out["heap_mb"], "MB"),
    }, per_op


def _terminate(signum, frame):
    # unwinds through run_jvm's and main's cleanup
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(WARMUP_PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(SRC):
        sys.exit("perfbench: run from a checkout of the program "
                 "(src/main/scala is missing)")
    t_start = time.time()
    stamp, cp = build(spark_jars())
    passes = max(1, round(a.seconds / PASS_SECONDS))
    run_dir = os.path.join(ROOT, ".bench_run",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data_dir = os.path.join(run_dir, "data")
        work_dir = os.path.join(run_dir, "work")
        os.makedirs(os.path.join(work_dir, "tmp"))
        fields, sizes, gen_s = make_inputs(a.workload, a.seed, data_dir)
        spec = dict(fields, workload=a.workload, seed=a.seed,
                    trace=bool(a.trace), cores=CORES, passes=passes,
                    warmup_passes=WARMUP_PASSES[a.workload],
                    data_dir=data_dir, work_dir=work_dir,
                    results_dir=os.path.join(run_dir, "results"),
                    out=os.path.join(run_dir, "out.json"))
        spec_path = os.path.join(run_dir, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        log(f"{a.workload} seed={a.seed} passes={passes} "
            f"(build+inputs {time.time() - t_start:.1f}s)")
        log_path = os.path.join(run_dir, "jvm.log")
        code, jvm_start = run_jvm(cp, spec_path, log_path)
        if code != 0:
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            sys.exit(f"perfbench: harness exited with {code}")
        with open(spec["out"]) as f:
            out = json.load(f)
        setup_s = gen_s + (out["ready_epoch_ms"] / 1000.0 - jvm_start)
        t_check = time.time()
        verdict = check.check(a.workload, spec, out)
        log(f"jvm {t_check - jvm_start:.1f}s (ready after "
            f"{out['ready_epoch_ms'] / 1e3 - jvm_start:.1f}s), "
            f"check {time.time() - t_check:.1f}s")
        ops = out["ops"]
        log("op seconds: " + " ".join(
            f"{o['name']}={o['lat_s']:.3f}" for o in ops))
        e2e, per_op = end_to_end(ops, out, setup_s)
        regime = {"workload": a.workload, "seed": a.seed, "cores": CORES,
                  "heap": HEAP,
                  "warmup_passes": WARMUP_PASSES[a.workload],
                  "passes": passes, "timed": "all passes after warm-up",
                  "inputs": sizes, "commit": commit(), "sources": stamp,
                  "seconds": a.seconds, "trace": a.trace,
                  "run_s": round(time.time() - t_start, 1),
                  "gen_s": round(gen_s, 3)}
        print(json.dumps({"regime": regime}))
        extra = {"op_fail_ratio": verdict["failed"] / verdict["attempted"],
                 "n_ops_per_pass": len(per_op)}
        if len(per_op) >= 40:
            extra["op_p75_s"] = statistics.quantiles(per_op, n=4)[2]
        figures = check.table_figures(a.workload, out)
        extra.update(figures)
        print(json.dumps({"workload_figures": extra,
                          "failures": verdict["messages"][:20]}))
        if a.trace:
            spans_path = os.path.join(
                ROOT, ".bench_out", f"spans-{a.workload}-seed{a.seed}.jsonl")
            metrics = layers.per_layer(a.workload, out, CORES, passes,
                                       spans_path, figures)
            print(json.dumps({"spans": os.path.relpath(spans_path, ROOT),
                              "trace_wall_s": e2e["wall_s"][0]}))
        else:
            metrics = e2e
        print(json.dumps({
            "correct": verdict["failed"] == 0,
            "attempted": verdict["attempted"],
            "failed": verdict["failed"],
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""End-to-end benchmark of the medallion pipeline, the stream inbox and the
query battery. Run it from the root of a checkout:

    python3 e2ebench/run.py --workload medallion_batch --seed 1 --seconds 20 --trace 0
    python3 e2ebench/run.py --smoke          # every workload on tiny inputs

One run: build the program and the benchmark from source if the sources
changed (scalac from the Spark distribution's jars; no build tool), write
the workload's seeded inputs, run the workload in one JVM, check its
outputs against DuckDB and plain Python, and print one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
See e2ebench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["medallion_batch", "stream_inbox", "query_mix"]
JVM_TIMEOUT_S = 150

# Gated end-to-end metrics. The wall and CPU figures of a run (pass_s,
# cpu_s, latency_p50_ms, latency_tail_ms) spread by 17-50 % between runs on
# a shared host (README, "Steadiness"), beyond any usable bound; they are
# measured in every run, kept in run_detail.json and printed by the traced
# run as run.* metrics, without a gate.
END_TO_END = [("setup_s", "s"), ("heap_retained_mb", "MB"), ("stored_mb", "MB")]
RUN_FIGURES = [("pass_s", "s"), ("cpu_s", "s"), ("latency_p50_ms", "ms"), ("latency_tail_ms", "ms")]

QUERY_NAMES = [
    "q01_pricing_summary", "q161_ann_topk_stored_tombstoned", "q168_sq8_topk_batch_stored",
]

PER_LAYER = (
    [(f"run.{n}", u) for n, u in RUN_FIGURES]
    + [("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
     ("catalyst.planning_ms", "ms"), ("catalyst.actions", "count"),
     ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
     ("scheduler.tasks", "count"),
     ("executor.run_ms", "ms"), ("executor.cpu_ms", "ms"), ("executor.gc_ms", "ms"),
     ("executor.input_mb", "MB"), ("executor.shuffle_write_mb", "MB"),
     ("executor.shuffle_read_mb", "MB"), ("executor.spill_mb", "MB"),
     ("executor.output_mb", "MB"), ("executor.files_written", "count"),
     ("pipeline.bronze_ms", "ms"), ("pipeline.silver_ms", "ms"),
     ("pipeline.dq_ms", "ms"), ("pipeline.gold_ms", "ms"),
     ("pipeline.bronze_files", "count"), ("pipeline.silver_files", "count"),
     ("pipeline.gold_files", "count"), ("pipeline.scan_ratio", "ratio"),
     ("pipeline.silver_scan_ratio", "ratio"), ("pipeline.dq_scan_ratio", "ratio"),
     ("pipeline.gold_scan_ratio", "ratio"),
     ("streaming.batches", "count"), ("streaming.trigger_ms", "ms"),
     ("streaming.add_batch_ms", "ms"), ("streaming.query_planning_ms", "ms"),
     ("streaming.latest_offset_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
     ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
     ("streaming.state_commit_ms", "ms"), ("streaming.backlog_files_max", "count"),
     ("streaming.generator_lag_ms", "ms")]
    + [(f"queries.{q}_ms", "ms") for q in QUERY_NAMES]
    + [(f"queries.{q}.jobs", "count") for q in QUERY_NAMES]
    + [("operators.materialized_blocks", "count"),
       ("operators.recall_ann_tombstoned", "ratio")]
)


def fail(msg, code=2):
    print(f"[e2ebench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark distribution with a Scala compiler at {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources():
    prog = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not prog:
        fail("no program sources under src/main/scala: run from the root of a checkout")
    return prog, bench


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program, then the benchmark against it; each part only
    when its sources changed since the last build in this checkout (the
    benchmark part also when the program was rebuilt)."""
    prog, bench = sources()
    out = build_dir()
    jars = spark_jars()
    rebuilt = False
    for sub, srcs, cp, extra in (
            ("classes", prog, jars, ""),
            ("bench", bench, jars + os.pathsep + os.path.join(out, "classes"), "program")):
        stamp = _digest(srcs) + (_digest(prog) if extra else "")
        stamp_file = os.path.join(out, f"{sub}.stamp")
        if not rebuilt and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            continue
        rebuilt = True
        shutil.rmtree(os.path.join(out, sub), ignore_errors=True)
        os.makedirs(os.path.join(out, sub))
        t = time.time()
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
             "-nowarn", "-d", os.path.join(out, sub), "-classpath", cp] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail(f"compiling {sub} failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        print(f"[e2ebench] compiled {sub} ({len(srcs)} files) in {time.time() - t:.1f}s",
              file=sys.stderr)
    return out


JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(classes, workload, work, seed, seconds, trace, smoke):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([os.path.join(classes, "bench"), os.path.join(classes, "classes"),
                          spark_jars()])
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}"] + opens +
           ["-cp", cp, "e2ebench.Main", workload, work, str(seed), str(seconds),
            "1" if trace else "0", "1" if smoke else "0", str(int(time.time() * 1000))])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload}: JVM did not finish within {JVM_TIMEOUT_S}s")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload}: JVM exited with {rc}")
    with open(os.path.join(work, "jvm_result.json")) as f:
        return json.load(f)


def tail_ms(samples):
    """The highest percentile with at least ten samples beyond it; 0 (no
    tail) with fewer than forty samples."""
    s = sorted(samples)
    return s[len(s) - 11] if len(s) >= 40 else 0.0


def run_one(workload, seed, seconds, trace, smoke):
    classes = build()
    work = os.path.abspath(os.path.join(".bench_work", workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t = time.time()
    params = gen.generate(workload, seed, os.path.join(work, "input"), smoke)
    gen_s = time.time() - t
    with open(os.path.join(work, "params.json"), "w") as f:
        json.dump(params, f)
    res = run_jvm(classes, workload, work, seed, seconds, trace, smoke)
    ok, info = checks.check(workload, work, res, params)
    samples = info.get("latency_samples_ms", res["latency_samples_ms"])
    if not samples:
        ok = False
        info.setdefault("errors", []).append("no latency samples")
        samples = [float("nan")]
    e2e = {
        "latency_p50_ms": statistics.median(samples),
        "latency_tail_ms": tail_ms(samples),
        "setup_s": gen_s + res["spawn_to_first_pass_s"],
        "pass_s": res["pass_s"],
        "cpu_s": res["cpu_s"],
        "heap_retained_mb": res["heap_retained_mb"],
        "stored_mb": res["stored_mb"],
    }
    layers = dict(res["layers"])
    layers.update(info.get("layers", {}))
    layers.update({f"run.{n}": e2e[n] for n, _ in RUN_FIGURES})
    for err in info.get("errors", []):
        print(f"[e2ebench] CHECK FAILED {workload}: {err}", file=sys.stderr)
    detail = {"workload": workload, "seed": seed, "passes": res["passes"],
              "n_latency": len(samples), "pass_samples_s": res["pass_samples_s"],
              "gen_s": gen_s, "end_to_end": e2e, "per_layer": layers,
              "checks": info.get("passed", [])}
    with open(os.path.join(work, "run_detail.json"), "w") as f:
        json.dump(detail, f, indent=1)
    if trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    failed = int(res["failed"]) + int(info.get("failed", 0))
    return {"correct": bool(ok), "attempted": int(res["attempted"]),
            "failed": failed, "metrics": metrics}


def smoke():
    """Every workload end to end on tiny inputs, traced, checks included,
    plus a consistency check of BENCHMARK.json against the metrics printed
    here."""
    bench = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if os.path.exists(bench):
        spec = json.load(open(bench))
        assert [w["name"] for w in spec["workloads"]] == WORKLOADS, "workloads differ"
        assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
        assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER
    good = True
    for w in WORKLOADS:
        r = run_one(w, seed=1, seconds=2, trace=1, smoke=True)
        print(json.dumps({"workload": w, **r}))
        # stream_inbox's fault lines fail a fixed share of its files
        good &= r["correct"] and (r["failed"] == 0 or w == "stream_inbox")
    sys.exit(0 if good else 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload on tiny inputs (for editing the benchmark)")
    a = ap.parse_args()
    if a.smoke:
        smoke()
    if not a.workload:
        ap.error("--workload is required")
    print(json.dumps(run_one(a.workload, a.seed, a.seconds, a.trace, smoke=False)))


if __name__ == "__main__":
    main()

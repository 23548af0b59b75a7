#!/usr/bin/env python3
"""graft feature-store benchmark: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed, runs them in one fresh JVM (fixed task
slots, shuffle partitions and heap; one client thread in a closed loop),
checks every op's outputs against computations made apart from the program
(perfbench/checks.py), and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones. Every run gets
a fresh scratch root under .bench_run/ that is deleted when it ends.
"""
import argparse
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
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402

SLOTS = 2                # Spark task slots (local[2])
SHUFFLE_PARTITIONS = 4
HEAP = "2g"
MIN_ROUNDS = {"medallion_batch": 1, "stream_ingest": 3, "online_serve": 1,
              "ann_index": 4}
INDEX_SEED = 42
JVM_TIMEOUT_S = 165


def run_jvm(cp, params_path, scratch, deadline):
    tmp = os.path.join(scratch, "tmp")
    # A fixed, pre-touched heap with a fixed young generation and a
    # throughput collector gives every run the same GC schedule; the driver
    # binds to loopback only.
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn512m", "-XX:+UseParallelGC",
           "-XX:ParallelGCThreads=2", "-XX:+AlwaysPreTouch",
           "-Djava.io.tmpdir=" + tmp, "-Dderby.system.home=" + tmp,
           "-Dspark.driver.host=localhost", "-Dspark.driver.bindAddress=127.0.0.1",
           "-Dspark.sql.session.timeZone=UTC"] + build.JVM_OPENS + \
          ["-cp", cp, "graftbench.Main", params_path]
    log = open(os.path.join(scratch, "jvm.log"), "w")
    launch = time.time()
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            cwd=scratch)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    return rc, launch


def end_to_end(res, launch):
    ops = res["ops"]
    wall = [o["wall_ms"] for o in ops]
    return {
        "setup_s": (res["first_op_epoch_ms"] / 1000.0 - launch, "s"),
        "first_op_ms": (ops[0]["wall_ms"], "ms"),
        "op_p50_ms": (statistics.median(wall), "ms"),
        "items_per_s": (sum(o["items"] for o in ops) / (sum(wall) / 1000.0), "1/s"),
        "cpu_ms_per_op": (sum(o["cpu_ms"] for o in ops) / len(ops), "ms"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
        "output_mb": (res["output_mb"], "MB"),
    }


# Per-layer metrics: every name is printed on every workload; a layer the
# workload does not exercise reads 0.
PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.outside_jobs_ms", "ms"), ("spark.task_run_ms", "ms"),
    ("spark.task_cpu_ms", "ms"), ("spark.task_gc_ms", "ms"),
    ("spark.input_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"), ("spark.output_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("jobs.bronze_to_silver_ms", "ms"), ("jobs.silver_to_gold_ms", "ms"),
    ("jobs.historical_features_ms", "ms"), ("ops.to_silver_ms", "ms"),
    ("ops.categorify_fit_ms", "ms"), ("ops.categorify_transform_ms", "ms"),
    ("ops.categorify_save_ms", "ms"), ("ops.asof_join_ms", "ms"),
    ("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.planning_ms", "ms"), ("streaming.commit_ms", "ms"),
    ("streaming.wait_ms", "ms"), ("store.visible_ms", "ms"),
    ("store.files", "count"), ("store.lookup_plan_ms", "ms"),
    ("store.lookup_exec_ms", "ms"), ("store.lookup_p90_ms", "ms"),
    ("store.hit_ratio", "ratio"),
    ("llm.pq_fit_ms", "ms"), ("llm.pq_encode_ms", "ms"),
    ("llm.ivf_fit_ms", "ms"), ("llm.ivf_build_ms", "ms"),
    ("llm.build_s", "s"), ("llm.ivf_probe_ms", "ms"),
    ("llm.exact_topk_ms", "ms"), ("llm.recall_at_k", "ratio"),
    ("jvm.gc_ms", "ms"), ("jvm.jit_ms", "ms"), ("spark.codegen_compiles", "count"),
    ("bench.warmup_op_ms", "ms"), ("bench.traced_op_p50_ms", "ms"),
]


def per_layer(res, extra):
    """Median over the timed ops of each layer figure; a figure no op
    recorded comes from the checker or from set-up (index build, the
    streaming publish)."""
    ops = res["ops"]
    out = {}
    for name, unit in PER_LAYER:
        if any(name in o["layers"] for o in ops):
            v = statistics.median(o["layers"].get(name, 0.0) for o in ops)
        elif name in extra:
            v = extra[name]
        else:
            v = res["setup_layers"].get(name, 0.0)
        out[name] = (v, unit)
    out["bench.warmup_op_ms"] = (res["warmup_op_ms"], "ms")
    out["bench.traced_op_p50_ms"] = (statistics.median(o["wall_ms"] for o in ops), "ms")
    out["llm.build_s"] = (sum(res["setup_layers"].get(n, 0.0) for n in (
        "llm.pq_fit_ms", "llm.pq_encode_ms", "llm.ivf_fit_ms",
        "llm.ivf_build_ms")) / 1000.0, "s")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(inputs.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    # a terminated benchmark still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    try:
        cp = build.build()
    except build.BuildError as e:
        sys.exit("perfbench: %s" % e)

    scratch = os.path.join(ROOT, ".bench_run",
                           "%s-%d-%d" % (a.workload, os.getpid(), time.time_ns()))
    try:
        for d in ("in", "out", "tmp"):
            os.makedirs(os.path.join(scratch, d))
        params, truth = inputs.generate(a.workload, a.seed,
                                        os.path.join(scratch, "in"))
        params.update(workload=a.workload, seconds=a.seconds,
                      trace=bool(a.trace), slots=SLOTS,
                      shuffle_partitions=SHUFFLE_PARTITIONS,
                      min_rounds=MIN_ROUNDS[a.workload], index_seed=INDEX_SEED,
                      scratch_dir=scratch, in_dir=os.path.join(scratch, "in"),
                      out_dir=os.path.join(scratch, "out"),
                      result_file=os.path.join(scratch, "result.json"))
        params_path = os.path.join(scratch, "params.json")
        with open(params_path, "w") as f:
            json.dump(params, f)
        # the first run in a checkout also pays the build
        deadline = time.time() + JVM_TIMEOUT_S - min(60.0, time.time() - started)
        rc, launch = run_jvm(cp, params_path, scratch, deadline)
        if rc != 0 or not os.path.isfile(params["result_file"]):
            with open(os.path.join(scratch, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.exit("perfbench: the program run failed (%s)" % rc)
        with open(params["result_file"]) as f:
            res = json.load(f)
        verdict = checks.check(a.workload, truth, params, res)
        if a.trace:
            metrics = per_layer(res, verdict.extra)
        else:
            metrics = end_to_end(res, launch)
        sys.stderr.write("op wall ms: %s\n" % " ".join(
            "%.0f" % o["wall_ms"] for o in res["ops"]))
        sys.stderr.write("op cpu ms: %s\n" % " ".join(
            "%.0f" % o["cpu_ms"] for o in res["ops"]))
        for line in verdict.notes:
            sys.stderr.write("check: %s\n" % line)
        print(json.dumps({
            "correct": verdict.correct,
            "attempted": len(res["ops"]),
            "failed": verdict.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_run"))
        except OSError:
            pass


if __name__ == "__main__":
    main()

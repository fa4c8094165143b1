#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <landmarks|registry> --seed <n>
                             --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. Builds the engine and the harness (cached in
$CARGO_TARGET_DIR, default .bench_build), generates this seed's inputs
(cached in .bench_out/inputs), runs the workload in a fresh working
directory under .bench_out/runs, checks the outputs, prints one line per
metric and, as the last line, the JSON result.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("landmarks", "registry")
LANDMARK_IMAGES = 24
CORPUS_COPIES = 4
KEEP_SEEDS = 8
JVM_TIMEOUT_S = 170

# one of the cheaper queries of each family: operators, text, dedup,
# similarity, sources (builds its media fixture tree lazily on first use)
# and streaming (a micro-batch twin)
REGISTRY_QUERIES = ("q_topn_per_group", "q_doc_fingerprint", "q_minhash_bands",
                    "q_cosine_topk", "q_image_dims", "q_stream_enrich")

END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "mem_peak_mb": "MB"}
FAMILIES = ("operators", "text", "dedup", "similarity", "sources", "streaming")
PER_LAYER = dict(
    [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
     ("spark.sched_delay_s", "s"), ("spark.busy_frac", "frac"), ("spark.task_cpu_s", "s"),
     ("spark.gc_s", "s"), ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_records", "count"),
     ("spark.spill_mb", "MB"), ("spark.input_mb", "MB"), ("spark.output_mb", "MB"),
     ("spark.cached_mb_after_query", "MB"), ("spark.join_rows_per_result_row", "ratio"),
     ("trace_overhead_frac", "frac"),
     ("ops.samples", "count"), ("ops.ms_p50", "ms"),
     ("images.stage.detect_s", "s"), ("images.stage.colors_s", "s"),
     ("images.stage.stats_s", "s"), ("images.stage.write_s", "s"),
     ("images.scan_amplification", "ratio")]
    + [(f"{f}.{m}", u) for f in FAMILIES
       for m, u in (("run_ms", "ms"), ("plan_ms", "ms"), ("exec_ms", "ms"),
                    ("jobs", "count"), ("task_cpu_s", "s"))]
    + [("images.decode_ms", "ms"), ("images.dominant_color_ms", "ms"),
       ("images.average_color_ms", "ms"), ("images.detect_ms", "ms"),
       ("multimodal.jpeg_decode_mb_s", "MB/s"), ("multimodal.jpeg_decode_vs_imageio", "ratio"),
       ("multimodal.png_decode_mb_s", "MB/s"), ("multimodal.png_decode_vs_imageio", "ratio"),
       ("multimodal.inflate_mb_s", "MB/s"), ("multimodal.inflate_vs_jdk", "ratio"),
       ("plans.shingle_minhash_mb_s", "MB/s"), ("plans.simhash_mb_s", "MB/s"),
       ("plans.winnow_mb_s", "MB/s"), ("plans.cdc_mb_s", "MB/s"),
       ("plans.builtin_xxhash64_mb_s", "MB/s"), ("plans.lsh_rows_s", "1/s"),
       ("plans.quantize_dot_rows_s", "1/s")])

LOG_CONFIG = f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def inputs(root, seed, corpus):
    """This seed's inputs, generated once and reused (outside any timing).
    The corpus scale-up feeds only the traced run's kernel figures."""
    base = os.path.join(root, ".bench_out", "inputs")
    d = os.path.join(base, f"seed-{seed}")
    done = os.path.join(d, "done")
    if not os.path.exists(done):
        t0 = time.time()
        shutil.rmtree(d, ignore_errors=True)
        gen.tables(seed, os.path.join(d, "tables"))
        gen.landmark_meta(seed, os.path.join(d, "landmarks"), LANDMARK_IMAGES)
        open(done, "w").write(f"{time.time() - t0:.3f}\n")
        # keep the inputs of the most recent seeds only
        old = sorted((os.path.getmtime(p), p) for p in
                     (os.path.join(base, n) for n in os.listdir(base)) if p != d)
        for _, p in old[:-KEEP_SEEDS]:
            shutil.rmtree(p, ignore_errors=True)
    if corpus and not os.path.exists(os.path.join(d, "corpus.done")):
        gen.scale_up(seed, os.path.join(d, "tables"), os.path.join(d, "corpus"), CORPUS_COPIES)
        open(os.path.join(d, "corpus.done"), "w").close()
    return d


def cores():
    """Spark task threads: two, leaving the other cores to the JIT, the GC
    and the rest of the host (both workloads keep about one core busy)."""
    return max(1, min(2, len(os.sched_getaffinity(0))))


def java(classpath, args, work, extra=()):
    """Run the harness JVM in `work`; its output goes to work/jvm.log."""
    logf = os.path.join(work, "jvm.log")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", LOG_CONFIG] + list(extra) + ADD_OPENS +
           ["-cp", classpath, "perfbench.Harness"] + args)
    # SPARK_LOCAL_DIRS would override spark.local.dir and put shuffle files
    # outside the run's own directory. SPARK_GRAFT_ONLY names the registry
    # sample, for the harness and for graft.Verify, which dumps just it.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    env.update(SPARK_GRAFT_ONLY=",".join(REGISTRY_QUERIES), SPARK_GRAFT_CPUS=str(cores()))
    with open(logf, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"harness timed out after {JVM_TIMEOUT_S}s; log: {logf}")
        finally:
            # also when this process is stopped: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        sys.stderr.write(open(logf, errors="replace").read()[-3000:])
        raise SystemExit(f"harness exited with {rc}; log: {logf}")


def class_archive(root, classpath, stamp):
    """The JVM class-data archive of this build: one pass of each workload
    on seed 0 records the classes they load, so every run maps them
    instead of reading and verifying them from ~300 jars. Made once per
    build, before any timing."""
    out = build.out_dir(root)
    jsa, stamp_file = os.path.join(out, "classes.jsa"), os.path.join(out, "classes.jsa.stamp")
    if os.path.exists(jsa) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jsa
    t0 = time.time()
    work = os.path.join(root, ".bench_out", "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java(classpath, ["train", inputs(root, 0, corpus=False), work, str(cores())], work,
         [f"-XX:ArchiveClassesAtExit={jsa}"])
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"[perfbench] class-data archive made in {time.time() - t0:.1f} s")
    return jsa


def failed_ops(res, check_fails):
    """Operations that threw, plus every timed run of an operation whose
    output check failed."""
    counts = res["op_counts"]
    return int(res["threw"]) + sum(int(counts.get(n, 0)) for n in check_fails
                                   if n not in res["errors"])


def main(argv):
    # SIGTERM unwinds like an error, so the harness JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args(argv)
    root = os.getcwd()
    classpath, stamp = build.build(root)
    if a.selftest:
        import selftest
        return selftest.main(root, classpath)
    if not a.workload:
        ap.error("--workload is required")

    jsa = class_archive(root, classpath, stamp)
    inp = inputs(root, a.seed, corpus=a.trace == 1)
    work = os.path.join(root, ".bench_out", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    java(classpath, [a.workload, str(a.seed), str(a.seconds), str(a.trace), inp, work,
                     result, root, str(cores())], work, [f"-XX:SharedArchiveFile={jsa}"])
    res = json.load(open(result))

    fails = dict(res["check_failures"])
    if a.workload == "landmarks" and res["landmark_out"]:
        for m in checks.landmark_stats(res["landmark_out"], os.path.join(inp, "landmarks", "labels.csv"),
                                       os.path.join(inp, "landmarks", "names.csv"),
                                       res["landmark_classes"]):
            fails.setdefault("pipeline", m)
    elif res["oracle_queries"]:
        fails.update(checks.oracle(root, os.path.join(inp, "tables"), res["verify_dir"],
                                   res["oracle_queries"]))
    for n, m in list(res["errors"].items()) + list(fails.items()):
        log(f"[perfbench] FAILED {n}: {m}")
    failed = failed_ops(res, fails)

    if a.trace:
        os.makedirs(os.path.join(root, ".bench_out", "traces"), exist_ok=True)
        shutil.copy(os.path.join(work, "trace.jsonl"),
                    os.path.join(root, ".bench_out", "traces", f"{a.workload}-{a.seed}.jsonl"))
    names, values = (PER_LAYER, res["per_layer"]) if a.trace else (END_TO_END, res["end_to_end"])
    metrics = {k: {"value": values[k], "unit": u} for k, u in names.items()}
    gen_s = float(open(os.path.join(inp, "done")).read())
    print(f"workload {a.workload} seed {a.seed}: {res['passes']} passes, {res['op_samples']} "
          f"operation samples; input generation {gen_s:.2f} s + rendering "
          f"{res['render_s']:.2f} s (not in setup_s)")
    for k, m in metrics.items():
        print(f"  {k:40s} {m['value']:.6g} {m['unit']}")
    print(f"  pass samples {res['pass_samples_s']} (CPU {res['pass_cpu_s']}, steal per pass "
          f"{res['pass_steal_frac']}); per operation {res['op_samples_ms']}")
    print(f"  probe_s {res['probe_s']:.4f} (host-drift probe, not a metric)")
    if not a.trace:
        print(f"  mem_peak_mb = live heap {res['live_heap_mb']:.1f} MB + outside the heap "
              f"{res['off_heap_mb']:.1f} MB")
    print(f"  failed_frac {failed / max(int(res['attempted']), 1):.4f} ({failed}/{res['attempted']})")
    if res["oracle_queries"]:
        print(f"  {len(res['oracle_queries'])} results compared with their DuckDB oracle: "
              f"{', '.join(res['oracle_queries'])}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and not res["errors"],
                      "attempted": int(res["attempted"]), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

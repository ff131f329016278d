#!/usr/bin/env python3
"""The benchmark: one command per run.

  python3 perfbench/run.py --workload {copy,dedup,ingest} --seed N \\
      --seconds S --trace {0,1} [--size {bench,smoke}]

Builds the program and the benchmark client from source (perfbench/build.py), makes
the seeded corpus once per seed (perfbench/gen.py), runs one closed-loop
client in one JVM (perfbench.Main), checks every operation's output with
DuckDB (perfbench/check.py) and prints, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (and writes one span per
operation to spans-<workload>.jsonl in the build directory). Everything it
writes stays under the build directory ($CARGO_TARGET_DIR, default
.bench_build).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing beside the sources

import build  # noqa: E402
import gen  # noqa: E402
from check import Checker  # noqa: E402

# corpus factor over the ~sf0.001 base shape, per size and workload: copy
# runs at a size where moving the data is a measured share of its pass
SIZES = {"bench": {"copy": 200, "dedup": 2, "ingest": 2},
         "smoke": {"copy": 1, "dedup": 1, "ingest": 1}}
CORES = min(4, os.cpu_count() or 1)

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "cpu_s": "s",
             "live_heap_mb": "MB", "write_amp": "ratio"}
LAYERS = ["core.CopyPipeline", "core.Catalog", "ops.Relational", "ops.Text", "ops.Vector",
          "core.SnapshotLog", "sources.LogBatchScan", "streaming.EventStreams"]
LAYER_UNITS = {"calls": "count", "busy_s": "s", "cpu_s": "s", "jobs": "count",
               "stages": "count", "tasks": "count", "shuffle_mb": "MB", "spill_mb": "MB",
               "input_mb": "MB", "output_mb": "MB"}
PER_LAYER_UNITS = dict(
    [(f"{l}.{k}", u) for l in LAYERS for k, u in LAYER_UNITS.items()] + [
        ("core.Barriers.persisted_mb", "MB"), ("core.Barriers.persisted_rdds", "count"),
        ("residue_mb", "MB"),
        ("streaming.EventStreams.batches", "count"), ("streaming.EventStreams.batch_s", "s"),
        ("streaming.EventStreams.lifecycle_s", "s"),
        ("streaming.EventStreams.state_commit_ms", "ms"),
        ("core.SnapshotLog.commits", "count"), ("core.SnapshotLog.files_written", "count"),
        ("host.probe_start_ms", "ms"), ("host.probe_end_ms", "ms"),
        ("bench.traced_wall_s", "s")])

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def corpus_dir(out, seed, factor):
    d = os.path.join(out, "corpus", f"x{factor}-s{seed}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed, factor)
        os.replace(tmp, d)
    return d


def run_jvm(out, args, corpus, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx4g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp", "-Dderby.system.home=" + work,
        "-cp", build.classpath(out), "perfbench.Main",
        "--workload", args.workload, "--corpus", corpus, "--work", work,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(CORES), "--out", f"{work}/report.json"]
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            code = p.wait(timeout=160 + 2 * args.seconds)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = -9
    if code != 0 or not os.path.exists(f"{work}/report.json"):
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"benchmark JVM failed ({code})")
    with open(f"{work}/report.json") as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["copy", "dedup", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="bench")
    args = ap.parse_args()

    out = build.build()
    corpus = corpus_dir(out, args.seed, SIZES[args.size][args.workload])
    work = os.path.join(out, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rep = run_jvm(out, args, corpus, work)
        bad = Checker(corpus, os.path.join(corpus + ".oracle"), work, rep).run()
        per_op = rep["timed_calls_by_op"]
        failed = sum(per_op[n] if n in bad else rep["timed_failed_by_op"].get(n, 0) for n in per_op)
        attempted = sum(per_op.values())
        for n, why in sorted(bad.items()):
            sys.stderr.write(f"check failed: {n}: {why}\n")
        if rep["errors"]:
            sys.stderr.write(f"errors: {json.dumps(rep['errors'])}\n")
        if args.trace:
            vals = dict(rep["layers"])
            vals["host.probe_start_ms"] = rep["probe_ms"]["start"]
            vals["host.probe_end_ms"] = rep["probe_ms"]["end"]
            vals["bench.traced_wall_s"] = rep["e2e"]["wall_s"]
            metrics = {k: {"value": vals[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
            shutil.copyfile(f"{work}/spans.jsonl", os.path.join(out, f"spans-{args.workload}.jsonl"))
        else:
            metrics = {k: {"value": rep["e2e"][k], "unit": u} for k, u in E2E_UNITS.items()}
        print(json.dumps({
            "host_probe_ms": rep["probe_ms"], "timed_passes": rep["timed_passes"],
            "op_samples": rep["op_samples"], "warmup_pass_wall_s": rep["warmup_pass_wall_s"],
            "attempted": attempted, "failed": failed}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

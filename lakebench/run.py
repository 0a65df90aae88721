#!/usr/bin/env python3
"""Lake benchmark entry point.

    python3 lakebench/run.py --workload <lake_etl|corpus_curation|stream_feed>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from source if needed (``build.py``), stages the
workload's inputs (``gen.py`` cuts the lake and stream feeds from the
sf0.1 tables in ``data/`` by the seed; the corpus tables are copied as
they are), runs one JVM at
``local[4]`` (``lakebench.Main``), and prints as its last line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json untraced, the per-layer metrics with
``--trace 1``). The line before it, ``LAKEBENCH_RECORD {...}``, records the
workload: why it was chosen, its job list, input rows and bytes, cores,
loop, where the lake root lives, tail percentiles with their sample
counts, host canary readings, ``failed_ratio`` and ``mismatch_count``.

Everything it writes stays under ``.bench_build/`` in the checkout; each
run's inputs and lake are removed when it ends, traced runs keep their
spans in ``.bench_build/traces/``.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("lake_etl", "corpus_curation", "stream_feed")
JVM_TIMEOUT_S = 170
MIXES = os.path.join(build.HERE, "mixes.json")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def jvm(tmp, *args):
    """The command line of one benchmark JVM."""
    log = os.path.join(build.HERE, "log4j2.properties")
    return (["java", "-Xmx3g", "-XX:-UsePerfData", "-Xlog:disable",
             f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={log}"]
            + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in ADD_OPENS]
            + ["-cp", build.classpath(), "lakebench.Main", *args])


def stage(workload, seed, inputs):
    """Put the workload's inputs into ``inputs``."""
    if workload == "corpus_curation":
        os.makedirs(inputs)
        for t in gen.CORPUS_TABLES:
            shutil.copyfile(os.path.join(gen.DATA, f"{t}.parquet"),
                            os.path.join(inputs, f"{t}.parquet"))
    elif workload == "lake_etl":
        gen.lake_feed(os.path.join(inputs, "landed"), seed)
    else:
        gen.stream_feed(os.path.join(inputs, "stream"), seed)


def input_size(inputs):
    files = [os.path.join(d, f) for d, _, fs in os.walk(inputs) for f in fs]
    rows = 0
    for f in files:
        if f.endswith(".parquet"):
            import pyarrow.parquet as pq
            rows += pq.read_metadata(f).num_rows
        else:
            with open(f, "rb") as fh:
                rows += sum(1 for _ in fh)
    return rows, sum(os.path.getsize(f) for f in files)


def main(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = p.parse_args(argv)
    try:
        build.build()
    except build.BuildError as e:
        print(f"lakebench: build failed: {e}", file=sys.stderr)
        return 2

    t0 = time.time()
    run_dir = os.path.join(build.OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work, tmp = (os.path.join(run_dir, d) for d in ("inputs", "work", "tmp"))
    for d in (work, tmp):
        os.makedirs(d)
    trace_out = os.path.join(build.OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = jvm(tmp, "run",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--inputs", inputs, "--work", work, "--trace-out", trace_out,
              "--mixes", MIXES, "--references", os.path.join(build.HERE, "references.json"))
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "scratch"))
    # the JVM starts its session while the inputs are staged; it waits for
    # a line on stdin before it reads them
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                            stderr=sys.stderr, env=env, text=True, cwd=run_dir)
    watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    ready = record = result = result_at = rc = None
    try:
        s0 = time.time()
        stage(a.workload, a.seed, inputs)
        stage_s = time.time() - s0
        rows, nbytes = input_size(inputs)
        proc.stdin.write("staged\n")
        proc.stdin.flush()
        watchdog.start()
        for line in proc.stdout:
            line = line.strip()
            if line.startswith("LAKEBENCH_READY "):
                ready = int(line.split()[1]) / 1000.0
            elif line.startswith("LAKEBENCH_RECORD "):
                record = json.loads(line[len("LAKEBENCH_RECORD "):])
            elif line.startswith("{"):
                result = json.loads(line)
                result_at = time.time()
        rc = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or ready is None or record is None or result is None:
        print(f"lakebench: run failed (exit {rc})", file=sys.stderr)
        return 1

    # session start and staging overlap: set-up ends with the later one
    session_start_s = ready - t0
    setup_s = max(session_start_s, stage_s)
    m = result["metrics"]
    if a.trace:
        m["session.start_s"] = {"value": session_start_s, "unit": "s"}
        m["session.stage_s"] = {"value": stage_s, "unit": "s"}
    else:
        m["setup_s"] = {"value": setup_s, "unit": "s"}
    record.update({"input_rows": rows, "input_bytes": nbytes,
                   "setup_s": setup_s, "stage_s": stage_s,
                   "shutdown_s": time.time() - result_at, "run_s": time.time() - t0})
    print("LAKEBENCH_RECORD " + json.dumps(record, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

#!/usr/bin/env python3
"""The lake benchmark's own tests.

    python3 lakebench/test_bench.py

* the tables in ``data/`` are the sf0.1 tables ``CORRECTNESS_sf0.1.json``
  was recorded on (same row counts and byte sizes);
* the seeded generators: the same seed gives byte-identical inputs, a
  different seed different ones, and every generated order and event is
  the sf0.1 row it was cut from;
* no timed path calls ``count()``: the benchmark's Scala sources hold no
  ``.count()`` call at all;
* the JVM self-test (``lakebench.Main selftest``): the full-result guard
  over every timed job, fingerprint rendering and corruption checks, and
  lake_etl against its plain-SQL references. It runs on the corpus tables
  and a small lake feed.

Exits non-zero on any failure. Writes only under ``.bench_build/``.
"""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

FAILED = []


def check(name, ok, why=""):
    print(f"{'ok' if ok else 'FAIL'} {name}{'' if ok else ': ' + why}")
    if not ok:
        FAILED.append(name)


def tree_digest(d):
    h = hashlib.sha256()
    for f in sorted(glob.glob(f"{d}/**/*", recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, d).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_data_is_sf01():
    with open(os.path.join(build.ROOT, "CORRECTNESS_sf0.1.json")) as fh:
        recorded = json.load(fh)["_meta"]["compare_env"]["testdata"]
    for f in sorted(glob.glob(f"{gen.DATA}/*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        got = {"rows": pq.read_metadata(f).num_rows, "bytes": os.path.getsize(f)}
        check(f"data/{t}.parquet is the recorded sf0.1 table", got == recorded.get(t),
              f"{got} vs {recorded.get(t)}")


def jsonl(d):
    out = []
    for f in sorted(glob.glob(f"{d}/**/*.jsonl", recursive=True)):
        with open(f) as fh:
            out += [json.loads(line) for line in fh if line.strip()]
    return out


def test_generators(tmp):
    small = {"lake_feed": lambda out, seed: gen.lake_feed(out, seed, 2000, 500),
             "stream_feed": lambda out, seed: gen.stream_feed(out, seed, 6, 50)}
    for kind, fn in small.items():
        a, b, c = (os.path.join(tmp, f"{kind}-{x}") for x in "abc")
        fn(a, 7)
        fn(b, 7)
        fn(c, 8)
        check(f"{kind}: same seed, byte-identical", tree_digest(a) == tree_digest(b))
        check(f"{kind}: different seed, different inputs", tree_digest(a) != tree_digest(c))

    orders = pq.read_table(gen.ORDERS, columns=["o_orderkey", "o_custkey"]).to_pydict()
    cust = dict(zip(orders["o_orderkey"], orders["o_custkey"]))
    lines = [r for r in jsonl(os.path.join(tmp, "lake_feed-a")) if "Order Key" in r]
    check("lake_feed: every order is an sf0.1 order with its customer",
          all(cust.get(r["Order Key"]) == r["customerId"] for r in lines))
    events = pq.read_table(gen.EVENTS, columns=["event_id", "user_id", "event_type"])
    ev = {i: (u, e) for i, u, e in zip(*(events.column(c).to_pylist()
                                         for c in events.column_names))}
    rows = [r for r in jsonl(os.path.join(tmp, "stream_feed-a")) if r["event_id"] >= 0]
    check("stream_feed: every event is an sf0.1 event",
          all(ev.get(r["event_id"]) == (r["user_id"], r["event_type"]) for r in rows))


def test_no_count_on_timed_paths():
    src = os.path.join(build.BENCH_SRC, "lakebench")
    hits = []
    for f in glob.glob(f"{src}/*.scala"):
        with open(f) as fh:
            for i, line in enumerate(fh, 1):
                code = line.split("//")[0]
                if re.search(r"\.count\(\s*\)", code):
                    hits.append(f"{os.path.basename(f)}:{i}")
    check("no count() in the benchmark's timed paths", not hits, ", ".join(hits))


def test_jvm_selftest(tmp):
    build.build()
    lake = os.path.join(tmp, "lake")
    gen.lake_feed(os.path.join(lake, "landed"), 3, 3000, 600, gen.LAKE_RUN_DATES[:3])
    jtmp = os.path.join(tmp, "jvm-tmp")
    os.makedirs(jtmp)
    cmd = run.jvm(jtmp, "selftest", "--inputs", gen.DATA, "--lake-inputs", lake,
                  "--mixes", run.MIXES)
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(tmp, "scratch"))
    r = subprocess.run(cmd, env=env, cwd=tmp, stdout=subprocess.PIPE, text=True)
    for line in r.stdout.splitlines():
        if line.startswith("SELFTEST "):
            print("  " + line)
    check("JVM self-test", r.returncode == 0, f"exit {r.returncode}")


def main():
    tmp = os.path.join(build.OUT, "test")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        test_data_is_sf01()
        test_generators(tmp)
        test_no_count_on_timed_paths()
        test_jvm_selftest(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"{len(FAILED)} failed")
    return 1 if FAILED else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Records and checks ``references.json`` against the DuckDB oracle.

    python3 lakebench/crosscheck.py <sf0.1 dir>            # check the recorded fingerprints
    python3 lakebench/crosscheck.py <sf0.1 dir> --write    # (re)record them

``<sf0.1 dir>`` is the generator's full sf0.1 table set, the one
``CORRECTNESS_sf0.1.json`` was recorded on. First every table in
``lakebench/data/`` must be byte-identical to its namesake there. Then,
for each query mix in ``mixes.json``: run ``graft.Verify`` on that
directory for the mix's queries, compare every result with its DuckDB
oracle through ``tools/compare.py``, and fingerprint each result in Python
from the parquet ``Verify`` wrote, rendering rows with ``compare.py``'s own
``norm_val`` (the JVM's ``Fingerprint`` renders them the same way). Every
query must PASS the oracle; without ``--write`` every fingerprint must
also equal the recorded one. This is a maintenance tool: it reads the
repository's ``tools/`` and is not part of a benchmark run.
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
HERE = os.path.dirname(os.path.abspath(__file__))
TOOLS = os.path.join(os.path.dirname(HERE), "tools")
sys.path.insert(0, HERE)
sys.path.insert(0, TOOLS)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import compare  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

REFERENCES = os.path.join(HERE, "references.json")


def python_fingerprint(result_dir):
    """Row count and the sum (mod 2^64) of each row's first 8 MD5 bytes."""
    t = pq.read_table(sorted(glob.glob(f"{result_dir}/*.parquet")))
    cols = sorted(t.column_names)
    data = {c: t.column(c).to_pylist() for c in cols}
    total = 0
    for i in range(t.num_rows):
        row = "|".join(compare.norm_val(data[c][i]) for c in cols)
        d = hashlib.md5(row.encode()).digest()
        total = (total + int.from_bytes(d[:8], "big", signed=True)) % (1 << 64)
    return f"{t.num_rows}:{total:016x}"


def sha256(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def data_copies_differ(sf_dir):
    """Names of the tables in ``data/`` that differ from ``sf_dir``'s."""
    return [f for f in sorted(os.listdir(gen.DATA)) if f.endswith(".parquet")
            and sha256(os.path.join(gen.DATA, f)) != sha256(os.path.join(sf_dir, f))]


def mix_fingerprints(name, mix, fx, tmp):
    """query -> (oracle verdict, python fingerprint) for one mix."""
    out, jtmp = (os.path.join(tmp, name, d) for d in ("verify", "tmp"))
    os.makedirs(jtmp)
    build.build()
    cmd = run.jvm(jtmp, "-")
    cmd = cmd[:cmd.index("lakebench.Main")] + ["graft.Verify", fx, out]
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(mix["jobs"]), SPARK_GRAFT_CPUS="4",
               SPARK_GRAFT_LOCAL_DIR=os.path.join(tmp, name, "scratch"))
    subprocess.run(cmd, env=env, check=True, stdout=subprocess.DEVNULL)
    r = subprocess.run([sys.executable, os.path.join(TOOLS, "compare.py"), fx, out,
                        "--only", ",".join(mix["jobs"])], stdout=subprocess.PIPE, text=True)
    verdict = {q: v for v, q in re.findall(r"^(PASS|FAIL) (\S+)", r.stdout, re.M)}
    return {q: (verdict.get(q, "missing"), python_fingerprint(os.path.join(out, q)))
            for q in mix["jobs"]}


def main(argv):
    write = "--write" in argv
    dirs = [a for a in argv if not a.startswith("--")]
    if len(dirs) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir = os.path.abspath(dirs[0])
    differ = data_copies_differ(sf_dir)
    print(f"{'FAIL' if differ else 'ok'} data/ copies byte-identical to {sf_dir}"
          + (f": {', '.join(differ)} differ" if differ else ""))
    if differ:
        return 1
    with open(run.MIXES) as fh:
        mixes = json.load(fh)
    recorded = {}
    if os.path.exists(REFERENCES):
        with open(REFERENCES) as fh:
            recorded = json.load(fh)
    tmp = os.path.join(build.OUT, "crosscheck")
    shutil.rmtree(tmp, ignore_errors=True)
    bad = 0
    fresh = {}
    try:
        for name, mix in mixes.items():
            got = mix_fingerprints(name, mix, sf_dir, tmp)
            fresh[name] = {q: fp for q, (_, fp) in sorted(got.items())}
            for q, (verdict, fp) in sorted(got.items()):
                want = recorded.get(name, {}).get(q)
                ok = verdict == "PASS" and (write or fp == want)
                bad += not ok
                print(f"{'ok' if ok else 'FAIL'} {name} {q}: oracle {verdict}, "
                      f"fingerprint {fp}, recorded {want}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if write and not bad:
        with open(REFERENCES, "w") as fh:
            json.dump(fresh, fh, indent=2)
            fh.write("\n")
    print(f"{bad} failed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

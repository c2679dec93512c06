#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <export_chain|operator_panel> \
        --seed <n> --seconds <s> --trace <0|1> [--chain-scale <k>]

Run from the root of a checkout. Builds the program and the benchmark from
source into .bench_build/ (reused while the sources are unchanged), runs one
JVM on the compiled classes plus Spark's jars, and prints as its last line
one JSON object: correct, attempted, failed and metrics. The line before it
is the run's record: operation walls, host steal % and load. Spark's own
logging goes to .bench_build/logs/, never to stdout.

operator_panel, and the panel probe of every traced run, read a corpus that
panelgen.py writes from the seed before the JVM starts; for operator_panel
its generation time counts in setup_s. After the JVM exits, each panel key's
reference output is compared with the key's DuckDB oracle over the same
corpus; a mismatch marks every operation failed, since every timed pass
reproduced that output.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import panelgen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]
BUILD_SCRIPT = os.path.join(ROOT, "perfbench", "build.sh")
DEADLINE_S = 160  # the JVM's share of a run, which must end within 180 s
# Transactions per block as a multiple of ChainGen's base density.
CHAIN_SCALE = 3
# Row-count multiple of panelgen's base corpus (1,500 orders at 1).
PANEL_SCALE = 5
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those of a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("no Spark jars found; set SPARK_HOME")


def source_digest():
    h = hashlib.sha256()
    files = [BUILD_SCRIPT]
    for top in SOURCES:
        if not os.path.isdir(top):
            fail(f"missing source directory {os.path.relpath(top, ROOT)}")
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compile into .bench_build/classes unless the stamp matches the sources."""
    digest = source_digest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    fresh = classes + ".new"
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["bash", BUILD_SCRIPT, jars, fresh], stdout=out, stderr=out)
    if rc != 0:
        fail(f"build failed, see {os.path.relpath(log, ROOT)}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def oracle_mismatches(corpus, ref):
    """Keys whose reference output differs from their DuckDB oracle over the
    corpus: columns sorted by name, rows sorted, cells compared exactly."""
    import decimal
    import math

    import duckdb
    import pyarrow.parquet as pq

    def cell(v):
        if isinstance(v, float) and math.isnan(v):
            return None
        if isinstance(v, decimal.Decimal):
            return str(v.normalize())
        if isinstance(v, (list, tuple)):
            return tuple(cell(x) for x in v)
        return v

    def norm(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [tuple(cell(r[i]) for i in order) for r in rows]
        out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
        return [cols[i] for i in order], out

    with open(os.path.join(ref, "oracle.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for name in os.listdir(corpus):
        con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{os.path.join(corpus, name)}'")
    bad = []
    for key, sql in sorted(oracles.items()):
        got = pq.read_table(os.path.join(ref, key))
        want = con.sql(sql)
        g = norm(got.column_names, [tuple(r.values()) for r in got.to_pylist()])
        w = norm(want.columns, want.fetchall())
        if g != w:
            bad.append(key)
            print(f"perfbench: {key} differs from its oracle", file=sys.stderr)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["export_chain", "operator_panel"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--chain-scale", type=int, default=CHAIN_SCALE,
                    help="transactions per block, as a multiple of the default chain")
    args = ap.parse_args()

    wanted = expected_metrics(args.trace)
    jars = spark_jars()
    classes = build(jars)

    tag = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    logs = os.path.join(BUILD, "logs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(logs, exist_ok=True)
    corpus = os.path.join(work, "panel-corpus")
    # the panel corpus: the operator_panel input, and every traced run's
    # panel probe
    panel = args.workload == "operator_panel" or args.trace == 1
    t0 = time.monotonic()
    if panel:
        panelgen.write(corpus, args.seed, PANEL_SCALE)
    pre_setup_s = time.monotonic() - t0 if args.workload == "operator_panel" else 0.0
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main",
            args.workload, str(args.seed), str(args.seconds), str(args.trace), work,
            repr(pre_setup_s), str(args.chain_scale)])
    err_path = os.path.join(logs, tag + ".err")
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=work,
                                start_new_session=True, text=True)
        try:
            out, _ = proc.communicate(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"timed out after {DEADLINE_S} s, see {os.path.relpath(err_path, ROOT)}")
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(logs, tag + ".spans.jsonl"))
    if proc.returncode != 0:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM exited with {proc.returncode}, see {os.path.relpath(err_path, ROOT)}")

    lines = [l for l in out.splitlines() if l.strip()]
    try:
        record, result = json.loads(lines[-2]), json.loads(lines[-1])
    except (IndexError, ValueError):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"unparseable JVM output: {out[-500:]!r}")
    if panel:
        bad = oracle_mismatches(corpus, os.path.join(work, "panel-ref"))
        record["oracle_mismatches"] = bad
        if bad:
            result["correct"] = False
            result["failed"] = result["attempted"]
    shutil.rmtree(work, ignore_errors=True)
    missing = wanted - set(result["metrics"])
    if missing:
        fail(f"metrics missing from the run: {sorted(missing)}")
    with open(os.path.join(logs, tag + ".json"), "w") as f:
        json.dump({"record": record, "result": result, "time": time.time()}, f)
    print(json.dumps(record))
    print(json.dumps(result))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The archive benchmark: one command, two workloads.

    python3 archbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 archbench/run.py --selftest

Run from the root of a checkout. The first run builds the engine and
the benchmark from source with sbt (into .bench_build/archbench); later
runs reuse the build while the sources are unchanged. Each run starts
one JVM with a local[<nproc>] Spark session, which builds its fixtures
from the seed, measures for --seconds, checks its outputs, and reports.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json when --trace 0 and its
per-layer metrics when --trace 1. The full run record (versions, seed,
every metric, any failed check or operation) is written to
.bench_build/archbench/runs/. The exit code is 0 only when every
check passed. See NOTES.md for what each workload and metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "archbench")
WORKLOADS = ["serve_during_ingest", "batch_gates"]
# a run must end within 180 s, and a first run that builds within
# 900 s; keep a margin for start-up and the oracle check
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"archbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; return the
    runtime classpath and the source stamp."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from a "
             "full checkout of the repository")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, stdout=subprocess.PIPE, stderr=out,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    text = p.stdout.decode("utf-8", "replace")
    with open(log, "a") as out:
        out.write(text)
    lines = [l for l in text.splitlines() if "scala-2.13" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed; see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def commit_id():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "none"


def run_jvm(cp, stamp, workload, seed, seconds, trace, selftest, deadline):
    """Run one workload in its own JVM; return (result dict, work dir)."""
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, *opens, "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}",
           f"-Darchbench.source={commit_id()} src-sha1:{stamp[:12]}",
           "-cp", cp, "archbench.Main",
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--work", work] + (["--selftest"] if selftest else [])
    err = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                         stdin=subprocess.DEVNULL)
    try:
        out, _ = p.communicate(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        err.close()
        fail(f"{workload}: run exceeded its time limit; see {work}/jvm.log")
    err.close()
    lines = [l for l in out.decode("utf-8", "replace").splitlines()
             if l.startswith("ARCHBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        fail(f"{workload}: JVM exited {p.returncode} without a result; "
             f"see {work}/jvm.log")
    return json.loads(lines[-1][len("ARCHBENCH_RESULT "):]), work


def oracle_mismatches(out_dir, corrupt=None):
    """The rule of scripts/check.py: each gate's Spark result against its
    DuckDB oracle over the same tables, same columns, same row count,
    integer vs float kinds kept apart, floats compared bitwise.
    `corrupt` (self-test) names a gate whose Spark result gets one value
    changed before the comparison. Returns a list of problems."""
    import duckdb
    import numpy as np
    import pandas as pd
    tables = os.path.dirname(out_dir)
    con = duckdb.connect()
    for t in ("events", "lineitem", "documents", "embeddings"):
        # Spark wrote each table as a directory of part files
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{tables}/{t}.parquet/*.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name in sorted(oracle):
        files = sorted(os.path.join(out_dir, name, n)
                       for n in os.listdir(os.path.join(out_dir, name))
                       if n.endswith(".parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files],
                        ignore_index=True)
        exp = con.execute(oracle[name]).fetchdf()
        if name == corrupt:
            got = got.copy()
            c = got.columns[-1]
            if len(got) == 0:
                got = exp.copy()
                got.loc[len(got)] = exp.iloc[0] if len(exp) else None
            else:
                v = got.at[0, c]
                got.at[0, c] = (v + 1) if isinstance(v, (int, float, np.number)) \
                    else f"{v}x"
        gc, ec = sorted(got.columns), sorted(exp.columns)
        if gc != ec:
            bad.append(f"{name}: columns {gc} vs {ec}")
            continue
        if len(got) != len(exp):
            bad.append(f"{name}: rows {len(got)} vs {len(exp)}")
            continue
        for c in gc:
            a, b = got[c].values, exp[c].values
            if (a.dtype.kind in "iu") != (b.dtype.kind in "iu") and \
                    a.dtype.kind in "iuf" and b.dtype.kind in "iuf":
                bad.append(f"{name}: column {c} kind {a.dtype} vs {b.dtype}")
                break
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                a, b = a.astype(float), b.astype(float)
                neq = ~((a.view(np.uint64) == b.view(np.uint64)) |
                        (np.isnan(a) & np.isnan(b)))
            else:
                an, bn = pd.isna(a), pd.isna(b)
                neq = ~(((a == b) & ~an & ~bn) | (an & bn))
            if neq.any():
                bad.append(f"{name}: column {c}: {int(neq.sum())} values differ")
                break
    return bad


def result_line(res, names):
    metrics = {}
    for n, unit in names:
        m = res["metrics_all"].get(n)
        # a per-layer metric a workload has no use for reads 0
        metrics[n] = {"value": m["value"] if m else 0.0,
                      "unit": m["unit"] if m else unit}
    return json.dumps({"correct": res["correct"],
                       "attempted": res["attempted"],
                       "failed": res["failed"], "metrics": metrics})


def one_run(args):
    t_start = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp, stamp = build()
    deadline = time.time() + JVM_TIMEOUT_S
    r, work = run_jvm(cp, stamp, args.workload, args.seed, args.seconds,
                      args.trace, False, deadline)
    problems = list(r["problems"])
    failed = r["failed"]
    attempted = r["attempted"]
    if r["oracle_dir"]:
        bad = oracle_mismatches(r["oracle_dir"])
        problems += bad
        failed += len(bad)
    section = r["layer"] if args.trace else r["e2e"]
    names = [(m["name"], m["unit"])
             for m in spec["per_layer" if args.trace else "end_to_end"]]
    missing = [n for n, _ in names if n not in section] if not args.trace else []
    if missing:
        problems.append(f"metrics not measured: {missing}")
    res = {"correct": not problems, "attempted": max(attempted, 1),
           "failed": failed, "metrics_all": section}
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{int(args.trace)}"
    record = dict(r, problems=problems, wall_s=time.time() - t_start)
    with open(os.path.join(BUILD, "runs", tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.copy(os.path.join(work, "jvm.log"),
                os.path.join(BUILD, "runs", tag + ".log"))
    if args.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(BUILD, "traces", tag + ".jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"archbench: check failed: {p}", file=sys.stderr)
    for op in r["failed_ops"]:
        print(f"archbench: operation failed: {op}", file=sys.stderr)
    print(result_line(res, names))
    sys.exit(0 if res["correct"] else 1)


def selftest():
    """Each workload at a tiny size: its own checks must pass, and each
    checker must reject a corrupted result."""
    cp, stamp = build()
    ok = True
    for w in WORKLOADS:
        r, work = run_jvm(cp, stamp, w, 7, 3, False, True,
                          time.time() + JVM_TIMEOUT_S)
        cases = [(f"{w}: checks pass on the real result", r["correct"],
                  "; ".join(r["problems"]))]
        cases += [(n, passed, "") for n, passed in r["selftest"]]
        if r["oracle_dir"]:
            bad = oracle_mismatches(r["oracle_dir"])
            cases.append(("gates: every gate matches its oracle", not bad,
                          "; ".join(bad)))
            for g in ("q1_pricing_summary", "arch_decimate_1h"):
                cases.append((f"gates: a wrong {g} row is rejected",
                              bool(oracle_mismatches(r["oracle_dir"],
                                                     corrupt=g)), ""))
        shutil.rmtree(work, ignore_errors=True)
        for name, passed, why in cases:
            print(f"{'PASS' if passed else 'FAIL'}  {name}"
                  + (f"  ({why})" if why and not passed else ""))
            ok = ok and passed
    print("selftest " + ("passed" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        selftest()
    elif not args.workload:
        ap.error("--workload is required")
    else:
        one_run(args)


if __name__ == "__main__":
    main()

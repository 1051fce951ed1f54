#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run, outputs checked.

    python3 perfbench/run.py --workload <query_surface|live_ticks>
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles the
engine and the harness (perfbench/build.py) and checks the timed query
slate once: `graft.Verify` writes its outputs on the tables in
perfbench/data and `scripts/check_oracle.py` compares them with the
DuckDB oracle; that JVM also writes a class-data archive of the classes
it loaded, which every later harness JVM maps. Later runs reuse all of
it from `.bench_build/`. The last line
of standard output is one JSON object: correct, attempted, failed,
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("query_surface", "live_ticks")
# The query surface reads a copy of the seed-42 sf0.01 tables of
# TESTDATA.md (the repository's oracle-gate scale), so its expected
# results are those of the data every other check of the repository uses.
SURFACE_DATA = os.path.join("perfbench", "data", "sf0.01")
ORACLE_SCRIPT = os.path.join("scripts", "check_oracle.py")
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
PREPARE_TIMEOUT_S = 700


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def class_archive(root, digest):
    """Path of the build's class-data archive: the classes the slate check
    loaded, written when that JVM exits and mapped by every later harness
    JVM of the build, so that each run does not load and verify Spark's
    classes again (about 7 s of JVM and Spark start-up on a 4-core host)."""
    return os.path.join(root, ".bench_build", f"classes-{digest[:16]}.jsa")


def jvm(root, cp, argv, log, timeout, archive=None, dump=False):
    """Runs the harness; maps `archive` if it exists, or writes it at exit
    when `dump`."""
    bb = os.path.join(root, ".bench_build")
    tmp = os.path.join(bb, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cds = []
    if archive and dump:
        for old in glob.glob(os.path.join(bb, "classes-*.jsa")):
            os.remove(old)
        cds = [f"-XX:ArchiveClassesAtExit={archive}"]
    elif archive and os.path.exists(archive):
        cds = [f"-XX:SharedArchiveFile={archive}"]
    # -XX:-UsePerfData, the temp dir and the Spark dirs keep every file the
    # JVM writes inside the checkout (graft.Verify builds its own session)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-Xss8m", "-XX:-UsePerfData"] + cds +
           [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(bb, 'warehouse')}"]
           + build.JAVA_OPENS + ["-cp", cp, "perfbench.Harness"] + argv)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=fh,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness timed out after {timeout} s; log: {log}")
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"harness exited {rc}; log: {log}")


def oracle_verdicts(root, out, data):
    """{name: (ok, detail)} from `scripts/check_oracle.py` over the
    outputs `graft.Verify` wrote to `out`."""
    res = subprocess.run([sys.executable, os.path.join(root, ORACLE_SCRIPT), out, data],
                         cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=PREPARE_TIMEOUT_S)
    verdicts = {}
    for line in res.stdout.splitlines():
        parts = line.split(None, 1)
        if len(parts) == 2 and os.path.isdir(os.path.join(out, parts[0])):
            verdicts[parts[0]] = (parts[1].startswith(("OK", "NO-ORACLE")), parts[1])
    if not verdicts:
        sys.stderr.write(res.stdout[-3000:])
        raise SystemExit(f"{ORACLE_SCRIPT} gave no verdicts (exit {res.returncode})")
    return verdicts


def surface_check(root, cp, digest, whole=False):
    """Build-time check of the timed slate (`whole`: of every declared
    query) against the oracle, cached per engine, harness, table and
    oracle-script content. Writes name, hash, rows, ok, detail per line
    (tab-separated)."""
    data = os.path.join(root, SURFACE_DATA)
    inputs = sorted(glob.glob(os.path.join(data, "*.parquet")))
    key = digest + build.stamp(
        [os.path.join(root, f) for f in (ORACLE_SCRIPT, "perfbench/run.py")] + inputs)
    key = hashlib.sha256(key.encode()).hexdigest()
    scope = "surface" if whole else "slate"
    path = os.path.join(root, ".bench_build", f"check-{key[:16]}-{scope}.tsv")
    if os.path.exists(path):
        return path
    work = os.path.join(root, ".bench_build", "prepare")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "verify")
    expect = os.path.join(work, "expect.tsv")
    argv = ["--workload", "prepare", "--cpus", str(cpus()), "--data", data,
            "--surface", "1" if whole else "0", "--verify", out,
            "--work", work, "--out", expect]
    archive = class_archive(root, digest)
    try:
        jvm(root, cp, argv, os.path.join(work, "prepare.log"), PREPARE_TIMEOUT_S,
            archive, dump=not whole)
    except SystemExit:
        if whole or not os.path.exists(expect):
            raise
        # the check finished but the archive could not be written: runs
        # go without one
        if os.path.exists(archive):
            os.remove(archive)
    verdicts = oracle_verdicts(root, out, data)
    with open(expect) as fh:
        hashes = dict((f[0], f[1:]) for f in (line.split() for line in fh) if f)
    lines = []
    for name in sorted(set(verdicts) | set(hashes)):
        h, n = hashes.get(name, ("0", "0"))
        ok, detail = verdicts.get(name, (False, "no oracle verdict"))
        if name not in hashes:
            ok, detail = False, "no expected hash"
        lines.append(f"{name}\t{h}\t{n}\t{1 if ok else 0}\t{' '.join(detail.split())}")
    with open(path + ".tmp", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(path + ".tmp", path)
    shutil.rmtree(work, ignore_errors=True)
    return path


def run_workload(root, workload, seed, seconds, trace, fail_query=None, only=None):
    """Runs one workload; returns the raw record the harness wrote."""
    cp, digest = build.build(root)
    # the slate check runs once per build whatever the workload, so that
    # the class-data archive it writes serves every timed run of the build
    check = surface_check(root, cp, digest)
    bb = os.path.join(root, ".bench_build")
    tag = f"{workload}-{seed}-{trace}-{os.getpid()}"
    work = os.path.join(bb, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "raw.json")
    argv = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cpus", str(cpus()), "--work", work, "--out", out]
    if workload == "query_surface":
        argv += ["--data", os.path.join(root, SURFACE_DATA),
                 "--check", check]
    else:
        argv += ["--data", work]
    if fail_query:
        argv += ["--fail-query", fail_query]
    if only:
        argv += ["--only", ",".join(only)]
    logs = os.path.join(bb, "logs")
    os.makedirs(logs, exist_ok=True)
    try:
        jvm(root, cp, argv, os.path.join(logs, f"{tag}.log"), RUN_TIMEOUT_S,
            class_archive(root, digest))
        with open(out) as fh:
            raw = json.load(fh)
        shutil.copy(out, os.path.join(logs, f"{tag}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if trace:
        traces = os.path.join(bb, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{workload}-{seed}.json"), "w") as fh:
            json.dump(raw, fh)
    return raw


def summary(workload, raw):
    """One human-readable line with the workload's own metric names."""
    lat = raw["latencies_ms"]
    _, _, _, frac = metrics.failures(workload, raw)
    if workload == "query_surface":
        slow, k, n = metrics.slowest_quarter(raw) if lat else (float("nan"), 0, 0)
        return (f"query_surface: query_total_s={raw['work_s']:.3f} "
                f"({raw['attempted']} queries, {raw['passes']} pass(es)) "
                f"query_p50_ms={metrics.median(lat):.1f} "
                f"query_tail_ms={slow:.1f} (mean of the slowest {k} of {n}) {frac} "
                f"peak_rss_mb={raw['peak_rss_mb']:.0f} "
                f"heap_retained_mb={raw['heap_retained_mb']:.1f}")
    t = metrics.tail(lat)
    b = raw["batch_latencies_ms"]
    # every event of a batch shares one due time and one completion time,
    # so the event percentiles are order statistics of the batch latencies
    return (f"live_ticks: tick_latency_p50_ms={metrics.median(lat):.1f} "
            f"tick_latency_tail_ms={t[0] if t else float('nan'):.1f} "
            f"(p{t[1] if t else 0:.1f} of {len(lat)} events in {len(b)} batches; "
            f"batch latencies {', '.join(f'{x:.0f}' for x in sorted(b))}) {frac} "
            f"peak_rss_mb={raw['peak_rss_mb']:.0f} "
            f"heap_retained_mb={raw['heap_retained_mb']:.1f}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    # "surface" checks every declared query against its oracle and exits
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("surface",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("run from the repository root: src/main/scala not found")
    if a.workload == "surface":
        cp, digest = build.build(root)
        path = surface_check(root, cp, digest, whole=True)
        with open(path) as fh:
            rows = [line.rstrip("\n").split("\t") for line in fh]
        for name, _, _, ok, detail in rows:
            print(f"{name:<40} {'OK' if ok == '1' else 'FAIL'} {detail}")
        good = sum(1 for r in rows if r[3] == "1")
        print(f"{good}/{len(rows)} declared queries pass their check")
        sys.exit(0 if good == len(rows) else 1)
    raw = run_workload(root, a.workload, a.seed, a.seconds, a.trace)
    attempted, failed, correct, _ = metrics.failures(a.workload, raw)
    if a.trace:
        values = metrics.per_layer(a.workload, raw)
        units = dict(metrics.PER_LAYER)
    else:
        values = metrics.end_to_end(a.workload, raw)
        units = dict(metrics.END_TO_END)
    print(summary(a.workload, raw))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()

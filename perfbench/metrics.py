"""Metric arithmetic of the benchmark: the tail-percentile rule, failure
accounting, span self time, and the mapping from a raw run record to the
end-to-end and per-layer metrics.
"""
import statistics

END_TO_END = [
    ("setup_s", "s"),
    ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"),
    ("throughput_per_s", "1/s"),
]

PACKS = ["Relational", "TimeSeriesQueries", "IndicatorQueries", "TextQueries",
         "VectorQueries", "DedupQueries", "IngestQueries", "ServingQueries",
         "FeatureQueries", "SqlQueries", "ApproxQueries", "MultimodalQueries",
         "SamplingQueries", "CurationQueries"]

STREAM_SPANS = ["ingest.parse", "ingest.lww_upsert", "ingest.candles",
                "ts.features", "serve.predict", "serve.write"]

PER_LAYER = (
    [("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
     ("exec.task_cpu_s", "s"), ("exec.cpu_util", "ratio"),
     ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
     ("exec.spill_bytes", "bytes"), ("exec.task_failures", "count"),
     ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
     ("catalyst.planning_ms", "ms"),
     ("queries.build_ms", "ms"), ("queries.build_jobs", "count"),
     ("queries.exec_ms", "ms")]
    + [(f"queries.{p}.{m}", u) for p in PACKS
       for m, u in (("build_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"),
                    ("shuffle_bytes", "bytes"))]
    + [("cache.storage_peak_mb", "MB"), ("cache.blocks_cached", "count"),
       ("tables.load_ms", "ms"), ("tables.register_ms", "ms"),
       ("ingest.parse_ms", "ms"), ("ingest.lww_upsert_ms", "ms"),
       ("ingest.candles_ms", "ms"), ("ingest.state_bytes", "bytes"),
       ("ingest.state_files", "count"), ("ingest.write_amp", "ratio"),
       ("ts.features_ms", "ms"), ("serve.predict_ms", "ms"),
       ("serve.write_ms", "ms"),
       ("stream.trigger_ms", "ms"), ("stream.get_batch_ms", "ms"),
       ("stream.query_planning_ms", "ms"), ("stream.wal_commit_ms", "ms"),
       ("stream.batches", "count"), ("stream.rows_per_batch", "count"),
       ("stream.jobs_per_batch", "count"), ("stream.backlog_events", "count"),
       ("gen.late_ms", "ms"),
       ("trace.spans", "count"), ("trace.overhead_ms", "ms"),
       ("trace.latency_p50_ms", "ms")])


def tail(samples, beyond=10):
    """Highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n): the sample with exactly `beyond`
    samples ranked above it, and the share of samples at or below it.
    None when there are not more than `beyond` samples.
    """
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return None
    k = n - beyond - 1
    return xs[k], 100.0 * (k + 1) / n, n


def fail_frac(failed, attempted):
    """Failures as a share of attempts; an empty run is a total failure."""
    if attempted <= 0:
        return 1.0
    return failed / attempted


def self_times(spans):
    """Self time (ns) of each span: its duration minus the union of the
    intervals its direct children cover. `spans` rows are
    (op, name, start_ns, end_ns, parent_index).
    """
    children = {}
    for i, s in enumerate(spans):
        if s[4] >= 0:
            children.setdefault(s[4], []).append((s[2], s[3]))
    out = []
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0, None, None
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, s[2]), min(b, s[3])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append(s[3] - s[2] - covered)
    return out


def per_op_self_ms(spans):
    """{span name: [self ms summed per op]} over ops >= 0 (setup spans use
    negative op ids)."""
    st = self_times(spans)
    acc = {}
    for s, t in zip(spans, st):
        op = s[0]
        if op < 0:
            continue
        acc.setdefault(s[1], {}).setdefault(op, 0)
        acc[s[1]][op] += t
    return {k: [v / 1e6 for v in d.values()] for k, d in acc.items()}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def slowest_quarter(raw):
    """(latency ms, queries averaged, query count): the mean latency of the
    slowest quarter of the slate (at least one query), each query's
    latency the median over the run's passes."""
    per_query = sorted(median(v) for v in raw["latency_by_query_ms"].values())
    k = max(1, -(-len(per_query) // 4))
    return sum(per_query[-k:]) / k, k, len(per_query)


def end_to_end(workload, raw):
    """`latency_tail_ms` is, on query_surface, the mean latency of the
    slate's slowest quarter: 17 queries are too few for a percentile with
    10 beyond that lies above the median, and the slowest query alone
    moves with one sample's noise. On live_ticks it is the tail rule over
    the per-event latencies."""
    lat = raw["latencies_ms"]
    if workload == "query_surface":
        if not lat:
            raise ValueError(f"{workload}: no query passed its check")
        tail_ms = slowest_quarter(raw)[0]
    else:
        t = tail(lat)
        if t is None:
            raise ValueError(f"{workload}: {len(lat)} latency samples, need > 10")
        tail_ms = t[0]
    return {
        "setup_s": median(raw["setup_s"]),
        "latency_p50_ms": median(lat),
        "latency_tail_ms": tail_ms,
        "throughput_per_s": len(lat) / raw["work_s"],
    }


def failures(workload, raw):
    """(attempted, failed, correct, fail_frac detail string)."""
    if workload == "query_surface":
        timed = {k.split("#")[0] for k in raw["failures"]}
        surface = set(raw["surface_failures"]) | set(raw["surface_missing"])
        failed_names = timed | surface
        frac = fail_frac(len(failed_names), raw["checked"])
        attempted = raw["attempted"]
        failed = len(raw["failures"])
        correct = failed == 0 and not surface
        detail = (f"query_fail_frac={frac:.4f} ({len(failed_names)}/{raw['checked']} "
                  f"checked, {raw['declared']} declared)")
    else:
        attempted = raw["attempted"]
        failed = raw["failed_batch_events"] + raw["wrong_keys"]
        frac = fail_frac(failed, attempted)
        correct = failed == 0 and raw["failed_batches"] == 0
        detail = f"tick_fail_frac={frac:.4f} ({failed}/{attempted})"
    return attempted, failed, correct, detail


def per_layer(workload, raw):
    """Every per-layer metric; layers a workload does not run read 0."""
    m = {name: 0.0 for name, _ in PER_LAYER}
    layers = raw.get("layers", {})
    for k, v in layers.items():
        if k in m:
            m[k] = float(v)
    spans = raw.get("spans", [])
    self_ms = per_op_self_ms(spans)
    setup_ms = {}
    for s, t in zip(spans, self_times(spans)):
        if s[0] < 0:
            setup_ms.setdefault(s[1], []).append(t / 1e6)
    m["tables.load_ms"] = median(setup_ms.get("tables.load", []))
    m["tables.register_ms"] = median(setup_ms.get("tables.register", []))
    for name in STREAM_SPANS:
        m[f"{name}_ms"] = median(self_ms.get(name, []))
    pq = raw.get("per_query", [])
    if pq:
        wall_s = raw["work_s"]
        cpus = raw.get("cpus", 1)
        for key, out in (("jobs", "exec.jobs"), ("stages", "exec.stages"),
                         ("tasks", "exec.tasks"),
                         ("shuffle_read_bytes", "exec.shuffle_read_bytes"),
                         ("shuffle_write_bytes", "exec.shuffle_write_bytes"),
                         ("spill_bytes", "exec.spill_bytes"),
                         ("task_failures", "exec.task_failures"),
                         ("build_jobs", "queries.build_jobs")):
            m[out] = float(sum(q[key] for q in pq))
        cpu_s = sum(q["task_cpu_ms"] for q in pq) / 1e3
        m["exec.task_cpu_s"] = cpu_s
        m["exec.cpu_util"] = cpu_s / (cpus * wall_s) if wall_s > 0 else 0.0
        for ph in ("analysis", "optimization", "planning"):
            m[f"catalyst.{ph}_ms"] = median([q[f"{ph}_ms"] for q in pq])
        m["queries.build_ms"] = median(self_ms.get("queries.build", []))
        m["queries.exec_ms"] = median(self_ms.get("queries.exec", []))
        by_op = {}
        for s, t in zip(spans, self_times(spans)):
            if s[0] >= 0 and s[1] in ("queries.build", "queries.exec"):
                by_op.setdefault(s[0], {})[s[1]] = t / 1e6
        for p in PACKS:
            qs = [q for q in pq if q["pack"] == p]
            m[f"queries.{p}.build_ms"] = median(
                [by_op.get(q["op"], {}).get("queries.build", 0.0) for q in qs])
            m[f"queries.{p}.exec_ms"] = median(
                [by_op.get(q["op"], {}).get("queries.exec", 0.0) for q in qs])
            m[f"queries.{p}.jobs"] = float(sum(q["jobs"] for q in qs))
            m[f"queries.{p}.shuffle_bytes"] = float(
                sum(q["shuffle_read_bytes"] + q["shuffle_write_bytes"] for q in qs))
    m["trace.spans"] = float(len(spans))
    m["trace.overhead_ms"] = float(raw.get("trace_overhead_ms", 0.0))
    lat = raw.get("latencies_ms", [])
    m["trace.latency_p50_ms"] = median(lat)
    return m

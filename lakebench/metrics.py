"""Arithmetic that turns one raw run record into the benchmark's metrics.

The JVM side (`lakebench.Main`) only records: client operations with their
latencies, unit-of-work walls, output checks and, in traced runs, spans and
Spark events (tasks, jobs, Catalyst phases, codegen compiles), all on one
epoch-millisecond clock. Everything computed from those lives here so that
it can be unit-tested without Spark (see test_metrics.py).
"""
import math
import statistics

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "read_ms_geomean": "ms",
    "read_ms_p90": "ms",
    "rss_peak_mb": "MB",
}

PER_LAYER = {
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "codegen.compile_ms": "ms",
    "codegen.compile_count": "count",
    "serve.build_ms": "ms",
    "serve.exec_ms": "ms",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.delay_s": "s",
    "scheduler.driver_gap_s": "s",
    "scheduler.task_run_s": "s",
    "scheduler.task_cpu_s": "s",
    "jvm.gc_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms",
    "shuffle.spill_bytes": "bytes",
    "operators.AsOfJoin.build_s": "s",
    "operators.repeat_task_ratio": "ratio",
    "tables.bytes_read": "bytes",
    "tables.records_read": "count",
    "tables.rows_read_per_row_returned": "ratio",
    "etl.pipeline_s": "s",
    "txtable.write_ms": "ms",
    "txtable.merge_ms": "ms",
    "txtable.commit_ms_p50": "ms",
    "txtable.commit_ms_p90": "ms",
    "txtable.read_ms": "ms",
    "txtable.changes_ms": "ms",
    "txtable.compact_s": "s",
    "txtable.vacuum_ms": "ms",
    "txtable.bytes_written": "bytes",
    "txtable.data_files": "count",
    "txtable.log_files": "count",
    "txtable.scan_fraction": "ratio",
    "txtable.bytes_written_per_input_byte": "ratio",
    "txtable.table_bytes_per_live_byte": "ratio",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "trace.overhead_ratio": "ratio",
    "trace.coverage": "ratio",
}


def percentile(values, q):
    """The q-th percentile (0-100) by linear interpolation between closest
    ranks, as numpy's default; None for no values."""
    xs = sorted(values)
    if not xs:
        return None
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values):
    """Geometric mean; None for no values."""
    xs = list(values)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None


def beyond(n, q):
    """How many of n samples lie strictly above the q-th percentile rank."""
    return n - 1 - int((n - 1) * q / 100.0)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals, clipped
    to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> self time: its duration minus the part of its interval
    that its direct children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def containing(t, tops):
    """The top-level span whose [start, end] holds time t, or None; `tops`
    is sorted by start and non-overlapping (one client thread)."""
    lo, hi = 0, len(tops) - 1
    while lo <= hi:
        mid = (lo + hi) // 2
        s = tops[mid]
        if t < s["start"]:
            hi = mid - 1
        elif t > s["end"]:
            lo = mid + 1
        else:
            return s
    return None


def bytes_written_per_input_byte(data_bytes, write_bytes, base_rows, rows_submitted):
    """Write amplification: bytes the table holds in data files (nothing is
    deleted before vacuum, so this is every byte written) over the bytes
    the submitted rows take in the table's own encoding (the initial write's
    bytes per row, times rows submitted by the write and every merge)."""
    return data_bytes / (rows_submitted * write_bytes / base_rows)


def table_bytes_per_live_byte(data_bytes, live_bytes):
    """Space amplification: bytes in the table's data directory over bytes
    of the files the latest snapshot references."""
    return data_bytes / live_bytes


def scan_fraction(reads):
    """Mean over filtered reads of bytes scanned / live table bytes, where
    `reads` holds (bytes scanned, live bytes) pairs."""
    fr = [scanned / live for scanned, live in reads if live > 0]
    return sum(fr) / len(fr) if fr else 0.0


def end_to_end(rec):
    """End-to-end metrics of the untraced measured phase: wall_s is the
    median wall of its completed units of work (dashboard passes, ingest
    iterations); read latencies summarize those units' reads. The typical
    read is the geometric mean, not the median: the dashboard mixes 14
    queries whose latencies leave a gap of about 15% at the middle one, so
    the median jumps between two queries from run to run."""
    units = [u for u in rec["units"] if not u["traced"]]
    reads = read_samples(rec)
    return {
        "setup_s": rec["setup_s"],
        "wall_s": statistics.median(u["wall_ms"] for u in units) / 1000.0,
        "read_ms_geomean": geomean(reads),
        "read_ms_p90": percentile(reads, 90),
        "rss_peak_mb": rec["rss_peak_mb"],
    }


def read_samples(rec):
    """Latencies of the untraced reads of completed units: a unit cut at the
    deadline would weigh its queries unevenly."""
    done = {u["idx"] for u in rec["units"] if not u["traced"]}
    return [o["ms"] for o in rec["ops"]
            if o["kind"] == "read" and o["ok"] and o["unit"] in done]


def samples(rec):
    """Sample counts behind the latency percentiles and the failure ratio."""
    ops = [o for o in rec["ops"] if not o["traced"] and o["unit"] >= 0]
    reads = read_samples(rec)
    commits = [o["ms"] for o in ops if o["kind"] == "commit"]
    attempted, failed = attempts(rec)
    phase_s = sum(p["wall_ms"] for p in rec["phases_wall"] if not p["traced"]) / 1000.0
    return {
        "units": sum(1 for u in rec["units"] if not u["traced"]),
        "ops_per_s": len(ops) / phase_s,
        "reads": len(reads),
        "read_ms_p50": percentile(reads, 50),
        "read_ms_p90_beyond": beyond(len(reads), 90) if reads else 0,
        "commits": len(commits),
        "commit_ms_p50": percentile(commits, 50),
        "commit_ms_p90": percentile(commits, 90),
        "op_failure_ratio": failed / attempted,
    }


def op_summary(rec):
    """Operation name -> sample count and median milliseconds (untraced)."""
    by = {}
    for o in rec["ops"]:
        if not o["traced"] and o["unit"] >= 0:
            by.setdefault(o["name"], []).append(o["ms"])
    return {k: {"n": len(v), "median_ms": statistics.median(v)} for k, v in sorted(by.items())}


def attempts(rec):
    """(attempted, failed): every measured operation and every output check."""
    ops = [o for o in rec["ops"] if o["unit"] >= 0]
    attempted = len(ops) + len(rec["checks"])
    failed = sum(not o["ok"] for o in ops) + sum(not c["ok"] for c in rec["checks"])
    return attempted, failed


def per_layer(rec):
    """Per-layer metrics of the traced measured units: Spark events are
    attributed by time to the top-level span (client operation) they fall
    in; events outside every top-level span (output checks) are dropped.
    Counts and times are per unit of work; per-call layer times are means
    over calls."""
    traced_units = [u for u in rec["units"] if u["traced"]]
    n = max(len(traced_units), 1)
    spans = rec["spans"]
    tops = sorted((s for s in spans if s["parent"] == 0), key=lambda s: s["start"])

    def inside(events, key="t"):
        return [e for e in events if containing(e[key], tops) is not None]

    tasks = inside(rec["tasks"], "launch")
    phases = inside(rec["phases"])
    compiles = inside(rec["compiles"])
    jobs = inside(rec["jobs"])
    gauges = [g for g in rec["gauges"] if g["traced"]]

    def per_unit(x):
        return x / n

    def total(key, rows=tasks):
        return sum(r[key] for r in rows)

    def mean_ms(pred):
        ds = [s["end"] - s["start"] for s in spans if pred(s["name"])]
        return sum(ds) / len(ds) if ds else 0.0

    def gauge_mean(name):
        vs = [g["value"] for g in gauges if g["name"] == name]
        return sum(vs) / len(vs) if vs else 0.0

    delay = sum(max(0.0, (t["finish"] - t["launch"]) - t["run_ms"] - t["deser_ms"]
                    - t["result_ser_ms"] - t["getting_result_ms"]) for t in tasks)
    task_windows = [(t["launch"], t["finish"]) for t in tasks]
    gap = sum((s["end"] - s["start"]) - union_length(task_windows, s["start"], s["end"])
              for s in tops)

    read_tops = [s for s in tops if s["kind"] == "read"]
    read_records = sum(t["input_records"] for t in tasks
                       if containing(t["launch"], tops)["kind"] == "read")
    returned = sum(g["value"] for g in gauges if g["name"] == "rows_returned")

    live = sorted((g["t"], g["value"]) for g in gauges if g["name"] == "live_bytes")
    txreads = []
    for s in read_tops:
        if not s["name"].startswith("txtable.read"):
            continue
        before = [v for t, v in live if t <= s["start"]]
        scanned = sum(t["input_bytes"] for t in tasks
                      if s["start"] <= t["launch"] <= s["end"])
        txreads.append((scanned, before[-1] if before else 0.0))

    traced_walls = [u["wall_ms"] for u in traced_units]
    facts = rec["facts"]
    cold = facts.get("operators.AsOfJoin.cold_tasks", 0)
    merge_end_data = gauge_mean("merge_end_data_bytes")
    commits = [o["ms"] for o in rec["ops"]
               if not o["traced"] and o["unit"] >= 0 and o["kind"] == "commit"]
    has_rows = gauge_mean("rows_submitted") > 0 and gauge_mean("base_rows") > 0

    return {
        "catalyst.analysis_ms": per_unit(total("analysis_ms", phases)),
        "catalyst.optimization_ms": per_unit(total("optimization_ms", phases)),
        "catalyst.planning_ms": per_unit(total("planning_ms", phases)),
        "codegen.compile_ms": per_unit(total("ms", compiles)),
        "codegen.compile_count": per_unit(len(compiles)),
        "serve.build_ms": mean_ms(lambda x: x.endswith(".build")),
        "serve.exec_ms": mean_ms(lambda x: x == "spark.execute"),
        "scheduler.jobs": per_unit(len(jobs)),
        "scheduler.stages": per_unit(total("stages", jobs)),
        "scheduler.tasks": per_unit(len(tasks)),
        "scheduler.delay_s": per_unit(delay) / 1000.0,
        "scheduler.driver_gap_s": per_unit(gap) / 1000.0,
        "scheduler.task_run_s": per_unit(total("run_ms")) / 1000.0,
        "scheduler.task_cpu_s": per_unit(total("cpu_ns")) / 1e9,
        "jvm.gc_s": per_unit(total("gc_ms")) / 1000.0,
        "shuffle.write_bytes": per_unit(total("shuffle_write_bytes")),
        "shuffle.read_bytes": per_unit(total("shuffle_read_bytes")),
        "shuffle.fetch_wait_ms": per_unit(total("fetch_wait_ms")),
        "shuffle.spill_bytes": per_unit(total("spill_bytes")),
        "operators.AsOfJoin.build_s": facts.get("operators.AsOfJoin.build_s", 0.0),
        "operators.repeat_task_ratio":
            facts.get("operators.AsOfJoin.repeat_tasks", 0) / cold if cold else 0.0,
        "tables.bytes_read": per_unit(total("input_bytes")),
        "tables.records_read": per_unit(total("input_records")),
        "tables.rows_read_per_row_returned": read_records / returned if returned else 0.0,
        "etl.pipeline_s": mean_ms(lambda x: x == "etl.Pipeline.run") / 1000.0,
        "txtable.write_ms": mean_ms(lambda x: x == "txtable.write"),
        "txtable.merge_ms": mean_ms(lambda x: x == "txtable.merge"),
        "txtable.commit_ms_p50": percentile(commits, 50) or 0.0,
        "txtable.commit_ms_p90": percentile(commits, 90) or 0.0,
        "txtable.read_ms": mean_ms(lambda x: x.startswith("txtable.read")),
        "txtable.changes_ms": mean_ms(lambda x: x == "txtable.changes"),
        "txtable.compact_s": mean_ms(lambda x: x == "txtable.compact") / 1000.0,
        "txtable.vacuum_ms": mean_ms(lambda x: x == "txtable.vacuum"),
        "txtable.bytes_written": gauge_mean("bytes_written"),
        "txtable.data_files": gauge_mean("data_files"),
        "txtable.log_files": gauge_mean("log_files"),
        "txtable.scan_fraction": scan_fraction(txreads),
        "txtable.bytes_written_per_input_byte": bytes_written_per_input_byte(
            merge_end_data, gauge_mean("write_bytes"), gauge_mean("base_rows"),
            gauge_mean("rows_submitted")) if has_rows else 0.0,
        "txtable.table_bytes_per_live_byte": table_bytes_per_live_byte(
            merge_end_data, gauge_mean("merge_end_live_bytes")) if merge_end_data else 0.0,
        "streaming.drain_s": mean_ms(lambda x: x.startswith("streaming.")) / 1000.0,
        "streaming.batches": gauge_mean("stream_batches"),
        "trace.overhead_ratio": overhead_ratio(rec["ops"]),
        "trace.coverage": (sum(s["end"] - s["start"] for s in tops) / sum(traced_walls)
                           if traced_walls else 0.0),
    }


def overhead_ratio(ops):
    """Tracing overhead: the median, over operation names measured in both
    phases, of traced median latency / untraced median latency. Per name,
    so an operation that runs cold only in the first (untraced) phase
    shifts one ratio, not the whole figure."""
    by = {}
    for o in ops:
        if o["unit"] >= 0 and o["ok"]:
            by.setdefault(o["name"], ([], []))[1 if o["traced"] else 0].append(o["ms"])
    ratios = [statistics.median(t) / statistics.median(u)
              for u, t in by.values() if u and t]
    return statistics.median(ratios) if ratios else 0.0


def layer_self_ms(rec):
    """Layer -> self milliseconds per traced unit, from the span tree."""
    n = max(sum(1 for u in rec["units"] if u["traced"]), 1)
    st = self_times(rec["spans"])
    out = {}
    for s in rec["spans"]:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]] / n
    return out


def comparable(a, b):
    """Why two result artifacts must not be compared, or None if they may:
    results drawn on different core counts or scale factors measure
    different systems."""
    pa, pb = a["provenance"], b["provenance"]
    for key in ("cpus", "sf", "workload"):
        if pa.get(key) != pb.get(key):
            return f"{key} differs: {pa.get(key)} vs {pb.get(key)}"
    return None

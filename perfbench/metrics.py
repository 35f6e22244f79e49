"""Metric math of the benchmark: summaries of timing samples, self times
from spans, and the end-to-end and per-layer metrics of one run, derived
from the JSON-lines record the JVM harness writes (``record.jsonl``).

Record kinds: ``setup`` (the run's one set-up: session + warm-up), ``unit`` (one
timed unit), ``host``, ``memory``, ``check``, and for traced runs
``span``, ``stage``, ``job``, ``query`` and ``batch``.
"""

import statistics


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def tail_percentile(xs, beyond=10):
    """The highest percentile that still has at least ``beyond`` samples
    above it, as (percentile, value); None with too few samples.  With n
    samples that is the value at sorted index n-beyond-1, the
    100*(n-beyond)/n-th percentile."""
    n = len(xs)
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n, sorted(xs)[n - beyond - 1]


def quartile_spread(xs):
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(n=4)``)."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


def prefix_self(durations):
    """Self times of a chain of forced prefixes: each prefix runs the one
    before it plus one layer, so a layer's self time is its prefix minus
    the previous prefix.  ``durations`` is [(layer, seconds)] in chain
    order; returns {layer: self seconds}."""
    out, prev = {}, 0.0
    for name, d in durations:
        out[name] = d - prev
        prev = d
    return out


def covered(intervals):
    """Total length covered by a list of (start, end) intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def span_self(span, children):
    """A span's duration minus the part of its interval its children
    cover, in the spans' time unit."""
    s, e = span["start_ns"], span["end_ns"]
    clipped = [(max(s, c["start_ns"]), min(e, c["end_ns"])) for c in children
               if c["end_ns"] > s and c["start_ns"] < e]
    return (e - s) - covered(clipped)


def _secs(span):
    return (span["end_ns"] - span["start_ns"]) / 1e9


E2E_UNITS = {"wall_s": "s", "hits_per_s": "hits/s", "setup_s": "s",
             "peak_rss_mb": "MB"}


def end_to_end(records, input_hits):
    """wall_s, hits_per_s, setup_s and peak_rss_mb of an untraced run,
    plus the sample statistics kept in the result file."""
    units = [r for r in records if r["k"] == "unit" and not r["traced"]]
    good = [r["s"] for r in units if r["ok"] and r["s"] is not None]
    setup = next(r["s"] for r in records if r["k"] == "setup")
    mem = next(r for r in records if r["k"] == "memory")
    wall = median(good)
    tail = tail_percentile(good)
    return {
        "wall_s": wall,
        "hits_per_s": input_hits / wall,
        "setup_s": setup,
        "peak_rss_mb": mem["vm_hwm_kb"] / 1024.0,
    }, {
        "wall_samples": good, "wall_n": len(good),
        "wall_spread": quartile_spread(good) if len(good) > 1 else None,
        "wall_tail": None if tail is None else {"pct": tail[0], "s": tail[1]},
        "attempted": len(units), "failed": sum(1 for r in units if not r["ok"]),
    }


# layer chains of forced prefixes, per workload; the last entry is the
# unit's own call that contains every earlier prefix
CHAINS = {
    "feed_export": [("sources.scan_s", "probe.scan"),
                    ("ingest.parse_s", "probe.parse"),
                    ("session.sessionize_s", "probe.sessionize"),
                    ("exports.write_s", "exports.writeAll")],
    "gate_mix": [],
}

PER_LAYER = [
    ("sources.scan_s", "s"), ("sources.rows", "count"),
    ("sources.bytes_read", "bytes"),
    ("ingest.parse_s", "s"), ("ingest.rows_in", "count"),
    ("ingest.rows_out", "count"), ("ingest.keep_ratio", "ratio"),
    ("session.sessionize_s", "s"), ("session.shuffle_write_bytes", "bytes"),
    ("session.shuffle_read_bytes", "bytes"), ("session.spill_bytes", "bytes"),
    ("session.task_skew", "ratio"), ("session.visits", "count"),
    ("exports.write_s", "s"), ("exports.rename_s", "s"),
    ("exports.bytes_written", "bytes"), ("exports.files_written", "count"),
    ("exports.bytes_per_hit", "bytes"), ("exports.cache_bytes", "bytes"),
    ("queries.construct_s", "s"), ("queries.plan_s", "s"),
    ("queries.execute_s", "s"), ("queries.analysis_s", "s"),
    ("queries.optimization_s", "s"), ("queries.planning_s", "s"),
    ("streaming.drain_s", "s"), ("streaming.batches", "count"),
    ("streaming.rows", "count"), ("streaming.trigger_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_s", "s"), ("spark.cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.idle_core_s", "s"),
    ("trace.wall_s", "s"), ("trace.overhead_s", "s"),
    ("trace.unaccounted_s", "s"),
]


def _task_skew(stages):
    """max / median task time of the post-shuffle stage (the one reading
    the most shuffle bytes); 1.0 when there is none."""
    reading = [s for s in stages if s["shuffle_read"] > 0 and s["task_ms"]]
    if not reading:
        return 1.0
    st = max(reading, key=lambda s: s["shuffle_read"])
    med = median(st["task_ms"])
    return max(st["task_ms"]) / med if med > 0 else 1.0


def unit_layers(workload, unit, spans, stages, jobs, queries, batches, cores):
    """Per-layer metrics of one traced unit."""
    by_name = {s["name"]: s for s in spans}
    top = by_name["unit"]
    wall = _secs(top)
    kids = [s for s in spans if s["parent"] == "unit"]
    gates = [s for s in spans if s["parent"] == "gate"]
    unit_groups = {s["group"] for s in kids + gates}

    def in_group(rows, name):
        return [r for r in rows if r["group"] == f"u{unit}/{name}"]

    m = {name: 0.0 for name, _ in PER_LAYER}
    chain = [(layer, _secs(by_name[span])) for layer, span in CHAINS[workload]]
    m.update(prefix_self(chain))
    if workload == "feed_export":
        m["exports.rename_s"] = _secs(by_name["exports.rename"])
        rows_in = by_name["probe.scan"]["rows"]
        rows_out = by_name["probe.parse"]["rows"]
        m["ingest.rows_in"], m["ingest.rows_out"] = rows_in, rows_out
        m["ingest.keep_ratio"] = rows_out / rows_in
        files = by_name["exports.files"]
        m["session.visits"] = files["visits_rows"]
        m["exports.files_written"] = files["files"]
        m["exports.bytes_written"] = sum(
            s["out_bytes"] for s in in_group(stages, "exports.writeAll"))
        m["exports.bytes_per_hit"] = m["exports.bytes_written"] / rows_out
        m["exports.cache_bytes"] = by_name["exports.writeAll"]["cache_peak_bytes"]
    if "probe.scan" in by_name:
        m["sources.rows"] = by_name["probe.scan"]["rows"]
        m["sources.bytes_read"] = sum(
            s["in_bytes"] for s in in_group(stages, "probe.scan"))
    if "probe.sessionize" in by_name:
        sess = in_group(stages, "probe.sessionize")
        m["session.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in sess)
        m["session.shuffle_read_bytes"] = sum(s["shuffle_read"] for s in sess)
        m["session.spill_bytes"] = sum(s["disk_spill"] for s in sess)
        m["session.task_skew"] = _task_skew(sess)

    uq = [q for q in queries if q["group"] in unit_groups]
    ms = lambda key: sum(q[key] for q in uq) / 1000.0
    phases = [s for s in gates if s["name"].startswith("queries.plan/")]
    m["queries.analysis_s"] = ms("analysis_ms") + sum(p["analysis_ms"] for p in phases) / 1000.0
    m["queries.optimization_s"] = ms("optimization_ms") + sum(p["optimization_ms"] for p in phases) / 1000.0
    m["queries.planning_s"] = ms("planning_ms") + sum(p["planning_ms"] for p in phases) / 1000.0
    if workload == "gate_mix":
        for part in ("construct", "plan", "execute"):
            m[f"queries.{part}_s"] = sum(
                _secs(s) for s in gates if s["name"].startswith(f"queries.{part}/"))
    else:
        construct = [s for s in kids if s["name"] in ("sources.rawFeed", "ingest.parse")]
        m["queries.construct_s"] = sum(_secs(s) for s in construct)
        m["queries.plan_s"] = m["queries.optimization_s"] + m["queries.planning_s"]
        m["queries.execute_s"] = sum(_secs(s) for s in kids if s not in construct) \
            - m["queries.plan_s"]

    ub = [b for b in batches if b["group"] in unit_groups]
    m["streaming.batches"] = len(ub)
    m["streaming.rows"] = sum(b["rows"] for b in ub)
    m["streaming.trigger_s"] = sum(b["trigger_ms"] for b in ub) / 1000.0
    per_query = {}
    for b in ub:
        lo, hi = per_query.get(b["query"], (float("inf"), 0))
        per_query[b["query"]] = (min(lo, b["end_ms"] - b["trigger_ms"]), max(hi, b["end_ms"]))
    m["streaming.drain_s"] = sum(hi - lo for lo, hi in per_query.values()) / 1000.0

    # micro-batch jobs run under the stream's own job group, its run id
    groups = unit_groups | {b["query"] for b in ub}
    us = [s for s in stages if s["group"] in groups]
    m["spark.jobs"] = sum(1 for j in jobs if j["group"] in groups)
    m["spark.stages"] = len(us)
    m["spark.tasks"] = sum(s["tasks"] for s in us)
    m["spark.task_s"] = sum(s["run_ms"] for s in us) / 1000.0
    m["spark.cpu_s"] = sum(s["cpu_ns"] for s in us) / 1e9
    m["spark.gc_s"] = sum(s["gc_ms"] for s in us) / 1000.0
    m["spark.shuffle_bytes"] = sum(s["shuffle_write"] for s in us)
    m["spark.spill_bytes"] = sum(s["disk_spill"] for s in us)
    m["spark.idle_core_s"] = wall * cores - m["spark.task_s"]
    m["trace.wall_s"] = wall
    m["trace.unaccounted_s"] = span_self(top, kids + gates) / 1e9
    return m


def per_layer(workload, records, cores):
    """Per-layer metrics of a traced run: the median over its traced units
    of each unit's value, plus the tracing overhead (median traced wall
    minus median untraced wall, both from this run)."""
    kind = lambda k: [r for r in records if r["k"] == k]
    spans, stages, jobs = kind("span"), kind("stage"), kind("job")
    queries, batches = kind("query"), kind("batch")
    units = kind("unit")
    traced = [u for u in units if u["traced"] and u["ok"]]
    plain = [u["s"] for u in units if not u["traced"] and u["ok"]]
    per_unit = [unit_layers(workload, u["i"], [s for s in spans if s["unit"] == u["i"]],
                            stages, jobs, queries, batches, cores) for u in traced]
    m = {name: median([p[name] for p in per_unit]) for name, _ in PER_LAYER}
    m["trace.overhead_s"] = m["trace.wall_s"] - median(plain)
    return m, per_unit

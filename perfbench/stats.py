"""Turns one raw workload record into the benchmark's metrics.

The Scala side (perfbench.Main) only runs the workload and records what
happened: set-up time, every operation with its wall time and observed
output, and, in a traced run, the spans and the Spark work charged to
each span's job group. Everything here is plain Python so it can be
unit-tested without Spark.
"""
import math
import statistics

# ---------------------------------------------------------------- statistics


def median(values):
    values = list(values)
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def quartiles(values):
    """First quartile, median and third quartile, as statistics.quantiles gives them."""
    values = list(values)
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values):
    """Distance between the first and third quartile, as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n):
    """The highest percentile of LADDER with at least ten of `n` samples
    above it, or None when even the median has fewer."""
    for p in LADDER:
        if n * (100.0 - p) / 100.0 >= 10:
            return p
    return None


def percentile(values, p):
    """Linear-interpolated percentile (0..100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


# ------------------------------------------------------------ span intervals


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by `intervals` (pairs), clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


COUNTERS = ("jobs", "stages", "tasks", "exec_cpu_ms", "exec_gc_ms", "shuffle_bytes",
            "spill_bytes", "output_bytes")


def span_table(spans, groups):
    """Per span id: name, wall, self and driver time, and the Spark work of
    its whole subtree. Driver time is the wall time during which none of
    the subtree's jobs was running."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree(s):
        out = [s]
        for c in kids.get(s["id"], []):
            out.extend(subtree(c))
        return out

    table = {}
    for s in spans:
        members = subtree(s)
        gs = [groups.get(m["group"], {}) for m in members]
        jobs = [iv for g in gs for iv in g.get("job_intervals", [])]
        row = {c: sum(g.get(c, 0) for g in gs) for c in COUNTERS}
        row["peak_exec_mem_mb"] = max([g.get("peak_exec_mem_mb", 0.0) for g in gs] or [0.0])
        wall = s["end"] - s["start"]
        row.update(name=s["name"], parent=s["parent"], wall_ms=wall,
                   self_ms=self_ms(s, kids.get(s["id"], [])),
                   driver_ms=wall - union_length(jobs, s["start"], s["end"]))
        row.update(s.get("attrs", {}))
        table[s["id"]] = row
    return table, by_id


def op_of(span_id, by_id):
    """The root span (one operation) a span belongs to."""
    s = by_id[span_id]
    while s["parent"] in by_id:
        s = by_id[s["parent"]]
    return s["id"]


# -------------------------------------------------------------- correctness


def check_op(workload, op, pins):
    """None when the operation's output is right, else why it is wrong."""
    if "error" in op:
        return "error: " + op["error"]
    obs = op.get("observed", {})
    if workload == "ingest":
        exp = pins["ingest"].get(str(op["salt"]))
        if exp is None:
            return "no pin for salt %s" % op["salt"]
        got = [obs["rows"], obs["tokens"], obs["nulls"]]
        if got != exp:
            return "write stats %s, expected %s" % (got, exp)
        if obs["reread"] != obs["rows"]:
            return "re-read %s passages, wrote %s" % (obs["reread"], obs["rows"])
    elif workload == "ask":
        if obs.get("answer") != op.get("expected", {}).get("answer"):
            return "answer differs from the batched retrieve"
    elif workload == "catalog" and op["key"] == "flow":
        exp = pins["flow"]
        if obs["passages"] != exp["passages"]:
            return "indexed %s passages, expected %s" % (obs["passages"], exp["passages"])
        if abs(obs["recall_at_10"] - exp["recall_at_10"]) > 1e-12 or obs["recall_at_10"] < 0.80:
            return "recall@10 %s, expected %s" % (obs["recall_at_10"], exp["recall_at_10"])
    elif workload == "catalog":
        exp = pins["catalog"].get(op["key"])
        if exp is None:
            return "no pin for %s" % op["key"]
        if obs.get("hash") != exp:
            return "result hash %s, expected %s" % (obs.get("hash"), exp)
    else:
        return "unknown workload %s" % workload
    return None


def checked_ops(raw, pins):
    """Every operation that counts toward `attempted`, with its failure (or None)."""
    ops = list(raw["ops"])
    if raw["workload"] == "catalog":
        ops += raw["info"].get("setup_calls", [])
    return [(op, check_op(raw["workload"], op, pins)) for op in ops]


def failed_fraction(checked):
    return sum(1 for _, why in checked if why) / len(checked) if checked else 1.0


# ------------------------------------------------------------------ metrics


def op_times(raw, traced):
    """Wall time of each successful operation; a catalog pass is one
    operation for timing (its rows' times summed)."""
    ops = [o for o in raw["ops"] if o.get("traced") == traced and "error" not in o]
    if raw["workload"] != "catalog":
        return [(o["ms"], o["items"]) for o in ops]
    passes = {}
    for o in ops:
        ms, items = passes.get(o["op"], (0.0, 0))
        passes[o["op"]] = (ms + o["ms"], items + o["items"])
    return list(passes.values())


def end_to_end(raw):
    times = op_times(raw, traced=False)
    if not times:
        raise ValueError("no successful untraced operation")
    return {
        "setup_s": (raw["setup_s"], "s"),
        "op_p50_ms": (median(t for t, _ in times), "ms"),
        "throughput_per_s": (1000.0 * sum(i for _, i in times) / sum(t for t, _ in times), "1/s"),
        "peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB"),
    }


# per workload: metric names "<span>.<field>", each the median over traced
# operations; the flow's own span is the catalog entry that runs it
SPAN_OF = {"flow": "catalog.row.flow"}
LAYERS = {
    "ingest": [
        "text.clean.self_ms", "text.clean.exec_cpu_ms", "text.chunk.self_ms",
        "text.chunk.exec_cpu_ms", "text.chunk.passages", "embed.batch.self_ms",
        "embed.batch.exec_cpu_ms", "pipeline.write.self_ms", "pipeline.write.jobs",
        "pipeline.write.tasks", "pipeline.write.output_bytes", "pipeline.write.files",
        "ingest.gc_ms", "ingest.driver_ms",
    ],
    "ask": [
        "embed.query.self_ms", "query.retrieve.self_ms", "query.retrieve.jobs",
        "query.retrieve.stages", "query.retrieve.tasks", "query.retrieve.driver_ms",
        "query.retrieve.exec_cpu_ms", "query.retrieve.rows_scored_per_result",
        "query.pack.self_ms", "query.pack.jobs",
    ],
    "flow": [
        "query.build_index.self_ms", "query.build_index.jobs", "query.build_index.exec_cpu_ms",
        "dedup.jaccard_pairs.self_ms", "dedup.jaccard_pairs.jobs",
        "dedup.jaccard_pairs.exec_cpu_ms", "dedup.jaccard_pairs.shuffle_bytes",
        "dedup.jaccard_pairs.spill_bytes", "dedup.jaccard_pairs.pairs",
        "query.retrieve_batch.self_ms", "query.retrieve_batch.jobs",
        "query.retrieve_batch.exec_cpu_ms", "query.retrieve_batch.shuffle_bytes",
        "query.retrieve_batch.peak_exec_mem_mb", "query.retrieve_batch.rows_scored_per_result",
        "pipeline.gate.self_ms", "pipeline.gate.jobs", "pipeline.gate.recall_at_10",
        "flow.gc_ms", "flow.driver_ms",
    ],
}

CATALOG_ROWS = {
    "q69_bucketed_neardup": "ScaleOps",
    "q84_rrf_fusion": "TextOps",
    "q180_kcore": "Graph",
    "q169_term_salience": "OtherOps",
    "q183_ivfpq": "Pq",
    "q70_stream_asof": "Events",
    "q181_month_rebuild": "Ingest",
    "flow": "Flow",
}
CATALOG_GROUPS = ("ScaleOps", "TextOps", "Graph", "OtherOps", "Pq", "Events", "Ingest", "Flow")
CATALOG_TOTALS = ("jobs", "stages", "tasks", "tasks_per_job", "driver_ms", "exec_cpu_ms",
                  "shuffle_bytes", "gc_ms")
STREAMING = ("batches", "add_batch_ms", "commit_ms", "planning_ms", "state_rows")
WORKLOADS = ("ingest", "ask", "catalog")
# per workload: traced metrics that read 0 only when the listener behind
# them misses the work (the plan walk finds no query x passage cross join)
MUST_BE_POSITIVE = {
    "ask": ("query.retrieve.rows_scored_per_result",),
    "catalog": ("query.retrieve_batch.rows_scored_per_result",),
}


def per_layer_names():
    names = [n for w in ("ingest", "ask", "flow") for n in LAYERS[w]]
    names += ["catalog.%s.%s" % (g, f) for g in CATALOG_GROUPS
              for f in ("self_ms", "jobs", "tasks", "driver_ms")]
    names += ["catalog.%s" % f for f in CATALOG_TOTALS]
    names += ["streaming.%s" % f for f in STREAMING]
    names += ["catalog.%s.jobs" % r for r in CATALOG_ROWS]
    names += ["catalog.%s.first_call_jobs" % r for r in CATALOG_ROWS]
    names += ["trace.overhead_pct.%s" % w for w in WORKLOADS]
    names.append("trace.job_count_flaps")
    return names


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_pct") or ".overhead_pct." in name:
        return "%"
    if name.endswith("recall_at_10") or name.endswith("_per_result") or name.endswith("_per_job"):
        return "ratio"
    return "count"


def _per_op(table, by_id):
    """For each timed, traced operation's root span id: {span name: [span
    rows]}. First calls (the catalog's set-up pass) are left out."""
    per = {}
    for sid, row in table.items():
        root = op_of(sid, by_id)
        if not by_id[root]["name"].startswith("catalog.first."):
            per.setdefault(root, {}).setdefault(row["name"], []).append(row)
    return per


def _field(row, field):
    if field == "rows_scored_per_result":
        return row.get("rows_scored", 0.0) / max(row.get("results", 0.0), 1.0)
    return row.get(field, 0.0)


def _row_name(span_name):
    return span_name.split(".", 2)[2]


def _catalog_pass(rows):
    """Per-layer values of one traced catalog pass, from its row spans."""
    m = {}
    for g in CATALOG_GROUPS:
        gs = [r for r in rows if CATALOG_ROWS.get(_row_name(r["name"])) == g]
        for f in ("self_ms", "jobs", "tasks", "driver_ms"):
            m["catalog.%s.%s" % (g, f)] = sum(r[f] for r in gs)
    for f in CATALOG_TOTALS:
        if f != "tasks_per_job":
            m["catalog." + f] = sum(r.get(f, 0.0) for r in rows)
    m["catalog.tasks_per_job"] = m["catalog.tasks"] / max(m["catalog.jobs"], 1)
    for f in STREAMING:
        m["streaming." + f] = sum(r.get("stream_" + f, 0.0) for r in rows)
    for r in rows:
        m["catalog.%s.jobs" % _row_name(r["name"])] = r["jobs"]
    return m


def per_layer(raw):
    """Every per-layer metric, each the median over the run's traced
    operations; layers the workload does not run read 0."""
    w = raw["workload"]
    out = {n: 0.0 for n in per_layer_names()}
    table, by_id = span_table(raw["spans"], raw.get("groups", {}))
    per = _per_op(table, by_id)
    for name in LAYERS["flow" if w == "catalog" else w]:
        span, field = name.rsplit(".", 1)
        span = SPAN_OF.get(span, span)
        vals = [sum(_field(r, field) for r in p[span]) for p in per.values() if span in p]
        if vals:
            out[name] = median(vals)
    if w == "catalog":
        if raw["info"]["groups"] != CATALOG_ROWS:
            raise ValueError("catalog entries differ from CATALOG_ROWS: %s" % raw["info"]["groups"])
        passes = {}
        for r in table.values():
            if r["name"].startswith("catalog.row."):
                passes.setdefault(r["pass"], []).append(r)
            elif r["name"].startswith("catalog.first."):
                out["catalog.%s.first_call_jobs" % _row_name(r["name"])] = r["jobs"]
        agg = {}
        for rows in passes.values():
            for k, v in _catalog_pass(rows).items():
                agg.setdefault(k, []).append(v)
        for k, vs in agg.items():
            out[k] = median(vs)
    untraced = [t for t, _ in op_times(raw, traced=False)]
    traced = [t for t, _ in op_times(raw, traced=True)]
    if untraced and traced:
        out["trace.overhead_pct." + w] = 100.0 * (median(traced) - median(untraced)) / median(untraced)
    out["trace.job_count_flaps"] = float(len(job_count_flaps(per)))
    return out


def job_count_flaps(per):
    """Span names whose job count differs between the traced, timed
    operations of one run, given `_per_op`'s grouping."""
    seen = {}
    for spans in per.values():
        for name, rows in spans.items():
            seen.setdefault(name, set()).update(r["jobs"] for r in rows)
    return sorted(n for n, js in seen.items() if len(js) > 1)


def flapping_spans(raw):
    return job_count_flaps(_per_op(*span_table(raw["spans"], raw.get("groups", {}))))

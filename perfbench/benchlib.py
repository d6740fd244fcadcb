"""Pure functions of the benchmark: percentiles, span self-time, output
comparison and metric derivation. `run.py` drives them; `test_benchlib.py`
tests them without Spark."""
import math
import statistics
from collections import Counter, defaultdict

# ---------------------------------------------------------------- percentiles


def percentile(values, q):
    """Linear-interpolated percentile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty list")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ---------------------------------------------------------------- self time


def union_length(intervals):
    """Total length covered by a list of (start, end) intervals."""
    total = 0.0
    end = -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    """Self time (ms) per span id: its duration minus the union of its
    children's intervals, each clipped to the parent."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        inner = [(max(a, c["start_ms"]), min(b, c["end_ms"]))
                 for c in children.get(s["id"], [])]
        inner = [(x, y) for x, y in inner if y > x]
        out[s["id"]] = max(0.0, (b - a) - union_length(inner))
    return out


def self_time_by_kind(spans):
    """Self time in seconds summed per span kind."""
    st = self_times(spans)
    acc = defaultdict(float)
    for s in spans:
        acc[s["kind"]] += st[s["id"]] / 1e3
    return dict(acc)

# ---------------------------------------------------------------- comparison


def canon_value(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(canon_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon_value(x)) for k, x in v.items()))
    return v


def canon_type(t):
    """Arrow type as a string, with cosmetic spellings unified."""
    import pyarrow as pa
    if pa.types.is_dictionary(t):
        t = t.value_type
    s = str(t)
    if s == "large_string":
        return "string"
    if s == "large_binary":
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_type(t.value_type)}>"
    if pa.types.is_timestamp(t):
        return f"timestamp[{t.unit},{'tz' if t.tz is not None else 'ntz'}]"
    return s


def compare_tables(got, exp):
    """Exact multiset comparison of two arrow tables: same column names,
    same canonical types, same rows (columns matched by name). Returns
    (ok, message)."""
    gc, ec = sorted(got.column_names), sorted(exp.column_names)
    if gc != ec:
        return False, f"columns differ: got={gc} expected={ec}"
    gt = [canon_type(got.schema.field(c).type) for c in gc]
    et = [canon_type(exp.schema.field(c).type) for c in ec]
    if gt != et:
        diff = [(c, a, b) for c, a, b in zip(gc, gt, et) if a != b]
        return False, f"types differ (column, got, expected): {diff}"
    if got.num_rows != exp.num_rows:
        return False, f"row count got={got.num_rows} expected={exp.num_rows}"

    def rows(t):
        cols = [t.column(c).to_pylist() for c in gc]
        return Counter(tuple(canon_value(v) for v in r) for r in zip(*cols))
    g, e = rows(got), rows(exp)
    if g != e:
        missing = list((e - g).elements())[:2]
        extra = list((g - e).elements())[:2]
        n = sum((e - g).values())
        return False, (f"{n} of {exp.num_rows} rows differ; "
                       f"expected-only {missing}; got-only {extra}")
    return True, f"{got.num_rows} rows"


def read_tsv(path):
    with open(path, encoding="utf-8") as f:
        header = f.readline().rstrip("\n").split("\t")
        return [dict(zip(header, line.rstrip("\n").split("\t"))) for line in f]


def check_windows(sink, expected, watermark_ms, rel_tol=1e-9):
    """Backfill check. `sink` holds the windows the stream emitted,
    `expected` the same aggregation over the batch read. Every window that
    closed (end <= final watermark) must be emitted exactly once with the
    batch counts; no open window may be emitted. Window sums are doubles
    added in a different order by the stream, so they match to `rel_tol`.
    Returns a list of mismatch descriptions (empty when correct)."""
    hour_us = 3600 * 1000000
    wm_us = watermark_ms * 1000

    def key(r):
        return (int(r["w_start_us"]), r["event_type"])
    closed = {key(r): r for r in expected if key(r)[0] + hour_us <= wm_us}
    errors = []
    seen = Counter(key(r) for r in sink)
    errors += [f"window {k} emitted {n} times" for k, n in seen.items() if n > 1]
    for r in sink:
        k = key(r)
        e = closed.get(k)
        if e is None:
            errors.append(f"window {k} emitted but not closed or not expected")
            continue
        if int(r["n"]) != int(e["n"]):
            errors.append(f"window {k}: n={r['n']} expected {e['n']}")
        a, b = float(r["total_value"]), float(e["total_value"])
        if abs(a - b) > rel_tol * max(abs(a), abs(b), 1.0):
            errors.append(f"window {k}: total={a} expected {b}")
    errors += [f"closed window {k} never emitted" for k in closed if k not in seen]
    return errors


def check_first_per_key(sink, events, keys=("user_id", "event_type")):
    """Live-stream check: dedup must emit exactly the first generated event
    of every key, each once. Returns a list of mismatch descriptions."""
    first = {}
    for e in sorted(events, key=lambda e: int(e["event_id"])):
        first.setdefault(tuple(e[k] for k in keys), e)
    errors = []
    got = {}
    for r in sink:
        k = tuple(r[k] for k in keys)
        if k in got:
            errors.append(f"key {k} emitted twice")
        got[k] = r
    for k, e in first.items():
        r = got.get(k)
        if r is None:
            errors.append(f"key {k} never emitted")
        elif (r["event_id"], r["ts_us"], float(r["value"])) != \
                (e["event_id"], e["ts_us"], float(e["value"])):
            errors.append(f"key {k}: emitted event {r['event_id']}, "
                          f"first is {e['event_id']}")
    errors += [f"key {k} emitted but never generated" for k in got if k not in first]
    return errors

# ---------------------------------------------------------------- metrics

END_TO_END = [
    ("wall_s", "s"), ("op_p50_ms", "ms"), ("op_p95_ms", "ms"),
    ("latency_p50_ms", "ms"), ("latency_p95_ms", "ms"),
    ("throughput_per_s", "1/s"), ("heap_retained_mb", "MB"), ("setup_s", "s"),
]


def per_operation(lists):
    """One value per operation: when every repetition made the same number
    of operations, each operation's median over the repetitions; otherwise
    all values pooled. Percentiles are then taken across operations, so one
    slow repetition cannot move a tail percentile."""
    if not lists:
        return []
    if len({len(xs) for xs in lists}) == 1:
        return [statistics.median(col) for col in zip(*lists)]
    return [x for xs in lists for x in xs]


def end_to_end(raw):
    """End-to-end metrics from the timed repetitions of an untraced run."""
    reps = [r for r in raw["reps"] if r["kind"] == "timed"]
    ops = per_operation([r["ops_ms"] for r in reps])
    lat = per_operation([r["latency"] for r in reps])
    return {
        "wall_s": statistics.median(r["wall_s"] for r in reps),
        "op_p50_ms": percentile(ops, 0.50),
        "op_p95_ms": percentile(ops, 0.95),
        "latency_p50_ms": percentile(lat, 0.50),
        "latency_p95_ms": percentile(lat, 0.95),
        "throughput_per_s": statistics.median(r["items"] / r["wall_s"] for r in reps),
        "heap_retained_mb": statistics.median(r["heap_mb"] for r in reps),
        "setup_s": raw["startup_s"] + statistics.median(r["setup_s"] for r in reps),
    }


SPAN_KINDS = ["run", "query", "construct", "exec", "tables", "analysis",
              "optimization", "planning", "job", "stage", "trigger",
              "latestOffset", "walCommit", "getBatch", "queryPlanning",
              "addBatch", "commitOffsets"]

PER_LAYER = [
    ("tables.resolve_s", "s"), ("tables.jobs", "count"),
    ("construct.s", "s"), ("construct.jobs", "count"), ("construct.task_s", "s"),
    ("memo.pinned_rdds", "count"),
    ("plan.analysis_s", "s"), ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_s", "s"), ("exec.core_util", "ratio"),
    ("exec.shuffle_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
    ("exec.skew", "ratio"), ("exec.gc_s", "s"),
    ("source.latest_offset_ms", "ms"), ("source.get_batch_ms", "ms"),
    ("source.tasks_per_trigger", "count"),
    ("sink.add_batch_ms", "ms"), ("sink.captured_rows", "count"),
    ("sink.aborts", "count"),
    ("stream.wal_commit_ms", "ms"), ("stream.commit_offsets_ms", "ms"),
    ("stream.query_planning_ms", "ms"),
    ("state.rows_total", "count"), ("state.memory_bytes", "bytes"),
    ("state.commit_ms", "ms"), ("state.rows_dropped_late", "count"),
    ("watermark.lag_ms", "ms"),
] + [(f"self.{k}_s", "s") for k in SPAN_KINDS] + [
    ("trace.base_wall_s", "s"), ("trace.overhead_s", "s"), ("trace.overhead_pct", "%"),
    ("trace.overhead_spread_s", "s"), ("trace.overhead_resolved", "count"),
]


def _median0(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def _layer(span, by_id, kinds=("tables", "construct", "exec", "addBatch", "trigger")):
    """Nearest enclosing layer span kind; streaming jobs count as exec."""
    s = span
    while s is not None:
        if s["kind"] in kinds:
            return "exec" if s["kind"] in ("addBatch", "trigger") else s["kind"]
        s = by_id.get(s["parent"])
    return None


def rep_layers(rep, cores):
    """Per-layer metrics of one traced repetition."""
    spans = rep["spans"]
    by_id = {s["id"]: s for s in spans}
    dur = lambda s: (s["end_ms"] - s["start_ms"]) / 1e3  # noqa: E731
    of = lambda kind: [s for s in spans if s["kind"] == kind]  # noqa: E731
    jobs = defaultdict(list)
    for s in of("job"):
        jobs[_layer(s, by_id)].append(s)
    stages = defaultdict(list)
    for s in of("stage"):
        stages[_layer(s, by_id)].append(s)
    ex = stages["exec"]
    streaming = bool(of("trigger"))
    exec_s = sum(dur(s) for s in of("addBatch" if streaming else "exec"))
    task_s = sum(s["task_s"] for s in ex)
    skews = [s["skew"] for s in ex if s["tasks"] >= 2]
    layers = rep.get("layers", {})
    trig = layers.get("triggers", [])
    dm = lambda k: _median0(t["duration_ms"].get(k) for t in trig)  # noqa: E731

    # source tasks per trigger: tasks of source stages under each trigger
    src_tasks = []
    for t in of("trigger"):
        n = 0
        for s in of("stage"):
            p = by_id.get(s["parent"])
            while p is not None and p["kind"] != "trigger":
                p = by_id.get(p["parent"])
            if p is t and s["source"]:
                n += s["tasks"]
        src_tasks.append(n)
    out = {
        "tables.resolve_s": sum(dur(s) for s in of("tables")),
        "tables.jobs": len(jobs["tables"]),
        "construct.s": sum(dur(s) for s in of("construct")),
        "construct.jobs": len(jobs["construct"]),
        "construct.task_s": sum(s["task_s"] for s in stages["construct"]),
        "memo.pinned_rdds": layers.get("memo.pinned_rdds", 0),
        "plan.analysis_s": sum(dur(s) for s in of("analysis")),
        "plan.optimization_s": sum(dur(s) for s in of("optimization")),
        "plan.planning_s": sum(dur(s) for s in of("planning")),
        "exec.s": exec_s,
        "exec.jobs": len(jobs["exec"]),
        "exec.stages": len(ex),
        "exec.tasks": sum(s["tasks"] for s in ex),
        "exec.task_s": task_s,
        "exec.core_util": task_s / (exec_s * cores) if exec_s > 0 else 0.0,
        "exec.shuffle_bytes": sum(s["shuffle_bytes"] for s in ex),
        "exec.spill_bytes": sum(s["spill_bytes"] for s in ex),
        "exec.skew": max(skews) if skews else 1.0,
        "exec.gc_s": sum(s["gc_s"] for s in ex),
        "source.latest_offset_ms": dm("latestOffset"),
        "source.get_batch_ms": dm("getBatch"),
        "source.tasks_per_trigger": statistics.mean(src_tasks) if src_tasks else 0.0,
        "sink.add_batch_ms": dm("addBatch"),
        "sink.captured_rows": layers.get("sink.captured_rows", 0),
        "sink.aborts": layers.get("sink.aborts", 0),
        "stream.wal_commit_ms": dm("walCommit"),
        "stream.commit_offsets_ms": dm("commitOffsets"),
        "stream.query_planning_ms": dm("queryPlanning"),
        "state.rows_total": trig[-1]["state_rows"] if trig else 0,
        "state.memory_bytes": max((t["state_memory_bytes"] for t in trig), default=0),
        "state.commit_ms": _median0(t["state_commit_ms"] for t in trig),
        "state.rows_dropped_late": sum(t["state_dropped_late"] for t in trig),
        "watermark.lag_ms": _median0(t["watermark_lag_ms"] for t in trig),
    }
    st = self_time_by_kind(spans)
    out.update({f"self.{k}_s": st.get(k, 0.0) for k in SPAN_KINDS})
    return out


def tracing_overhead(reps):
    """Tracing overhead from consecutive (untraced, traced) pairs of
    repetitions, in either order: the median paired difference of wall
    time, the spread of those differences (inter-quartile range), and
    whether the median exceeds the spread (1) or is lost in it (0)."""
    paired = [r for r in reps if r["kind"] in ("untraced", "traced")]
    pairs = [paired[j:j + 2] for j in range(0, len(paired) - 1, 2)]
    if not pairs or any({r["kind"] for r in p} != {"untraced", "traced"} for p in pairs):
        raise ValueError("traced run without untraced/traced pairs")
    wall = lambda p, kind: next(r["wall_s"] for r in p if r["kind"] == kind)  # noqa: E731
    diffs = [wall(p, "traced") - wall(p, "untraced") for p in pairs]
    base = statistics.median(wall(p, "untraced") for p in pairs)
    over = statistics.median(diffs)
    if len(diffs) >= 2:
        q1, _, q3 = statistics.quantiles(diffs, n=4, method="inclusive")
        spread = q3 - q1
    else:
        spread = math.inf
    return {"trace.base_wall_s": base, "trace.overhead_s": over,
            "trace.overhead_pct": 100.0 * over / base,
            "trace.overhead_spread_s": spread,
            "trace.overhead_resolved": 1 if abs(over) > spread else 0}


def per_layer(raw):
    """Per-layer metrics of a traced run: the median over traced
    repetitions, plus the tracing overhead (`tracing_overhead`)."""
    traced = [r for r in raw["reps"] if r["kind"] == "traced"]
    per = [rep_layers(r, raw["cores"]) for r in traced]
    out = {name: statistics.median(p[name] for p in per) for name, _ in PER_LAYER
           if not name.startswith("trace.")}
    out.update(tracing_overhead(raw["reps"]))
    return out

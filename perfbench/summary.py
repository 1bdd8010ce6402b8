"""Turns the JVM's raw run record into the benchmark's metrics.

Pure functions over plain dicts, so the arithmetic is testable without a
JVM: medians and sample counts, call-site-to-layer attribution, span self
time, time outside Spark jobs, and the failed-operation fraction.
"""

import statistics

# Layers reported per layer, named after the engine's modules.
LAYERS = [
    "run.SyncRunner",
    "sync.Planner",
    "sync.Apply",
    "sync.LakeTable",
    "sync.ChangeLog",
    "ext.Dedup",
    "ext.CorpusAnalysis",
    "ext.Similarity",
]

# Source files folded into a reported layer (package.File -> layer).
FOLD = {
    "run.Appliers": "run.SyncRunner",
    "sync.LakeFs": "sync.LakeTable",
    "sync.ParquetStats": "sync.LakeTable",
    "sync.ZOrder": "sync.LakeTable",
    "sync.Classify": "sync.Apply",
}

# Per-layer counters: (metric suffix, unit, stage-record field, scale).
STAGE_FIELDS = [
    ("jobs", "count", None, 1),
    ("tasks", "count", "tasks", 1),
    ("exec_cpu_s", "s", "cpu_ns", 1e-9),
    ("exec_run_s", "s", "run_ms", 1e-3),
    ("wait_s", "s", "wait_ms", 1e-3),
    ("input_mb", "MB", "in_bytes", 1 / 1048576),
    ("output_mb", "MB", "out_bytes", 1 / 1048576),
    ("shuffle_write_mb", "MB", "shuffle_write_bytes", 1 / 1048576),
    ("spill_mb", "MB", "spill_bytes", 1 / 1048576),
    ("task_failures", "count", "failures", 1),
]

# Layers the benchmark calls directly; their op-span time is reported.
CALLED = ["run.SyncRunner", "sync.LakeTable", "ext.Dedup", "ext.CorpusAnalysis", "ext.Similarity"]

# Timed operation slots every workload fills (the workload names them).
SLOTS = ["op1", "op2", "op3", "op4", "op5", "op6"]

OTHER = "other"
BENCH = "bench"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def timing(xs):
    """Median, sample count and samples, plus the highest of p99/p90 that
    has at least ten samples beyond it (None when there are too few)."""
    out = {"median": median(xs), "n": len(xs), "high": None, "samples": list(xs)}
    for p in (99, 90):
        if len(xs) * (100 - p) / 100 >= 10:
            out["high"] = {"p": p, "value": statistics.quantiles(xs, n=100)[p - 1]}
            break
    return out


def layer_of_frame(frame):
    """'graft.sync.Planner$.probe(Planner.scala:42)' -> 'sync.Planner'.

    The layer is the frame's package under `graft.` plus its source file,
    folded by FOLD; anything outside LAYERS is OTHER."""
    if not frame.startswith("graft.") or "(" not in frame:
        return OTHER
    package = frame[len("graft."):].split("(")[0].split(".")[0]
    source = frame.split("(")[1].split(".scala")[0].split(":")[0]
    name = FOLD.get(f"{package}.{source}", f"{package}.{source}")
    return name if name in LAYERS else OTHER


def execution_frames(stages):
    """SQL execution id -> the call-site frames of its first stage that has
    any. Stages submitted from Spark's own threads (broadcast builds) carry
    no user frames; they inherit their query's."""
    out = {}
    for st in sorted(stages, key=lambda s: s["stage"]):
        if st.get("frames") and st.get("execution"):
            out.setdefault(st["execution"], st["frames"])
    return out


def stage_layer(stage, spans_by_id, exec_frames=None):
    """The layer a stage's work is charged to, when the stage ran inside a
    timed operation: the innermost `graft.` frame of its call site (or of
    its query's, see execution_frames); failing that, the layer the
    benchmark called (a lazy result executed by the benchmark's own sink).
    Stages outside operations (checks) go to BENCH."""
    span = spans_by_id.get(stage["span"])
    if span is None or span["kind"] != "op":
        return BENCH
    frames = stage.get("frames") or (exec_frames or {}).get(stage.get("execution"), [])
    if frames:
        return layer_of_frame(frames[0])
    return span["layer"] if span["layer"] in LAYERS else OTHER


def self_times(spans):
    """Span id -> self time in ms: its duration minus the part of that
    interval its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered(kids)
    return out


def covered(intervals):
    """Total length of the union of [start, end] intervals."""
    total, end = 0.0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def outside_jobs_ms(span, jobs):
    """Time inside `span` during which none of its Spark jobs ran."""
    mine = [(max(j["start_ms"], span["start_ms"]), min(j["end_ms"], span["end_ms"]))
            for j in jobs if j["span"] == span["id"]]
    return (span["end_ms"] - span["start_ms"]) - covered(mine)


def failed_fraction(ops):
    """Operations that failed (wrong mode, wrong output, exception) over
    operations attempted; (failed, attempted, fraction)."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    return failed, attempted, (failed / attempted if attempted else 0.0)


def per_layer(raw, traced_passes):
    """Per-layer metrics, per traced pass."""
    n = max(1, len(traced_passes))
    spans = raw.get("spans", [])
    by_id = {s["id"]: s for s in spans}
    totals = {(layer, f[0]): 0.0 for layer in LAYERS + [OTHER] for f in STAGE_FIELDS}
    stage_layers = {}
    exec_frames = execution_frames(raw.get("stages", []))
    for st in raw.get("stages", []):
        layer = stage_layer(st, by_id, exec_frames)
        stage_layers[st["stage"]] = layer
        if layer == BENCH:
            continue
        for name, _, field, scale in STAGE_FIELDS:
            if field:
                totals[(layer, name)] += st[field] * scale
    for job in raw.get("jobs", []):
        if job["stages"]:
            layer = stage_layers.get(max(job["stages"]), BENCH)
            if layer != BENCH:
                totals[(layer, "jobs")] += 1

    m = {}
    for layer in LAYERS:
        for name, unit, _, _ in STAGE_FIELDS:
            m[f"{layer}.{name}"] = (totals[(layer, name)] / n, unit)
    m[f"{OTHER}.jobs"] = (totals[(OTHER, "jobs")] / n, "count")
    m[f"{OTHER}.exec_cpu_s"] = (totals[(OTHER, "exec_cpu_s")] / n, "s")

    ops = [s for s in spans if s["kind"] == "op"]
    selfs = self_times(spans)
    for layer in CALLED:
        m[f"{layer}.span_s"] = (sum(selfs[s["id"]] for s in ops if s["layer"] == layer) / 1e3 / n, "s")
    m["bench.pass_self_s"] = (sum(selfs[s["id"]] for s in spans if s["kind"] == "pass") / 1e3 / n, "s")
    m["driver.self_s"] = (sum(outside_jobs_ms(s, raw.get("jobs", [])) for s in ops) / 1e3 / n, "s")
    m["driver.plan_s"] = (sum(p["plan_ms"] for p in raw.get("plans", [])
                              if any(s["start_ms"] <= p["start_ms"] <= s["end_ms"] for s in ops)) / 1e3 / n, "s")
    m["driver.gc_s"] = (sum(p["gc_s"] for p in traced_passes) / n, "s")
    files = sum(p["files_written"] for p in traced_passes)
    fbytes = sum(p["file_bytes_written"] for p in traced_passes)
    m["sync.LakeTable.files_written"] = (files / n, "count")
    m["sync.LakeTable.mean_file_mb"] = (fbytes / files / 1048576 if files else 0.0, "MB")
    return m


def slot_times(passes, slot):
    return [o["s"] for p in passes for o in p["ops"] if o["slot"] == slot]


def bytes_per_row(passes, field, rows):
    return median([sum(o[field] for o in p["ops"]) / rows for p in passes])


def summarize(raw):
    """-> (end_to_end, per_layer, detail, failed, attempted).

    Metric dicts map name -> (value, unit). End-to-end metrics come from the
    untraced timed passes; per-layer ones from the traced passes. The
    detail line repeats them under the workload's operation names."""
    timed = [p for p in raw["passes"] if p["kind"] == "timed"]
    plain = [p for p in timed if not p["traced"]]
    traced = [p for p in timed if p["traced"]]
    rows = raw["source_rows"]
    all_ops = [o for p in raw["passes"] for o in p["ops"]]
    failed, attempted, frac = failed_fraction(all_ops)

    e2e = {
        "setup_s": (raw["session_start_s"] + median(raw["setup_s"]), "s"),
        "pass_s": (median([p["pass_s"] for p in plain]), "s"),
        "user_cpu_s": (median([p["user_cpu_s"] for p in plain]), "s"),
        "peak_heap_mb": (median([p["peak_heap_mb"] for p in plain]), "MB"),
        **{f"{slot}_s": (median(slot_times(plain, slot)), "s") for slot in SLOTS},
        "read_bytes_per_row": (bytes_per_row(plain, "in_bytes", rows), "B/row"),
    }

    layers = {}
    if raw["trace"]:
        layers = per_layer(raw, traced)
        layers["sync.LakeTable.write_bytes_per_row"] = (bytes_per_row(timed, "out_bytes", rows), "B/row")
        traced_pass = median([p["pass_s"] for p in traced])
        layers["trace.pass_s"] = (traced_pass, "s")
        layers["trace.overhead_s"] = (traced_pass - e2e["pass_s"][0], "s")

    # The same numbers under the names each workload gives its operations.
    named = {"setup_s": e2e["setup_s"], "pass_s": e2e["pass_s"],
             "user_cpu_s": e2e["user_cpu_s"], "peak_heap_mb": e2e["peak_heap_mb"],
             "ops_failed_frac": (frac, "ratio")}
    for slot, name in sorted(raw["slots"].items()):
        named[name] = e2e[f"{slot}_s"]
    named["read_bytes_per_row"] = e2e["read_bytes_per_row"]
    named["write_bytes_per_row"] = (bytes_per_row(plain or timed, "out_bytes", rows), "B/row")

    notes = {}
    for o in all_ops:
        for k, v in o.get("notes", {}).items():
            notes.setdefault(f"{o['name']}.{k}", []).append(v)
    detail = {
        "workload": raw["workload"],
        "seed": raw["seed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "timings": {name: timing(slot_times(plain, slot)) for slot, name in sorted(raw["slots"].items())}
        | {"pass_s": timing([p["pass_s"] for p in plain]),
           "setup_s": timing(raw["setup_s"])},
        "session_start_s": raw["session_start_s"],
        "passes": {"warmup": len(raw["passes"]) - len(timed), "untraced": len(plain), "traced": len(traced)},
        "sizes": raw["sizes"],
        "source_rows": rows,
        "notes": {k: {"min": min(v), "max": max(v)} for k, v in notes.items()},
        "errors": sorted({o["error"] for o in all_ops if not o["ok"]}),
        "conf": raw["conf"],
    }
    return e2e, layers, detail, failed, attempted

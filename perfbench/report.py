"""Turn one JVM run file into the benchmark's metrics.

End-to-end metrics come from untraced runs; per-layer metrics from
traced runs, where every other timed op is traced (listeners attached,
spans kept) and the rest run bare, so the tracing overhead is measured
inside the same run.
"""
import statistics

from gen import ANALYTICS_KEYS

END_TO_END = [
    ("setup_s", "s"), ("ops_per_s", "1/s"), ("rows_per_s", "rows/s"),
    ("op_p50_ms", "ms"), ("bytes_per_user_byte", "ratio"),
]

# op_tail_ms is a tail only when the rule lands at p90 or above, which
# takes at least 100 timed ops; below that it is printed, not reported
TAIL_MIN_SAMPLES = 100

# per-layer metric -> the span whose median it is
SPAN_METRICS = {
    "ds.df_ms": "ds.df", "ds.prune_ms": "ds.prune", "ds.compact_ms": "ds.compact",
    "ds.delete_ms": "ds.delete", "meta.snapshot_ms": "meta.snapshot",
    "meta.timetravel_ms": "meta.timetravel", "queries.build_ms": "queries.build",
}
OP_LAYER_METRICS = [
    ("core.list_ms", "ms"), ("core.files_listed", "count"),
    ("ds.files_kept_ratio", "ratio"), ("ds.scan_files_ratio", "ratio"),
    ("ds.write_rows_in", "rows"), ("ds.write_rows_written", "rows"),
    ("ds.write_keep_ratio", "ratio"), ("ds.files_added", "count"), ("ds.bytes_added", "bytes"),
    ("ds.sidecar_bytes", "bytes"), ("ds.compact_files_in", "count"),
    ("ds.compact_files_out", "count"), ("ds.delete_rows", "rows"),
    ("meta.snapshot_bytes", "bytes"),
]
SPARK_METRICS = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_run_ms", "ms"), ("spark.task_cpu_ms", "ms"), ("spark.sched_delay_ms", "ms"),
    ("spark.driver_only_ms", "ms"), ("spark.core_busy_frac", "fraction"),
    ("spark.input_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.output_bytes", "bytes"),
]
STREAM_METRICS = [
    ("streaming.trigger_ms", "triggerExecution"), ("streaming.add_batch_ms", "addBatch"),
    ("streaming.query_planning_ms", "queryPlanning"), ("streaming.get_batch_ms", "getBatch"),
    ("streaming.latest_offset_ms", "latestOffset"), ("streaming.wal_commit_ms", "walCommit"),
    ("streaming.commit_offsets_ms", "commitOffsets"),
    ("streaming.state_commit_ms", "stateCommitMs"), ("streaming.state_rows", "stateRows"),
]
LAYERS = ["op", "core", "ds", "meta", "queries", "exec", "streaming"]


def per_layer_names():
    """(name, unit) of every per-layer metric, in a fixed order."""
    out = OP_LAYER_METRICS + [(m, "ms") for m in SPAN_METRICS] + [
        ("ds.write_ms", "ms"), ("plans.analysis_ms", "ms"),
        ("plans.optimization_ms", "ms"), ("plans.planning_ms", "ms")]
    out += [(f"key.{k}_ms", "ms") for k in ANALYTICS_KEYS]
    out += SPARK_METRICS
    out += [(n, "rows" if n.endswith("rows") else "ms") for n, _ in STREAM_METRICS]
    out += [("streaming.data_batch_ratio", "ratio"), ("jvm.gc_ms", "ms"),
            ("jvm.heap_peak_mb", "MB")]
    out += [(f"self.{layer}_ms", "ms") for layer in LAYERS]
    out += [("trace.overhead_ms", "ms"), ("trace.overhead_frac", "fraction")]
    return out


def tail(ms):
    """The highest percentile with at least 10 samples beyond it: the 11th
    largest latency. Returns (value, percentile, sample count)."""
    n = len(ms)
    s = sorted(ms)
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def mean(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return sum(xs) / len(xs) if xs else default


def self_times(spans):
    """Self time per (op, layer): each span's duration minus the durations
    of its direct children. Span `parent` indexes into `spans`."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] >= 0:
            child[int(s["parent"])] += s["ms"]
    out = {}
    for i, s in enumerate(spans):
        key = (int(s["op"]), s["name"].split(".")[0])
        out[key] = out.get(key, 0.0) + s["ms"] - child[i]
    return out


def summarize(workload, raw, trace, cpus):
    ops = raw["ops"]
    attempted = len(ops) + int(raw.get("warmup_attempted", 0))
    failed = sum(1 for o in ops if not o["ok"]) + int(raw["warmup_failed"])
    attempted = max(attempted, 1)
    lines = [f"workload {workload}: {len(ops)} timed ops, {failed} failed, "
             f"error_rate {failed / attempted:.4f} fraction",
             "warm-up op ms: " + " ".join(f"{x:.0f}" for x in raw.get("warmup_ms", [])),
             "timed op ms: " + " ".join(f"{o['ms']:.0f}" for o in ops)]
    if trace == 0:
        metrics = end_to_end(raw, ops, lines)
    else:
        metrics = per_layer(workload, raw, ops, cpus, lines)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "lines": lines}


def end_to_end(raw, ops, lines):
    ms = [o["ms"] for o in ops]
    wall_s = sum(ms) / 1000.0
    t, pct, n = tail(ms)
    vals = {
        "setup_s": raw["setup_s"],
        "ops_per_s": len(ms) / wall_s,
        "rows_per_s": sum(o["rows"] for o in ops) / wall_s,
        "op_p50_ms": median(ms),
        "bytes_per_user_byte": raw["bytes_per_user_byte"],
    }
    beyond = sum(1 for x in ms if x > t)
    lines.append(f"op_tail_ms {t:.6g} ms is p{pct:.1f} of {n} samples ({beyond} beyond it)"
                 + ("" if n >= TAIL_MIN_SAMPLES else
                    f"; not a tail below {TAIL_MIN_SAMPLES} samples, so not a reported metric"))
    for name, unit in END_TO_END:
        lines.append(f"{name} {vals[name]:.6g} {unit}")
    return {name: {"value": vals[name], "unit": unit} for name, unit in END_TO_END}


def per_layer(workload, raw, ops, cpus, lines):
    traced = [o for o in ops if o["traced"]]
    bare = [o for o in ops if not o["traced"]]
    by_op = {int(o["i"]): o for o in traced}
    vals = {name: 0.0 for name, _ in per_layer_names()}

    spans = raw["spans"]
    for metric, span_name in SPAN_METRICS.items():
        vals[metric] = median([s["ms"] for s in spans if s["name"] == span_name])
    vals["ds.write_ms"] = median([s["ms"] for s in spans if s["name"] == "ds.write"])
    for metric, _ in OP_LAYER_METRICS:
        vals[metric] = median([o["layer"].get(metric) for o in traced])
    vals["jvm.gc_ms"] = mean([o["layer"].get("jvm.gc_ms") for o in traced])
    vals["jvm.heap_peak_mb"] = raw["heap_peak_mb"]

    keyed = {}
    for o in ops:
        keyed.setdefault(o["kind"], []).append(o["ms"])
    for k in ANALYTICS_KEYS:
        vals[f"key.{k}_ms"] = median(keyed.get(k, []))

    subs = [s for s in raw["substrate"] if int(s["op"]) in by_op]
    table = []
    for s in subs:
        wall = by_op[int(s["op"])]["ms"]
        s["driver_only_ms"] = max(0.0, wall - s["job_union_ms"])
        s["core_busy_frac"] = s["task_run_ms"] / (wall * cpus)
        table.append((wall, s))
    for name, _ in SPARK_METRICS:
        vals[name] = mean([s.get(name.split(".", 1)[1]) for s in subs])
    for phase in ("analysis", "optimization", "planning"):
        vals[f"plans.{phase}_ms"] = mean([s["phases"].get(phase, 0.0) for s in subs])

    batches = [p for s in subs for p in s["progress"]]
    for metric, key in STREAM_METRICS:
        vals[metric] = mean([p.get(key) for p in batches])
    if batches:
        vals["streaming.data_batch_ratio"] = \
            sum(1 for p in batches if p.get("numInputRows", 0) > 0) / len(batches)

    st = self_times(spans)
    for layer in LAYERS:
        vals[f"self.{layer}_ms"] = mean([st.get((i, layer), 0.0) for i in by_op]) if by_op else 0.0

    # overhead per op kind seen both traced and untraced, so a different
    # mix of kinds in the two halves does not read as overhead
    diffs = []
    for kind in sorted({o["kind"] for o in traced} & {o["kind"] for o in bare}):
        t = median([o["ms"] for o in traced if o["kind"] == kind])
        b = median([o["ms"] for o in bare if o["kind"] == kind])
        diffs.append((t - b, (t - b) / b))
    vals["trace.overhead_ms"] = median([d for d, _ in diffs])
    vals["trace.overhead_frac"] = median([f for _, f in diffs])

    lines.append(f"traced ops {len(traced)}, untraced ops {len(bare)}; tracing overhead over "
                 f"{len(diffs)} op kinds seen both ways: {vals['trace.overhead_ms']:.2f} ms "
                 f"({vals['trace.overhead_frac']:+.3f} of the untraced median)")
    lines.append("self time per traced op (ms): " + ", ".join(
        f"{layer} {vals[f'self.{layer}_ms']:.2f}" for layer in LAYERS))
    if table:
        walls = sum(w for w, _ in table)
        plan_ms = sum(sum(s["phases"].get(p, 0.0) for p in ("analysis", "optimization",
                                                              "planning")) for _, s in table)
        jobs = sum(s["job_union_ms"] for _, s in table)
        driver = sum(s["driver_only_ms"] for _, s in table)
        tasks = sum(s["task_run_ms"] for _, s in table)
        lines.append(f"fixed-cost split over {len(table)} traced ops: wall {walls:.0f} ms, "
                     f"job time {jobs:.0f} ms, driver-only {driver:.0f} ms "
                     f"(planning {plan_ms:.0f} ms), task run time {tasks:.0f} ms "
                     f"on {cpus} cores; planning + driver-only outside planning + jobs = "
                     f"{(plan_ms + max(0.0, driver - plan_ms) + jobs) / walls:.3f} of wall")
        kinds = {}
        for wall, s in table:
            kinds.setdefault(by_op[int(s["op"])]["kind"], []).append((wall, s))
        for kind, rows in sorted(kinds.items()):
            n = len(rows)
            lines.append(
                f"  {kind}: {n} traced ops, per op: wall {sum(w for w, _ in rows) / n:.0f} ms, "
                f"driver-only {sum(s['driver_only_ms'] for _, s in rows) / n:.0f} ms, "
                f"job time {sum(s['job_union_ms'] for _, s in rows) / n:.0f} ms, "
                f"task run time {sum(s['task_run_ms'] for _, s in rows) / n:.0f} ms, "
                f"core busy {sum(s['core_busy_frac'] for _, s in rows) / n:.3f}")
    units = dict(per_layer_names())
    return {name: {"value": vals[name], "unit": units[name]} for name, _ in per_layer_names()}

"""Reduce the raw samples of one run to the metrics it reports."""
import statistics

HOOKS = ["warmFixtures"]
MB = 1e6


def unit(name):
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if any(w in name for w in ("share", "ratio", "coverage", "overhead", "per_input")):
        return "ratio"
    return "count"


def median(values):
    """The median, midway between the two middle samples of an even
    count; 0 for a layer with no samples (e.g. streaming on rollup)."""
    return statistics.median(values) if values else 0.0


def rel_iqr(values):
    """Interquartile range over median, as `statistics.quantiles(n=4)`
    gives the quartiles; 0 for fewer than two samples."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def coverage_band(overhead, spread):
    """Where an entry's traced build + plan + exec over its untraced
    latency should lie: between 1 and the run's tracing overhead,
    widened on both sides by the entry's own sample spread."""
    return min(1.0, overhead) - spread, max(1.0, overhead) + spread


def end_to_end(raw, failed_entries):
    """The end-to-end metrics of the untraced part of a run, plus counts
    over all of it.

    An operation fails when it raised, when its digest differs from the
    verified result, or when its entry failed the oracle check."""
    ops = raw["ops"]
    passes = [p["s"] for p in raw["passes"] if not p["traced"]]
    lat = [o["total_s"] for o in ops if not o["traced"]]
    failed = sum(1 for o in ops
                 if o["status"] != "ok" or o["entry"] in failed_entries)
    metrics = {
        "query_p50_s": (median(lat), "s"),
        "pass_s": (median(passes), "s"),
        "setup_s": (raw["setup"]["total_s"], "s"),
        "cached_mb": (raw["setup"]["cached_mb"], "MB"),
        "ok_rate": (1.0 - failed / len(ops), "ratio"),
    }
    counts = {"attempted": len(ops), "failed": failed,
              "samples": {"query": len(lat), "pass": len(passes), "setup": 1}}
    return metrics, counts


def _span_sum(labels, suffix, key):
    return sum(c[key] for span, c in labels.items()
               if suffix is None or span.endswith(suffix))


def per_layer(raw, cores):
    """Per-layer metrics of the traced passes of a run, per pass; the
    per-entry breakdown they summarise; and the tracing overhead, each
    end-to-end timing of the traced passes against the untraced ones.

    Each entry's coverage, its traced build + plan + exec over its
    untraced latency, is checked against the run's tracing overhead
    (see `coverage_band`); `trace.uncovered_entries` counts the entries
    that miss it."""
    tr = raw["trace"]
    labels, stream = tr["labels"], tr["stream"]
    t_ops = [o for o in raw["ops"] if o["traced"]]
    u_ops = [o for o in raw["ops"] if not o["traced"]]
    t_passes = [p for p in raw["passes"] if p["traced"]]
    t_pass = [p["s"] for p in t_passes]
    u_pass = [p["s"] for p in raw["passes"] if not p["traced"]]
    n = len(t_pass)
    setup = raw["setup"]

    def per_pass(x):
        return x / n

    def per_pass_phase(phase):
        by_pass = {}
        for o in t_ops:
            by_pass[o["pass"]] = by_pass.get(o["pass"], 0.0) + o[phase]
        return median(list(by_pass.values()))

    task_s = _span_sum(labels, None, "task_ms") / 1000
    m = {
        "setup.session_s": setup["session_s"],
        "setup.jit_s": setup["jit_s"],
        "setup.first_call_s": sum(setup["first_call_s"].values()),
    }
    for h in HOOKS:
        hook = setup["hooks"].get(h, {"s": 0.0, "mb": 0.0})
        m[f"artifacts.{h}_s"] = hook["s"]
        m[f"artifacts.{h}_mb"] = hook["mb"]
    m.update({
        "operators.build_s": per_pass_phase("build_s"),
        "operators.build_jobs": per_pass(_span_sum(labels, "/build", "jobs")),
        "catalyst.plan_s": per_pass_phase("plan_s"),
        "catalyst.plan_jobs": per_pass(_span_sum(labels, "/plan", "jobs")),
        "exec.exec_s": per_pass_phase("exec_s"),
        "exec.task_s": per_pass(task_s),
        "exec.shuffle_read_mb": per_pass(_span_sum(labels, None, "shuffle_read_b") / MB),
        "exec.shuffle_write_mb": per_pass(_span_sum(labels, None, "shuffle_write_b") / MB),
        "exec.spill_mb": per_pass(_span_sum(labels, None, "spill_b") / MB),
        "exec.result_mb": per_pass(_span_sum(labels, None, "result_b") / MB),
        "sched.jobs": per_pass(_span_sum(labels, None, "jobs")),
        "sched.stages": per_pass(_span_sum(labels, None, "stages")),
        "sched.tasks": per_pass(_span_sum(labels, None, "tasks")),
        "sched.busy_ratio": task_s / (tr["wall_s"] * cores),
        "stream.batches": per_pass(len(stream["batch_ms"])),
        "stream.batch_p50_ms": median(stream["batch_ms"]),
        "stream.busy_s": per_pass(sum(stream["batch_ms"]) / 1000),
        "stream.rows_in": per_pass(stream["rows_in"]),
        "stream.output_mb": per_pass(_span_sum(labels, None, "output_b") / MB),
        "stream.output_per_input": (_span_sum(labels, None, "output_rows") / stream["rows_in"]
                                    if stream["rows_in"] else 0.0),
    })
    m["jvm.jit_s"] = median([p["jit_s"] for p in t_passes])
    m["jvm.gc_s"] = median([p["gc_s"] for p in t_passes])
    total = sum(o["total_s"] for o in t_ops)
    for phase in ("build", "plan", "exec"):
        m[f"layers.{phase}_share"] = sum(o[f"{phase}_s"] for o in t_ops) / total
    m["layers.stream_share"] = sum(stream["batch_ms"]) / 1000 / total

    overhead = {}
    for name, traced, untraced in (
            ("pass_s", median(t_pass), median(u_pass)),
            ("query_p50_s", median([o["total_s"] for o in t_ops]),
             median([o["total_s"] for o in u_ops]))):
        overhead[name] = {"traced": traced, "untraced": untraced, "ratio": traced / untraced}

    entries = {}
    for e in sorted({o["entry"] for o in raw["ops"]}):
        mine = [o for o in t_ops if o["entry"] == e]
        untraced = [o["total_s"] for o in u_ops if o["entry"] == e]
        calls = len(mine)
        d = {f"{ph}_s": median([o[f"{ph}_s"] for o in mine]) for ph in ("build", "plan", "exec")}
        d["untraced_s"] = median(untraced)
        d["samples"] = {"traced": calls, "untraced": len(untraced)}
        d["coverage"] = (d["build_s"] + d["plan_s"] + d["exec_s"]) / d["untraced_s"]
        d["coverage_band"] = coverage_band(overhead["query_p50_s"]["ratio"], rel_iqr(untraced))
        d["coverage_ok"] = d["coverage_band"][0] <= d["coverage"] <= d["coverage_band"][1]
        for ph in ("build", "plan", "exec"):
            c = labels.get(f"{e}/{ph}", {})
            d[f"{ph}_jobs"] = c.get("jobs", 0) / calls
        spans = [labels[s] for s in labels if s.startswith(e + "/")]
        for k, key, scale in (("jobs", "jobs", 1), ("stages", "stages", 1),
                              ("tasks", "tasks", 1), ("task_s", "task_ms", 1000),
                              ("shuffle_mb", "shuffle_read_b", MB),
                              ("spill_mb", "spill_b", MB)):
            d[k] = sum(c[key] for c in spans) / scale / calls
        d["failed"] = sum(1 for o in raw["ops"] if o["entry"] == e and o["status"] != "ok")
        d["dominant"] = max(("build", "plan", "exec"), key=lambda ph: d[f"{ph}_s"])
        entries[e] = d
    m["trace.coverage"] = median([d["coverage"] for d in entries.values()])
    m["trace.uncovered_entries"] = sum(1 for d in entries.values() if not d["coverage_ok"])
    m["trace.overhead_pass"] = overhead["pass_s"]["ratio"]
    m["trace.overhead_p50"] = overhead["query_p50_s"]["ratio"]
    return m, entries, overhead

"""Metric arithmetic for the benchmark: medians, the tail rule, failure
accounting and the per-workload metric tables built from a run's raw
samples. Standard library only."""

import statistics


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n) or None when fewer than 11 samples
    exist. The sample at ascending index k has n-1-k samples above it, so
    the highest qualifying index is n-11 and its percentile rank is
    100*(n-10)/n."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return None
    return s[n - 11], 100.0 * (n - 10) / n, n


def failed_share(ops):
    """(attempted, failed, share): every checked operation counts as
    attempted; one that raised or returned a wrong output counts as
    failed."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not o.get("ok"))
    return attempted, failed, (failed / attempted if attempted else 1.0)


def _timed(ops, kinds, traced=None):
    out = [o for o in ops if o.get("kind") in kinds]
    if traced is not None:
        out = [o for o in out if bool(o.get("traced")) == traced]
    return out


def _by_pass(ops, key="wall_s", where=lambda o: True):
    """{pass: sum of key over the ops of that pass that match}."""
    sums = {}
    for o in ops:
        if where(o):
            sums[o["pass"]] = sums.get(o["pass"], 0.0) + float(o.get(key) or 0.0)
    return sums


OP_KINDS = {"exporter": ("cycle", "stream_cycle"), "queries": ("row",)}
BATCH_FAMILIES = ("relational", "parity", "llmops")
DRAIN_CLASSES = ("stateful", "stateless")


def end_to_end(raw):
    """Untraced end-to-end metrics: {name: (value, unit)} plus notes."""
    wl = raw["workload"]
    ops = _timed(raw["ops"], OP_KINDS[wl], traced=False)
    m = {"setup_s": (raw["setup"]["setup_s"], "s"),
         "pass_s": (median(_by_pass(ops).values()), "s")}
    notes = {"passes": len(_by_pass(ops))}
    if wl == "exporter":
        cyc = [o["wall_s"] for o in ops if o["kind"] == "cycle"]
        scyc = [o["wall_s"] for o in ops if o["kind"] == "stream_cycle"]
        ev = sum(o["events"] for o in ops)
        m["exporter.events_per_s"] = (ev / sum(o["wall_s"] for o in ops), "1/s")
        m["exporter.cycle_p50_s"] = (median(cyc), "s")
        t = tail(cyc)
        if t:
            m["exporter.cycle_tail_s"] = (t[0], "s")
            notes["exporter.cycle_tail_s"] = {"percentile": round(t[1], 2), "samples": t[2]}
        else:
            notes["exporter.cycle_tail_s"] = {"percentile": None, "samples": len(cyc)}
        m["exporter.stream_cycle_p50_s"] = (median(scyc), "s")
    else:
        for f in BATCH_FAMILIES + DRAIN_CLASSES:
            prefix = "batch" if f in BATCH_FAMILIES else "drains"
            m[f"{prefix}.{f}_pass_s"] = (median(_by_pass(ops, where=lambda o, f=f: o["family"] == f).values()), "s")
    attempted, failed, share = failed_share(raw["ops"])
    m["failed_share"] = (share, "share")
    return m, notes


# Per-layer metric names, units and direction, in the order printed.
def per_layer_spec():
    spec = [
        ("sources.requests_per_page", "requests/page", "lower"),
        ("sources.stream_requests_per_page", "requests/page", "lower"),
        ("sources.fetch_ms", "ms", "lower"),
        ("sources.walk_s", "s", "lower"),
        ("sources.scan_s", "s", "lower"),
        ("operators.ce_pull_s", "s", "lower"),
        ("operators.ce_transform_s", "s", "lower"),
        ("operators.sink_s", "s", "lower"),
        ("operators.sink_posts_per_s", "1/s", "higher"),
        ("operators.sink_tasks_per_cycle", "count", "lower"),
        ("operators.sink_failed", "count", "lower"),
    ]
    for f in BATCH_FAMILIES:
        spec += [(f"{f}.build_s", "s", "lower"), (f"{f}.plan_s", "s", "lower"),
                 (f"{f}.execute_s", "s", "lower"), (f"{f}.build_jobs", "count", "lower"),
                 (f"{f}.jobs", "count", "lower"), (f"{f}.tasks", "count", "lower"),
                 (f"{f}.task_s", "s", "lower"), (f"{f}.parallel_eff", "ratio", "higher"),
                 (f"{f}.shuffle_mb", "MB", "lower"), (f"{f}.spill_mb", "MB", "lower"),
                 (f"{f}.gc_s", "s", "lower")]
    for c in DRAIN_CLASSES:
        p = f"streaming.{c}"
        spec += [(f"{p}.drain_s", "s", "lower"), (f"{p}.tail_s", "s", "lower"),
                 (f"{p}.microbatches", "count", "lower"), (f"{p}.empty_batches", "count", "lower"),
                 (f"{p}.add_batch_ms", "ms", "lower"), (f"{p}.query_planning_ms", "ms", "lower"),
                 (f"{p}.wal_commit_ms", "ms", "lower"), (f"{p}.offset_commit_ms", "ms", "lower"),
                 (f"{p}.latest_offset_ms", "ms", "lower"), (f"{p}.state_rows", "count", "lower"),
                 (f"{p}.state_commit_ms", "ms", "lower"), (f"{p}.state_mem_mb", "MB", "lower"),
                 (f"{p}.files_written", "count", "lower"), (f"{p}.mb_written", "MB", "lower"),
                 (f"{p}.task_s", "s", "lower"), (f"{p}.parallel_eff", "ratio", "higher")]
    spec += [
        ("exporter.jobs_per_cycle", "count", "lower"),
        ("exporter.tasks_per_cycle", "count", "lower"),
        ("exporter.task_s", "s", "lower"),
        ("exporter.parallel_eff", "ratio", "higher"),
        ("jvm.heap_peak_mb", "MB", "lower"),
        ("jvm.gc_s", "s", "lower"),
        ("scaling.local1_ratio", "ratio", "higher"),
        ("trace.overhead_share", "share", "lower"),
    ]
    return spec


def per_layer(raw):
    """Traced per-layer metrics: {name: (value, unit)}. A layer the
    workload does not run reads 0."""
    wl = raw["workload"]
    nproc = raw["nproc"]
    layers = raw.get("layers", {})
    allops = _timed(raw["ops"], OP_KINDS[wl])
    traced = [o for o in allops if o.get("traced")]
    v = {name: 0.0 for name, _, _ in per_layer_spec()}

    def pass_median(ops, key, where=lambda o: True):
        return median(_by_pass(ops, key, where).values())

    if wl == "exporter":
        cyc = [o for o in allops if o["kind"] == "cycle"]
        scyc = [o for o in allops if o["kind"] == "stream_cycle"]
        tcyc = [o for o in traced if o["kind"] == "cycle"]
        v["sources.requests_per_page"] = median(o["requests"] / o["pages"] for o in cyc)
        v["sources.stream_requests_per_page"] = median(o["requests"] / o["pages"] for o in scyc)
        for k in ("sources.fetch_ms", "sources.walk_s", "sources.scan_s", "operators.ce_pull_s"):
            v[k] = layers.get(k, 0.0)
        cyc_p50 = median(o["wall_s"] for o in cyc)
        v["operators.ce_transform_s"] = v["operators.ce_pull_s"] - v["sources.scan_s"]
        v["operators.sink_s"] = cyc_p50 - v["operators.ce_pull_s"]
        ev = median(o["events"] for o in cyc)
        v["operators.sink_posts_per_s"] = ev / v["operators.sink_s"] if v["operators.sink_s"] > 0 else 0.0
        # the sink's own tasks: a full cycle's minus those of the pull alone
        v["operators.sink_tasks_per_cycle"] = (median(o.get("tasks", 0) for o in tcyc)
                                               - layers.get("operators.pull_tasks", 0.0))
        v["operators.sink_failed"] = sum(max(0, o["failed_events"]) for o in allops)
        v["exporter.jobs_per_cycle"] = median(o.get("jobs", 0) for o in tcyc)
        v["exporter.tasks_per_cycle"] = median(o.get("tasks", 0) for o in tcyc)
        v["exporter.task_s"] = median(o.get("task_s", 0.0) for o in tcyc)
        v["exporter.parallel_eff"] = median(o.get("task_s", 0.0) / (o["wall_s"] * nproc) for o in tcyc)
    else:
        for f in BATCH_FAMILIES:
            fam = lambda o, f=f: o["family"] == f
            for k in ("build_s", "plan_s", "execute_s", "build_jobs", "jobs", "tasks",
                      "task_s", "shuffle_mb", "spill_mb", "gc_s"):
                v[f"{f}.{k}"] = pass_median(traced, k, fam)
            wall = pass_median(traced, "wall_s", fam)
            v[f"{f}.parallel_eff"] = v[f"{f}.task_s"] / (wall * nproc) if wall > 0 else 0.0
        for c in DRAIN_CLASSES:
            cls = lambda o, c=c: o["family"] == c
            p = f"streaming.{c}"
            v[f"{p}.drain_s"] = pass_median(traced, "wall_s", cls)
            trig = [t / 1e3 for o in traced if cls(o) for t in o.get("trigger_ms", [])]
            t = tail(trig)
            v[f"{p}.tail_s"] = t[0] if t else (max(trig) if trig else 0.0)
            for k in ("microbatches", "empty_batches", "add_batch_ms", "query_planning_ms",
                      "wal_commit_ms", "offset_commit_ms", "latest_offset_ms", "state_rows",
                      "state_commit_ms", "files_written", "mb_written", "task_s"):
                v[f"{p}.{k}"] = pass_median(traced, k, cls)
            v[f"{p}.state_mem_mb"] = max([o.get("state_mem_mb", 0.0) for o in traced if cls(o)] or [0.0])
            wall = v[f"{p}.drain_s"]
            v[f"{p}.parallel_eff"] = v[f"{p}.task_s"] / (wall * nproc) if wall > 0 else 0.0
    v["jvm.heap_peak_mb"] = layers.get("jvm.heap_peak_mb", 0.0)
    v["jvm.gc_s"] = layers.get("jvm.gc_s", 0.0)
    v["scaling.local1_ratio"] = layers.get("scaling.local1_ratio", 0.0)
    # the first pass is still warming up, so it is left out of both sides
    on = median(_by_pass(traced).values())
    off = median(_by_pass([o for o in allops if not o.get("traced") and o["pass"] > 0]).values())
    v["trace.overhead_share"] = (on - off) / off if off > 0 and on > 0 else 0.0
    units = {name: unit for name, unit, _ in per_layer_spec()}
    return {k: (v[k], units[k]) for k in units}

"""End-to-end and per-layer metrics of one run, from the JVM's raw record.

Every metric is printed for every workload. A per-layer metric of a layer
the workload does not run reads 0: that layer did no work there."""
import itertools

import stats

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "work_cpu_s": "s",
    "peak_rss_mb": "MB",
}

GROUPS = ("floor", "iter", "work")
TRACED_QUERIES = ("d8_neardup_groups", "d9_neardup_groups_logstar", "x14_curate",
                  "x33_triangles", "t14_lexical")
KPI_TABLES = ("gender_counts", "satisfaction_counts", "satisfaction_by_class", "type_travel_counts",
              "age_distribution", "loyalty_by_age", "flight_distance_impact",
              "mean_satisfaction_by_feature")
SELF_LAYERS = ("registry.build", "registry.plan", "registry.exec", "spark.job", "spark.stage",
               "trigger.driver", "trigger.latestOffset", "trigger.addBatch",
               "source.csv_parse", "kpis.transform", "sink.merge")


def _per_layer_units():
    u = {
        "trace.overhead_share": "ratio", "ops.failed_share": "ratio",
        "op.p50_s": "s", "op.samples": "count", "op.tail_pct": "pct", "op.tail_s": "s",
        "work.wall_s": "s",
        "heap.peak_used_mb": "MB", "heap.old_peak_mb": "MB",
        "gen.late_p50_s": "s", "gen.late_max_s": "s",
        "source.list_p50_s": "s", "source.get_batch_p50_s": "s", "source.backlog_segments": "count",
        "source.lag_max_s": "s", "source.csv_parse_s": "s",
        "kpis.transform_s": "s",
        "trigger.count": "count", "trigger.rows_mean": "rows", "trigger.total_p50_s": "s",
        "trigger.add_batch_p50_s": "s", "trigger.plan_p50_s": "s", "trigger.wal_p50_s": "s",
        "trigger.idle_share": "ratio",
        "sink.merge_p50_s": "s", "sink.read_s": "s", "sink.store_bytes": "bytes",
        "sink.state_rows": "rows", "sink.state_store_bytes": "bytes",
        "state.rows_total": "rows", "state.memory_bytes": "bytes", "state.commit_p50_s": "s",
        "state.add_batch_p50_s": "s", "state.batch_p50_s": "s", "state.rows_per_s": "rows/s",
        "catchup.kpi_s": "s", "catchup.kpi_cpu_s": "s", "catchup.startup_s": "s",
        "catchup.transitions_s": "s", "catchup.transitions_cpu_s": "s",
        "catchup.distinct_s": "s", "catchup.distinct_cpu_s": "s",
        "local1.catchup_s": "s", "local1.catchup_speedup": "ratio",
        "local1.registry_s": "s", "local1.registry_speedup": "ratio",
    }
    for t in KPI_TABLES:
        u[f"kpis.{t}_s"] = "s"
    for g in GROUPS:
        for k in ("s", "cpu_s", "build_s", "plan_s", "exec_s"):
            u[f"registry.{g}.{k}"] = "s"
        for k, unit in (("build_jobs", "count"), ("jobs", "count"), ("stages", "count"),
                        ("tasks", "count"), ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                        ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                        ("spill_bytes", "bytes")):
            u[f"exec.{g}.{k}"] = unit
        u[f"cache.{g}.tracked_frames"] = "count"
        u[f"cache.{g}.bytes"] = "bytes"
    for q in TRACED_QUERIES:
        for k in ("build_s", "plan_s", "exec_s"):
            u[f"registry.{q}.{k}"] = "s"
    for layer in SELF_LAYERS:
        u[f"self.{layer}_s"] = "s"
    return u


PER_LAYER = _per_layer_units()


def _p50(xs):
    return stats.median(xs) if xs else 0.0


def kpi_segments(res):
    """Rows of every KPI segment, in publish order."""
    n = res["startup_segments"] + res["live_segments"] + res["backlog_segments"]
    return [res["rows_per_segment"]] * n


def kpi_samples(res, progress):
    """Freshness of each measured live segment: its due time to the commit
    of the trigger that covered it. Uncommitted segments have no sample
    (they count as failed operations instead)."""
    owner = stats.attribute(kpi_segments(res), progress)
    first = res["startup_segments"]
    out = []
    for k, due in enumerate(res["due_us"]):
        o = owner[first + k]
        if k >= res["live_warmup_segments"] and o is not None:
            out.append((stats.commit_us(progress[o]) - due) / 1e6)
    return out


def kpi_catchup_s(res, progress):
    """Restart of the query to the commit of the trigger that covers the
    backlog staged while it was down."""
    o = stats.attribute(kpi_segments(res), progress)[-1]
    if o is None:
        return float("nan")
    return (stats.commit_us(progress[o]) - res["restart_us"]) / 1e6


def run_progress(raw, run_id):
    return sorted((p for p in raw["progress"] if p["run_id"] == run_id), key=lambda p: p["batch_id"])


def kpi_progress(raw):
    """Triggers of both runs of the KPI query, in batch order."""
    runs = raw["result"]["kpi"]["run_ids"]
    return sorted((p for p in raw["progress"] if p["run_id"] in runs), key=lambda p: p["batch_id"])


def live_progress(raw):
    """The KPI query's triggers between start-up and the stop before the
    catch-up."""
    res = raw["result"]["kpi"]
    first = run_progress(raw, res["run_ids"][0])
    owner = stats.attribute([res["rows_per_segment"]] * res["startup_segments"], first)
    return first if owner[-1] is None else first[owner[-1] + 1:]


def drain_progress(raw):
    return [p for d in raw["result"]["events"]["drains"] for p in run_progress(raw, d["run_id"])]


def op_samples(workload, raw):
    """Per-operation latencies: a live segment's freshness (streaming), a
    query execution's build + plan + execute time (registry_mix)."""
    if workload == "streaming":
        return kpi_samples(raw["result"]["kpi"], kpi_progress(raw))
    return list(query_times(raw["result"]["execs"]).values())


def query_times(execs):
    """Query -> the faster of its executions (build + plan + execute)."""
    out = {}
    for e in execs:
        t = e["build_s"] + e["plan_s"] + e["exec_s"]
        out[e["query"]] = min(out.get(e["query"], t), t)
    return out


def work_s(workload, raw):
    """Time for the workload's fixed work: draining the KPI backlog after a
    restart plus draining the events through both stateful operators
    (streaming), or the query mix (registry_mix)."""
    if workload == "streaming":
        return (kpi_catchup_s(raw["result"]["kpi"], kpi_progress(raw))
                + sum(d["wall_s"] for d in raw["result"]["events"]["drains"]))
    return sum(query_times(raw["result"]["execs"]).values())


def op_cpu_s(workload, raw):
    """CPU seconds per operation: the KPI pipeline's CPU from start-up to
    the end of the catch-up per segment it took in (streaming), or the
    mean CPU of the Java threads (driver, scheduler, tasks; not the JVM's
    compiler and GC threads) over an execution of the floor block's
    measured rounds, the floor queries run warm after the mix, whose cost
    is the fixed per-query floor (registry_mix). A window shorter than the whole
    pipeline, such as the live phase alone, moves with the host's speed:
    a slower host makes fewer, larger triggers, each paying the
    per-trigger floor once."""
    res = raw["result"]
    if workload == "streaming":
        k = res["kpi"]
        cpu = k["startup_cpu_s"] + k["live_cpu_s"] + k["catchup_cpu_s"]
        return cpu / len(kpi_segments(k))
    floor = res["floor_execs"][res["floor_warmup_execs"]:]
    return sum(e["thread_cpu_s"] for e in floor) / len(floor)


def work_cpu_s(workload, raw):
    """CPU seconds of the fixed work: every phase of the pipeline plus both
    stateful drains (streaming), or the query mix (registry_mix).
    Compilation and GC threads run behind the phase that caused them, so
    a short window, such as the catch-up alone, takes a varying share of
    another phase's CPU."""
    res = raw["result"]
    if workload == "streaming":
        k = res["kpi"]
        return (k["startup_cpu_s"] + k["live_cpu_s"] + k["catchup_cpu_s"]
                + sum(d["cpu_s"] for d in res["events"]["drains"]))
    return sum(e["cpu_s"] for e in res["execs"])


def rss_beyond_heap_mb(raw):
    """Peak resident memory outside the heap. The heap is fixed and
    pre-touched, so all of it is resident from the start and its use
    cannot move the peak RSS; it is subtracted, and the heap's use is
    reported per layer (`heap.*`)."""
    return (raw["vm_hwm_kb"] - raw["heap_kb"]["committed"]) / 1024.0


def end_to_end(workload, raw, stage_s):
    res = raw["result"]
    warmup = res["kpi"]["startup_s"] if workload == "streaming" else 0.0
    return {
        "setup_s": raw["session_s"] + stage_s + warmup,
        "op_cpu_s": op_cpu_s(workload, raw),
        "work_cpu_s": work_cpu_s(workload, raw),
        "peak_rss_mb": rss_beyond_heap_mb(raw),
    }


def _trigger_layers(m, trig):
    d = lambda k: [p["duration_ms"].get(k, 0) / 1e3 for p in trig]
    m["trigger.count"] = len(trig)
    m["trigger.rows_mean"] = sum(p["input_rows"] for p in trig) / max(1, len(trig))
    m["trigger.total_p50_s"] = _p50(d("triggerExecution"))
    m["trigger.add_batch_p50_s"] = _p50(d("addBatch"))
    m["trigger.plan_p50_s"] = _p50(d("queryPlanning"))
    m["trigger.wal_p50_s"] = _p50(d("walCommit"))
    m["source.list_p50_s"] = _p50(d("latestOffset"))
    m["source.get_batch_p50_s"] = _p50(d("getBatch"))


def _state_layers(m, raw):
    ev = raw["result"]["events"]
    trig = drain_progress(raw)
    last = lambda key: sum(max((p[key] for p in run_progress(raw, x["run_id"])), default=0)
                           for x in ev["drains"])
    m["state.rows_total"] = last("state_rows_total")
    m["state.memory_bytes"] = last("state_memory_bytes")
    m["state.commit_p50_s"] = _p50([p["state_commit_ms"] / 1e3 for p in trig])
    m["state.add_batch_p50_s"] = _p50([p["duration_ms"].get("addBatch", 0) / 1e3 for p in trig])
    m["state.batch_p50_s"] = _p50([p["duration_ms"]["triggerExecution"] / 1e3 for p in trig])
    m["state.rows_per_s"] = sum(p["input_rows"] for p in trig) / sum(d["wall_s"] for d in ev["drains"])
    for d in ev["drains"]:
        m[f"catchup.{d['operator']}_s"] = d["wall_s"]
        m[f"catchup.{d['operator']}_cpu_s"] = d["cpu_s"]
    m["sink.state_rows"] = ev["sink"]["state_rows"]
    m["sink.state_store_bytes"] = ev["sink"]["store_bytes"]


def overhead_share(workload, raw):
    """Traced ÷ untraced time of the work the traced run did both ways
    (the stateful drains, or every query execution), minus one."""
    res = raw["result"]
    if workload == "streaming":
        ev = res["events"]
        return sum(d["wall_s"] for d in ev["drains"]) / sum(d["wall_s"] for d in ev["reference_drains"]) - 1.0
    t = lambda es: sum(e["build_s"] + e["plan_s"] + e["exec_s"] for e in es)
    return t(res["execs"]) / t(res["reference_execs"]) - 1.0


def per_layer(workload, raw, attempted, failed, spans, local1):
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["trace.overhead_share"] = overhead_share(workload, raw)
    m["ops.failed_share"] = failed / attempted
    m["op.p50_s"] = stats.median(op_samples(workload, raw))
    m["work.wall_s"] = work_s(workload, raw)
    m["heap.peak_used_mb"] = raw["heap_kb"]["peak_used"] / 1024.0
    m["heap.old_peak_mb"] = raw["heap_kb"]["old_peak_used"] / 1024.0
    pct, val, n = stats.tail(op_samples(workload, raw))
    m["op.samples"], m["op.tail_pct"], m["op.tail_s"] = n, pct, val

    if workload == "streaming":
        res = raw["result"]["kpi"]
        m["catchup.kpi_s"] = kpi_catchup_s(res, kpi_progress(raw))
        m["catchup.startup_s"] = res["startup_s"]
        m["catchup.kpi_cpu_s"] = res["catchup_cpu_s"]
        _trigger_layers(m, [p for p in live_progress(raw) if p["input_rows"] > 0])
        _kpi_layers(m, res, kpi_progress(raw), live_progress(raw))
        _state_layers(m, raw)
        if local1:
            m["local1.catchup_s"] = local1["catchup_s"]
            # against the measured catch-up, which also starts a query on
            # a warm JVM and drains the same backlog in one trigger
            m["local1.catchup_speedup"] = local1["catchup_s"] / m["catchup.kpi_s"]
    else:
        _registry_layers(m, raw)
        if local1:
            # against the fastest 4-core execution of each query, as the
            # single-core pass runs after them in the same JVM
            four = query_times(raw["result"]["execs"] + raw["result"]["reference_execs"])
            one = sum(query_times(local1["execs"]).values())
            m["local1.registry_s"] = one
            m["local1.registry_speedup"] = one / sum(four.values())

    def layer(s):
        n = s["name"]
        if n in ("build", "plan", "exec"):
            return "registry." + n
        if n in ("job", "stage"):
            return "spark." + n
        if n == "trigger":
            return "trigger.driver"
        if n.startswith("kpis."):
            return "kpis.transform"
        if n.startswith("sink.merge"):
            return "sink.merge"
        return n
    for k, v in stats.self_by_name(spans, layer).items():
        if f"self.{k}_s" in m:
            m[f"self.{k}_s"] = v
    return m


def _kpi_layers(m, res, prog, live_prog):
    due = res["due_us"]
    pub = res["published_us"]
    late = [(p - d) / 1e6 for p, d in zip(pub, due)]
    m["gen.late_p50_s"] = _p50(late)
    m["gen.late_max_s"] = max(late) if late else 0.0
    owner = stats.attribute(kpi_segments(res), prog)
    first = res["startup_segments"]
    # backlog: segments published but not yet committed, at each trigger start
    live = [(pub[k], owner[first + k]) for k in range(len(due))]
    peak = 0
    lag = 0.0
    for i, p in enumerate(prog):
        start = p["timestamp_ms"] * 1000
        waiting = [t for t, o in live if t <= start and (o is None or o >= i)]
        peak = max(peak, len(waiting))
    for t, o in live:
        if o is not None:
            lag = max(lag, (prog[o]["timestamp_ms"] * 1000 - t) / 1e6)
    m["source.backlog_segments"] = peak
    m["source.lag_max_s"] = max(lag, 0.0)
    # idle share over the live phase: wall time with no trigger running
    if due and live_prog:
        lo, hi = due[0], max(stats.commit_us(p) for p in live_prog)
        busy = stats.covered([(p["timestamp_ms"] * 1000, stats.commit_us(p)) for p in live_prog], lo, hi)
        m["trigger.idle_share"] = 1.0 - busy / max(1, hi - lo)
    r = res["replay"]
    if r:
        m["source.csv_parse_s"] = r["csv_parse_s"]
        m["kpis.transform_s"] = r["transform_s"]
        for t, v in r["table_s"].items():
            m[f"kpis.{t}_s"] = v
        m["sink.merge_p50_s"] = _p50(r["merge_s"])
        m["sink.read_s"] = r["read_s"]
        m["sink.store_bytes"] = r["store_bytes"]


def _registry_layers(m, raw):
    res = raw["result"]
    group = {q: g for g, qs in res["groups"].items() for q in qs}
    counters = raw.get("exec_counters", {})
    by_q = {}
    for e in res["execs"]:
        by_q.setdefault(e["query"], []).append(e)
    for q, es in by_q.items():
        g = group[q]
        best = min(es, key=lambda e: e["build_s"] + e["plan_s"] + e["exec_s"])
        m[f"registry.{g}.cpu_s"] += sum(e["cpu_s"] for e in es)
        for k in ("build_s", "plan_s", "exec_s"):
            m[f"registry.{g}.s"] += best[k]
            m[f"registry.{g}.{k}"] += best[k]
            if f"registry.{q}.{k}" in m:
                m[f"registry.{q}.{k}"] = best[k]
        runs = len(es)
        m[f"cache.{g}.tracked_frames"] += sum(e["tracked_frames"] for e in es) / runs
        m[f"cache.{g}.bytes"] += sum(e["cache_bytes"] for e in es) / runs
        for e in es:
            for span_key, prefix in (("build_span", "build_"), ("exec_span", ""), ("plan_span", "")):
                c = counters.get(str(e[span_key]))
                if not c:
                    continue
                if prefix:
                    m[f"exec.{g}.build_jobs"] += c["jobs"] / runs
                else:
                    m[f"exec.{g}.jobs"] += c["jobs"] / runs
                m[f"exec.{g}.stages"] += c["stages"] / runs
                m[f"exec.{g}.tasks"] += c["tasks"] / runs
                m[f"exec.{g}.executor_run_s"] += c["executor_run_ms"] / 1e3 / runs
                m[f"exec.{g}.executor_cpu_s"] += c["executor_cpu_ns"] / 1e9 / runs
                m[f"exec.{g}.shuffle_read_bytes"] += c["shuffle_read_bytes"] / runs
                m[f"exec.{g}.shuffle_write_bytes"] += c["shuffle_write_bytes"] / runs
                m[f"exec.{g}.spill_bytes"] += c["spill_bytes"] / runs


def all_spans(raw, workload):
    """The JVM's spans plus one trace per streaming trigger."""
    top = max([s["id"] for s in raw["spans"]] + [s["trace"] for s in raw["spans"]] + [0])
    counter = itertools.count(top + 1)
    prog = kpi_progress(raw) + drain_progress(raw) if workload == "streaming" else []
    return list(raw["spans"]) + stats.trigger_spans(prog, lambda: next(counter))

"""Turns the JVM's raw record into the benchmark's metrics.

End-to-end metrics share one set of names across workloads; each workload
names its operations (see perfbench/metrics.json):

              research_api                      curate_ingest
  main (op)   request that ran the pipeline     ingest micro-batch
  side        status / result read              snapshot read (4 kinds)
  aux         request served by the cache gate  fused curation pass
  rate        sessions per second               ingested docs per second
"""
from . import stats

SCANS = ["scan_point", "scan_range", "read_as_of", "count_where"]
MAIN = {"research_api": ["research"], "curate_ingest": ["ingest"]}
SIDE = {"research_api": ["read"], "curate_ingest": SCANS}
AUX = {"research_api": ["cached"], "curate_ingest": ["pass"]}
# research_api throughput counts whole sessions: every op of a completed session
RATE_BY_GROUP = {"research_api"}


def _ms(ops, kinds, traced=None):
    return [o["ms"] for o in ops if o["ok"] and o["kind"] in kinds
            and (traced is None or o["traced"] == traced)]


def _rate(workload, ops):
    if workload in RATE_BY_GROUP:
        groups = {}
        for o in ops:
            if o["group"] >= 0:
                groups.setdefault(o["group"], []).append(o)
        done = [g for g in groups.values() if any(o["units"] > 0 and o["ok"] for o in g)]
        units = sum(o["units"] for g in done for o in g)
        ms = sum(o["ms"] for g in done for o in g)
    else:
        main = [o for o in ops if o["ok"] and o["kind"] in MAIN[workload]]
        units = sum(o["units"] for o in main)
        ms = sum(o["ms"] for o in main)
    return units / (ms / 1000.0) if ms > 0 else None


def end_to_end(workload, raw):
    """Untraced-run metrics: (metrics dict, detail lines)."""
    ops = [o for o in raw["ops"] if not o["traced"]]
    main, side = _ms(ops, MAIN[workload]), _ms(ops, SIDE[workload])
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    m = {
        "setup_s": stats.p50(raw["setup_s"]),
        "ok_frac": 1.0 - failed / attempted if attempted else None,
        "op_p50_ms": stats.p50(main), "op_tail_ms": stats.tail(main)[0],
        "side_p50_ms": stats.p50(side), "side_tail_ms": stats.tail(side)[0],
        "aux_p50_ms": stats.p50(_ms(ops, AUX[workload])),
        "rate_per_s": _rate(workload, ops),
    }
    lines = ["setup_s = %s s (median of %d set-ups)" % (_f(m["setup_s"]), len(raw["setup_s"])),
             "failed_frac = %s (%d of %d ops)" % (_f(failed / max(attempted, 1)), failed, attempted)]
    named = {
        "research_api": [("research", "research"), ("cached", "cached"), ("turn", "turn"),
                         ("read", "read")],
        "curate_ingest": [("ingest", "ingest"), ("scan", SCANS), ("curate_pass", "pass")],
    }[workload]
    for label, kinds in named:
        xs = _ms(ops, kinds if isinstance(kinds, list) else [kinds])
        t, pct, n = stats.tail(xs)
        lines.append("%s_p50_ms = %s ms, %s_tail_ms = %s ms (p%s, n=%d)" % (
            label, _f(stats.p50(xs)), label, _f(t), _f(pct), n))
    rate = m["rate_per_s"]
    if workload == "research_api":
        lines.append("sessions_per_min = %s" % _f(rate and rate * 60))
    else:
        lines.append("ingest_docs_per_s = %s" % _f(rate))
        passes = [o for o in ops if o["ok"] and o["kind"] == "pass"]
        ms = sum(o["ms"] for o in passes)
        lines.append("curate_docs_per_s = %s" % _f(
            sum(o["units"] for o in passes) / (ms / 1000.0) if ms else None))
    return m, lines


def _f(x):
    return "n/a" if x is None else "%.4g" % x


def per_layer(workload, raw):
    """Traced-run metrics: (metrics dict, detail lines)."""
    ops = raw["ops"]
    traced = [o for o in ops if o["traced"] and o["ok"]]
    main_ops = [o for o in traced if o["kind"] in MAIN[workload]]
    side_ops = [o for o in traced if o["kind"] in SIDE[workload]]
    counters = raw.get("counters", {})
    samples, gauges = raw.get("samples", {}), raw.get("gauges", {})
    m = {}

    def spark_of(o):
        c = counters.get(str(o["id"]), {})
        gap = stats.driver_gap_ms(o["start_ms"], o["end_ms"],
                                  [tuple(s) for s in c.get("job_spans", [])])
        return {"jobs": c.get("jobs", 0), "stages": c.get("stages", 0),
                "tasks": c.get("tasks", 0), "executor_cpu_ms": c.get("cpu_ms", 0),
                "executor_run_ms": c.get("run_ms", 0), "driver_gap_ms": gap,
                "shuffle_write_bytes": c.get("shuffle_write", 0),
                "spill_bytes": c.get("spill", 0)}

    for key in ("jobs", "stages", "tasks", "executor_cpu_ms", "executor_run_ms",
                "driver_gap_ms", "shuffle_write_bytes", "spill_bytes"):
        m["spark." + key] = stats.p50([spark_of(o)[key] for o in main_ops])
    for key in ("jobs", "driver_gap_ms"):
        m["spark.%s_side" % key] = stats.p50([spark_of(o)[key] for o in side_ops])
    for key in ("read_ops", "write_ops", "list_ops", "bytes_read", "bytes_written"):
        m["fs." + key] = stats.p50([o["fs"].get(key, 0) for o in main_ops])
    for key in ("read_ops", "list_ops"):
        m["fs.%s_side" % key] = stats.p50([o["fs"].get(key, 0) for o in side_ops])

    spans = [tuple(s) for s in raw.get("spans", [])]
    by_name = {}
    for s in spans:
        by_name.setdefault(s[2], []).append((s[5] - s[4]) / 1e6)
    for name, xs in by_name.items():
        m[name + "_ms"] = stats.p50(xs)
    for name, xs in samples.items():
        m[name] = stats.p50(xs) if name.endswith("_ms") else sum(xs) / len(xs)
    m.update(gauges)
    if "snapshots.manifest_raw_lines" in samples:
        m["snapshots.manifest_raw_lines"] = samples["snapshots.manifest_raw_lines"][-1]
    if "snapshots.candidate_files_frac" in samples:
        xs = samples["snapshots.candidate_files_frac"]
        m["snapshots.candidate_files_frac"] = sum(xs) / len(xs)
    if workload == "research_api":
        m["api.cached_p50_ms"] = stats.p50(_ms(ops, ["cached"]))
        m["api.turn_p50_ms"] = stats.p50(_ms(ops, ["turn"]))
    if workload == "curate_ingest":
        for kind in SCANS:
            m["snapshots.%s_ms" % kind] = stats.p50([o["ms"] for o in side_ops if o["kind"] == kind])
        phases = ["text.token_stats", "dedup.minhash", "dedup.lsh_pairs", "dedup.cc",
                  "dedup.survivors", "ops.mix_split"]
        pass_ops = [o for o in traced if o["kind"] == "pass"]
        sums = []
        for o in pass_ops:
            sums.append(sum((s[5] - s[4]) / 1e6 for s in spans
                            if s[3] == o["id"] and s[2] in phases))
        m["curate.phase_sum_ms"] = stats.p50(sums)
        m["curate.phased_pass_ms"] = stats.p50([o["ms"] for o in pass_ops])
        # Spark jobs started inside the connected-components phase
        base = raw["span_base_epoch_ms"]
        cc_jobs = []
        for s in spans:
            if s[2] == "dedup.cc" and s[3] in {o["id"] for o in pass_ops}:
                lo, hi = base + s[4] / 1e6, base + s[5] / 1e6
                jobs = counters.get(str(s[3]), {}).get("job_spans", [])
                cc_jobs.append(sum(1 for j in jobs if lo <= j[0] <= hi))
        m["dedup.cc_jobs"] = stats.p50(cc_jobs)

    # traced end-to-end figures: tracing overhead is these minus the
    # untraced run's op_p50_ms / side_p50_ms
    traced_p50 = stats.p50([o["ms"] for o in main_ops])
    m["trace.op_p50_ms"] = traced_p50
    m["trace.side_p50_ms"] = stats.p50([o["ms"] for o in side_ops])
    # host-insensitive counts per op, in op order, for checking repeatability
    lines = []
    for kind in sorted({o["kind"] for o in traced}):
        per_op = [(spark_of(o)["jobs"], spark_of(o)["tasks"], o["fs"].get("read_ops", 0))
                  for o in traced if o["kind"] == kind]
        lines.append("%s (jobs, tasks, fs opens+stats) per op: %s" % (kind, per_op))
    selfs = stats.self_times(spans)
    main_ids = {o["id"] for o in main_ops}
    roots = [s for s in spans if s[1] == 0 and s[3] in main_ids]
    if roots:
        m["trace.root_self_frac"] = stats.p50([selfs[s[0]] / max(s[5] - s[4], 1) for s in roots])
        per_name = {}
        for s in spans:
            if s[3] in main_ids:
                per_name[s[2]] = per_name.get(s[2], 0) + selfs[s[0]] / 1e6
        n = len(roots)
        total = sum(per_name.values()) / n
        lines.append("main op (traced): p50 %s ms, self-time sum %s ms/op over %d ops"
                     % (_f(traced_p50), _f(total), n))
        for name, v in sorted(per_name.items(), key=lambda kv: -kv[1])[:10]:
            lines.append("  self %-32s %10.1f ms/op" % (name, v / n))
    return m, lines

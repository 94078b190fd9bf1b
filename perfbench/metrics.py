"""Turns one run's raw ledger (written by the JVM harness) into the
benchmark's metrics and runs the checks that need the whole run.

`end_to_end` returns (metrics, details, checks) and `per_layer` returns
(metrics, checks): metrics keyed by the names in BENCHMARK.json,
details are extra named figures printed for people, checks are
(name, ok, detail) triples."""
import json

import stats

LAYERS = ["kafkasim", "functions", "pipeline", "catalog", "monitors",
          "operators"]
SQL_HEADLINES = ("q01_pricing_summary", "q03_shipping_priority",
                 "q05_local_supplier_volume", "q06_forecast_revenue")


def mean(xs):
    return sum(xs) / len(xs)


def p50(xs):
    return stats.median(xs) if xs else 0.0


def offsets(js):
    """Kafka-shaped offsets JSON -> total offset over its partitions."""
    if not js:
        return 0
    return sum(o for topic in json.loads(js).values() for o in topic.values())


def appends(phase):
    return [c for c in phase["commits"] if c["op"] == "streaming-append"]


# ---------------------------------------------------------- end to end

def steady_rate(drains):
    """Records committed per second from the first to the last bronze
    commit of each drain, pooled over the drains; the first commit is
    left out because it also pays query start."""
    rows = ms = 0.0
    for d in drains:
        cs = appends(d)
        rows += cs[-1]["rows"] - cs[0]["rows"]
        ms += cs[-1]["commit_ms"] - cs[0]["commit_ms"]
    return rows / (ms / 1000.0)


def backlog_visibility(drains):
    """(ms from drain start until visible, records) per bronze commit:
    every backlog record is available when the drain starts."""
    out = []
    for d in drains:
        prev = 0
        for c in appends(d):
            out.append((c["commit_ms"] - d["start_ms"], c["rows"] - prev))
            prev = c["rows"]
    return out


def live_freshness(live):
    n = live["per_partition_per_tick"]
    ticks = [(t["due_ms"], [(k + 1) * n] * live["partitions"])
             for k, t in enumerate(live["ticks"])]
    return stats.freshness(ticks, [b["end"] for b in live["batches"]],
                           [c["commit_ms"] for c in appends(live)])


def live_rate(live):
    """Generated records / (commit of the last tick - due of the first)."""
    fresh = live_freshness(live)
    ticks = live["ticks"]
    records = len(ticks) * live["partitions"] * live["per_partition_per_tick"]
    span = ticks[-1]["due_ms"] + fresh[-1] - ticks[0]["due_ms"]
    return records / (span / 1000.0)


def read_checks(reads, live, tag):
    """Every pinned read of the live table is whole-batch and
    duplicate-free."""
    n = live["per_partition_per_tick"]
    per_tick = [[(n, int(round(t["sums"][p]))) for t in live["ticks"]]
                for p in range(live["partitions"])]
    period = live["ts_period_ms"]
    bad = [(r["kind"], r["version"], r["n"], r["d"], r["s"]) for r in reads
           if not stats.consistent_read(
               r["n"], r["d"], r["s"], per_tick,
               0 if r["kind"] == "full" else r["recent_ts_ms"] // period)]
    return [(f"{tag} pinned reads whole-batch and duplicate-free", not bad,
             f"inconsistent reads (kind, version, n, distinct, sum) {bad[:5]}")]


def live_checks(live, tag):
    checks = [(f"{tag} one snapshot per committed batch",
               len(appends(live)) == len(live["batches"]),
               f"{len(appends(live))} snapshots, "
               f"{len(live['batches'])} batches"),
              (f"{tag} reads made", len(live["reads"]) > 0, "no reads")]
    return checks + read_checks(live["reads"], live, tag)


def drain_checks(drains, tag):
    bad = [(r["version"], r["n"], r["d"]) for d in drains for r in d["reads"]
           if r["kind"] == "full" and not (r["n"] == r["d"] == d["records"])]
    return [(f"{tag} reads see the whole drained backlog once", not bad,
             f"reads (version, n, distinct) {bad[:5]}"),
            (f"{tag} commits per drain", all(len(appends(d)) >= 10
                                             for d in drains),
             "a drain made fewer than 10 bronze commits")]


def mix_checks(passes, want, tag):
    """Every query of every pass ran, and its result digest is the one
    DuckDB computed from the query's oracle SQL."""
    ran = [q["name"] for p in passes for q in p["queries"]]
    bad = [(q["name"], i) for i, p in enumerate(passes) for q in p["queries"]
           if q["digest"] != want.get(q["name"])]
    missing = sorted(set(want) - set(ran))
    return [(f"{tag} results match the DuckDB oracle digests", not bad,
             f"(query, pass) with a different result: {bad[:6]}"),
            (f"{tag} every headline ran", not missing,
             f"not run: {missing}")]


def query_ms(passes):
    return [q["end_ms"] - q["start_ms"] for p in passes for q in p["queries"]]


def pass_s(passes):
    return [(p["end_ms"] - p["start_ms"]) / 1000.0 for p in passes]


def mem_peak_mb(raw):
    """Largest heap in use right after a GC, plus non-heap in use (class
    metadata and compiled code) at the end: the program's memory,
    whatever size the heap grew to."""
    return (raw["live_heap_peak_bytes"] + raw["non_heap_bytes"]) / 2**20


def memory_details(raw):
    return {"live_heap_peak_mb": (raw["live_heap_peak_bytes"] / 2**20, "MB"),
            "non_heap_mb": (raw["non_heap_bytes"] / 2**20, "MB"),
            "rss_hwm_mb": (raw["rss_hwm_kb"] / 1024.0, "MB")}


def read_p50(samples):
    """The median read latency with each kind of read weighted
    equally: the mean over kinds of that kind's median. `samples` are
    (kind, ms) pairs."""
    kinds = {}
    for kind, ms in samples:
        kinds.setdefault(kind, []).append(ms)
    return mean([stats.median(v) for v in kinds.values()])


def mix_end_to_end(raw, setup, want):
    passes = raw["passes"]
    lat = query_ms(passes)
    one_pass = mean(pass_s(passes))
    metrics = {
        "setup_s": setup,
        "mix_pass_s": one_pass,
        "ingest_records_per_s": raw["input_rows"] / one_pass,
        "freshness_p50_ms": stats.percentile(lat, 50),
        "freshness_p95_ms": stats.percentile(lat, 95),
        "read_p50_ms": read_p50([(q["name"], q["end_ms"] - q["start_ms"])
                                 for p in passes for q in p["queries"]
                                 if q["name"] in SQL_HEADLINES]),
        "storage_bytes_per_record": raw["persisted_bytes"] / raw["input_rows"],
        "mem_peak_mb": mem_peak_mb(raw),
    }
    details = {
        "passes": (len(passes), "count"),
        "query_samples": (len(lat), "count"),
        "query_tail_supported_pct": (stats.tail_percentile(len(lat)) or 0,
                                     "pct"),
        "warmup_pass_s": (raw["setup"]["warmup_ms"] / 1000.0, "s"),
        **memory_details(raw),
    }
    return metrics, details, mix_checks([raw["warm_pass"]] + passes, want,
                                        "mix")


def end_to_end(raw, spawn_ms, want_digests):
    setup = (raw["setup"]["end_ms"] - spawn_ms) / 1000.0
    if raw["workload"] == "llm_query_mix":
        return mix_end_to_end(raw, setup, want_digests)
    if raw["workload"] == "ingest_backlog":
        drains = raw["drains"]
        vis = backlog_visibility(drains)
        fresh = (stats.weighted_percentile(vis, 50),
                 stats.weighted_percentile(vis, 95))
        reads = [r for d in drains for r in d["reads"]]
        final = appends(drains[-1])[-1]
        rate = steady_rate(drains)
        one_pass = mean([(d["end_ms"] - d["start_ms"]) / 1000.0
                         for d in drains])
        checks = drain_checks(drains, "backlog")
        details = {
            "drains": (len(drains), "count"),
            "commits_per_drain": (len(appends(drains[0])), "count"),
            "drain_records_per_s": (stats.median([
                d["records"] / ((d["end_ms"] - d["start_ms"]) / 1000.0)
                for d in drains]), "records/s"),
            "freshness_samples": (sum(w for _, w in vis), "records"),
        }
    else:
        live = raw["live"]
        f = live_freshness(live)
        fresh = (stats.percentile(f, 50), stats.percentile(f, 95))
        reads = live["reads"]
        final = live["commits"][-1]
        rate = live_rate(live)
        commits = [c["commit_ms"] for c in appends(live)]
        one_pass = (commits[-1] - commits[0]) / (len(commits) - 1) / 1000.0
        late = max(t["sent_ms"] - t["due_ms"] for t in live["ticks"])
        checks = live_checks(live, "live") + [
            ("live generator kept its schedule", late < 1000,
             f"generator ran {late:.0f} ms late")]
        details = {
            "ticks": (len(f), "count"),
            "freshness_tail_supported_pct": (stats.tail_percentile(len(f))
                                             or 0, "pct"),
            "live_batches": (len(live["batches"]), "count"),
            "gen_late_ms_max": (late, "ms"),
        }
    read_ms = [r["total_ms"] for r in reads]
    details.update(memory_details(raw))
    details["read_samples"] = (len(read_ms), "count")
    details["read_tail_supported_pct"] = (
        stats.tail_percentile(len(read_ms)) or 0, "pct")
    metrics = {
        "setup_s": setup,
        "ingest_records_per_s": rate,
        "freshness_p50_ms": fresh[0],
        "freshness_p95_ms": fresh[1],
        "read_p50_ms": read_p50([(r["kind"], r["total_ms"]) for r in reads]),
        "mix_pass_s": one_pass,
        "storage_bytes_per_record": final["bytes"] / final["rows"],
        "mem_peak_mb": mem_peak_mb(raw),
    }
    return metrics, details, checks


# ----------------------------------------------------------- per layer

def spark_layer(jobs, windows):
    inside = [j for j in jobs
              if j["end_ms"] > 0 and any(ws <= j["start_ms"] < we
                                         for ws, we in windows)]
    intervals = [(j["start_ms"], j["end_ms"]) for j in inside]
    wall_ms = stats.union_length(windows)
    run_ms = sum(j["run_ms"] for j in inside)
    return {
        "spark.jobs": len(inside),
        "spark.stages": sum(j["stages"] for j in inside),
        "spark.tasks": sum(j["tasks"] for j in inside),
        "spark.executor_run_s": run_ms / 1000.0,
        "spark.executor_cpu_s": sum(j["cpu_ns"] for j in inside) / 1e9,
        "spark.core_busy_share": run_ms / (wall_ms * 4) if wall_ms else 0.0,
        "spark.driver_only_s": stats.driver_only(windows, intervals) / 1000.0,
        "spark.shuffle_read_bytes": sum(j["shuffle_read"] for j in inside),
        "spark.shuffle_write_bytes": sum(j["shuffle_write"] for j in inside),
        "spark.spill_bytes": sum(j["spill"] for j in inside),
        "spark.peak_exec_mem_mb": max([j["peak_mem"] for j in inside],
                                      default=0) / 2**20,
    }


def self_times(spans):
    """Per layer: span time not covered by the span's own children."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        own = (s["end_ms"] - s["start_ms"]) - stats.union_length(
            stats.clip(kids, [(s["start_ms"], s["end_ms"])]))
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return {f"{k}.self_s": v / 1000.0 for k, v in out.items()}


def mix_layers(raw, spans, names, want):
    """Per headline, over the traced passes: medians of wall time, of
    the builder call and, from the listener, of its jobs, their
    executor run time and the wall time outside them."""
    passes = raw["traced_passes"]
    jobs = [j for j in raw.get("jobs", []) if j["end_ms"] > 0]
    per_q = {}
    for p in passes:
        for q in p["queries"]:
            inside = [j for j in jobs
                      if q["start_ms"] <= j["start_ms"] < q["end_ms"]]
            win = [(q["start_ms"], q["end_ms"])]
            per_q.setdefault(q["name"], []).append({
                "s": (q["end_ms"] - q["start_ms"]) / 1000.0,
                "build_s": q["build_ms"] / 1000.0,
                "jobs": len(inside),
                "executor_run_s": sum(j["run_ms"] for j in inside) / 1000.0,
                "driver_only_s": stats.driver_only(
                    win, [(j["start_ms"], j["end_ms"]) for j in inside])
                / 1000.0})
    m = {name: 0.0 for name in names}
    for q, rows in per_q.items():
        for k in rows[0]:
            m[f"operators.{q}.{k}"] = stats.median([r[k] for r in rows])
    m.update(spark_layer(raw.get("jobs", []),
                         [(p["start_ms"], p["end_ms"]) for p in passes]))
    m.update(self_times(spans))
    m["trace.overhead_pct"] = (mean(pass_s(passes)) /
                               mean(pass_s(raw["passes"])) - 1) * 100
    m["trace.spans"] = len(spans)
    return m, mix_checks(passes, want, "traced mix")


def per_layer(raw, spans, names, want_digests):
    if raw["workload"] == "llm_query_mix":
        return mix_layers(raw, spans, names, want_digests)
    if raw["workload"] == "ingest_backlog":
        phases = raw["traced_drains"]
        probes = raw["probes"]
        append_ms = raw["append_ms"]
        latest_ms = probes["latest_ms"]
        windows = [(d["start_ms"], d["end_ms"]) for d in phases]
        late = 0.0
        overhead = steady_rate(raw["drains"]) / steady_rate(phases) - 1
        listener_loss = 0
        checks = drain_checks(phases, "traced backlog")
    else:
        live = raw["traced_live"]
        phases = [live]
        probes = live["probes"]
        append_ms = live["append_ms"]
        latest_ms = live["latest_ms"]
        windows = [(live["start_ms"], live["caught_up_ms"])]
        late = max(t["sent_ms"] - t["due_ms"] for t in live["ticks"])
        # the traced window runs between two untraced ones
        untraced = [raw["live"], raw["live_after"]]
        overhead = (stats.median(live_freshness(live)) /
                    (sum(stats.median(live_freshness(u)) for u in untraced) /
                     2) - 1)
        listener_loss = live["listener_loss_events"] + sum(
            u["listener_loss_events"] for u in untraced)
        checks = (live_checks(live, "traced live") +
                  live_checks(raw["live_after"], "live after traced"))
    return ingest_layers(raw, spans, names, phases, probes, append_ms,
                         latest_ms, windows, late, overhead, listener_loss,
                         checks)


def ingest_layers(raw, spans, names, phases, probes, append_ms, latest_ms,
                  windows, late, overhead, listener_loss, checks):
    prog = [p for ph in phases for p in ph["progress"] if p["rows"] > 0]
    dur = lambda k: p50([p["duration_ms"].get(k, 0) for p in prog])
    reads = [r for ph in phases for r in ph["reads"]]
    final = phases[-1]["commits"][-1]
    mons = [ph["monitors"] for ph in phases]
    scan = stats.median(probes["scan_ms"])
    m = {name: 0.0 for name in names}
    m.update({
        "kafkasim.scan_s": scan / 1000.0,
        "kafkasim.rows_read": sum(p["rows"] for p in prog),
        "kafkasim.latest_offset_ms_p50": p50(latest_ms),
        "kafkasim.append_ms_p50": p50(append_ms),
        "kafkasim.segments": probes["segments"],
        "kafkasim.lag_records_max": max(
            [offsets(p["latest"]) - offsets(p["end"]) for p in prog],
            default=0),
        "functions.decode_s":
            max(stats.median(probes["scan_decode_ms"]) - scan, 0.0) / 1000.0,
        "pipeline.batches": len(prog),
        "pipeline.rows_per_batch": p50([p["rows"] for p in prog]),
        "pipeline.trigger_ms_p50": dur("triggerExecution"),
        "pipeline.add_batch_ms_p50": dur("addBatch"),
        "pipeline.query_planning_ms_p50": dur("queryPlanning"),
        "pipeline.wal_commit_ms_p50": dur("walCommit"),
        "pipeline.commit_offsets_ms_p50": dur("commitOffsets"),
        "catalog.versions": len(phases[-1]["commits"]),
        "catalog.data_files": final["files"],
        "catalog.manifest_segments": final["segments"],
        "catalog.data_bytes": final["bytes"],
        "catalog.snapshot_load_ms_p50": p50(probes["snapshot_load_ms"]),
        "catalog.scan_plan_ms_p50": p50([r["plan_ms"] for r in reads]),
        "catalog.scan_exec_ms_p50": p50([r["exec_ms"] for r in reads]),
        "monitors.preflight_ms": p50([x["preflight_ms"] for x in mons]),
        "monitors.checkpoint_diff_ms": p50([x["checkpoint_diff_ms"]
                                            for x in mons]),
        "monitors.loss_events": sum(x["loss_events"] for x in mons) +
        listener_loss,
        "gen.late_ms_max": late,
        "trace.overhead_pct": overhead * 100.0,
        "trace.spans": len(spans),
    })
    m.update(spark_layer(raw.get("jobs", []), windows))
    m.update(self_times(spans))
    return m, checks

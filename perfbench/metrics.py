"""Turns one run's operation records and spans into the printed result."""

from __future__ import annotations

import statistics

import tracer as T
from workloads import REPORTS


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    v = sorted(values)
    k = min(len(v) - 1, max(0, -(-len(v) * q // 100) - 1))
    return v[int(k)]


def _lat(run, *kinds: str) -> list[float]:
    return [o["ms"] for o in run.ops if o["ok"] and o["kind"] in kinds]


def workload_figures(workload: str, run) -> dict:
    """The workload's named end-to-end figures, plus the generic ones every
    workload reports: ``throughput_per_s`` and ``latency_p50_ms``,
    ``setup_s``, ``peak_rss_mb`` and ``failed_frac``.

    nightly: throughput is the routes scored for its dates per second of
    the whole job (batch, refreshes, maintenance and the streaming pass);
    latency is the median freshness of its refresh cycles.
    serve: throughput is queries per second (each lookup, map,
    prediction and dashboard report); latency is the median serving
    request (lookup, map or prediction)."""
    f: dict = {}
    if workload == "nightly":
        dates = _lat(run, "date")
        fresh = _lat(run, "refresh")
        routes = run.ops[0]["routes"]
        f["nightly.dates"] = len(dates)
        f["nightly.date_p50_ms"] = statistics.median(dates)
        f["nightly.routes_per_s"] = routes * len(dates) / run.window_s
        f["nightly.refreshes"] = len(fresh)
        f["nightly.freshness_p50_ms"] = statistics.median(fresh)
        f["nightly.freshness_max_ms"] = max(fresh)
        f["nightly.maintain_p50_ms"] = statistics.median(_lat(run, "maintain"))
        f["nightly.stream_pass_ms"] = statistics.median(_lat(run, "stream"))
        rate, latency = f["nightly.routes_per_s"], f["nightly.freshness_p50_ms"]
    else:
        serving = _lat(run, "lookup", "map", "predict")
        dashboards = _lat(run, "dashboard")
        f["serve.requests"] = len(serving) + len(dashboards)
        f["serve.queries_per_s"] = ((len(serving) + len(REPORTS) * len(dashboards))
                                    / run.window_s)
        f["serve.p50_ms"] = statistics.median(serving)
        f["serve.p90_ms"] = pct(serving, 90)
        for k in ("lookup", "map", "predict", "dashboard"):
            f[f"serve.{k}_p50_ms"] = statistics.median(_lat(run, k))
        rate, latency = f["serve.queries_per_s"], f["serve.p50_ms"]
    f["throughput_per_s"] = rate
    f["latency_p50_ms"] = latency
    f["setup_s"] = statistics.median(run.setup_times)
    f["peak_rss_mb"] = run.extra["peak_rss_mb"]
    f["failed_frac"] = (sum(1 for o in run.ops if not o["ok"])
                        / max(1, len(run.ops)))
    return f


def layer_figures(run, spans: list, overhead_s: float) -> dict:
    """Per-layer figures from the spans: mean self time per operation of
    each layer (plan and exec spans of one builder call form one
    operation), Spark jobs per operation, and the counts noted on spans."""
    tot = T.layer_totals(spans)
    f: dict = {}

    def ops(key: str) -> int:
        t = tot.get(key)
        return (t["exec_n"] or t["call_n"]) if t else 0

    def ms(key: str) -> float:
        t = tot.get(key)
        return t["self_s"] * 1e3 / ops(key) if t and ops(key) else 0.0

    def per_op(key: str, field: str) -> float:
        t = tot.get(key)
        return t.get(field, 0) / ops(key) if t and ops(key) else 0.0

    f["session.get_spark_s"] = ms("session.get_spark") / 1e3
    f["domain.warm_s"] = ms("domain") / 1e3
    f["domain.memo_frames"] = per_op("domain", "memo_frames")
    for layer in ("operators.scoring", "operators.batch"):
        t = tot.get(layer)
        f[f"{layer}.plan_ms"] = (t["plan_s"] * 1e3 / t["plan_n"]
                                 if t and t["plan_n"] else 0.0)
        f[f"{layer}.exec_ms"] = (t["exec_s"] * 1e3 / t["exec_n"]
                                 if t and t["exec_n"] else 0.0)
        f[f"{layer}.jobs"] = per_op(layer, "jobs")
        f[f"{layer}.tasks"] = per_op(layer, "tasks")
    for name, key in (
            ("txlog.commit_ms", "txlog.commit_overwrite_partition"),
            ("txlog.read_ms", "txlog.read_snapshot"),
            ("txlog.merge_ms", "txlog.merge_scores"),
            ("txlog.compact_ms", "txlog.compact"),
            ("txlog.vacuum_ms", "txlog.vacuum"),
            ("sinks.write_ms", "sinks.write_scores"),
            ("sinks.read_ms", "sinks.read_scores"),
            ("sinks.read_current_ms", "sinks.read_scores_current"),
            ("sinks.upsert_ms", "sinks.upsert_scores"),
            ("sinks.compact_ms", "sinks.compact_scores"),
            ("sinks.purge_ms", "sinks.purge_old_partitions"),
            ("streaming.refresh.pass_ms",
             "streaming.refresh.run_incremental_scores")):
        f[name] = ms(key)
        f[name[:-3] + "_jobs"] = per_op(key, "jobs")
    for name in ("txlog.files_per_partition", "txlog.bytes_per_live_byte",
                 "operators.scoring.pairs_per_route",
                 "operators.scoring.pair_yield"):
        f[name] = run.extra.get(name, 0.0)
    # deltas a merge-on-read map read resolves: the refresh's read follows
    # its upsert, whose sequence number counts the deltas since compaction
    seqs = [o["seq"] for o in run.ops if "seq" in o]
    f["sinks.delta_seqs"] = sum(seqs) / len(seqs) if seqs else 0.0
    f["streaming.refresh.batches"] = sum(o.get("batches", 0) for o in run.ops)
    for layer in REPORTS:   # one report query per operator family
        f[f"{layer}.exec_ms"] = ms(layer)
        f[f"{layer}.jobs"] = per_op(layer, "jobs")
    f["spans"] = len(spans)
    f["spark_jobs"] = sum(s.jobs for s in spans)
    f["failed_tasks"] = sum(s.failed_tasks for s in spans)
    f["trace.overhead_ms_per_op"] = overhead_s * 1e3 / max(1, len(run.ops))
    return f


def report(workload: str, run, tr, bench: dict, traced: bool) -> dict:
    figures = workload_figures(workload, run)
    detail = {"attempted": len(run.ops), "window_s": run.window_s,
              **{k: run.extra[k] for k in (
                  "session_start_s", "base_derive_s", "request_warmup_s",
                  "checks_s", "stop_s") if k in run.extra},
              "setup_times_s": run.setup_times, "figures": figures,
              "ops_ms": [[o["kind"], round(o["ms"], 1)] for o in run.ops],
              "errors": sorted({o["error"] for o in run.ops if "error" in o})[:5]}
    if traced:
        layers = layer_figures(run, tr.spans, tr.overhead_s)
        detail["layers"] = layers
        wanted = bench["per_layer"]
        source = layers
    else:
        wanted = bench["end_to_end"]
        source = figures
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0),
                           "unit": m["unit"]} for m in wanted}
    failed = sum(1 for o in run.ops if not o["ok"])
    return {"detail": detail,
            "correct": failed == 0 and len(run.ops) > 0,
            "attempted": len(run.ops), "failed": failed, "metrics": metrics}

"""Per-layer metrics for the traced run: which public call is patched
(see ``install``) and how its spans become the reported numbers (see
``metrics``). Only spans inside the workload's timed windows count when
the windows contain any; otherwise (write layers in ``final_read``,
which ran during its set-up) all spans of the run count."""

from __future__ import annotations

import statistics

from perfbench.lag import percentile
from perfbench.tracing import Tracer


def install(tracer: Tracer) -> None:
    """Patch each layer's public entry point where callers look it up.
    The benchmark's own calls (session start, decode pass, spool write,
    ``apply_batch``, change-feed and FINAL collects) carry explicit
    spans instead."""
    from synch_spark import pipeline
    from synch_spark.operators import cdc_apply
    from synch_spark.sources import bloom, manifest, table
    from synch_spark.streaming import pipeline as streaming

    tracer.patch(pipeline, "etl_full", "pipeline.etl_full")
    tracer.patch(streaming, "apply_cdc_batch", "cdc_apply.apply")
    tracer.patch(streaming, "log_monitor_row", "streaming.monitor_row")
    tracer.patch(cdc_apply, "read_current_state", "engines.final_plan")
    tracer.patch(manifest, "refresh_manifest", "manifest.refresh")

    def built(rec, result, args, kwargs):
        rec["n"] = int(result or 0)

    tracer.patch(bloom, "build_file_blooms", "bloom.build", after=built)

    def pruned(rec, result, args, kwargs):
        rec["live"] = len(args[0].snapshot().files)
        rec["kept"] = rec["live"] if result is None else len(result)

    tracer.patch(bloom, "prune_files", "bloom.prune", after=pruned)

    def cow(rec, result, args, kwargs):
        t, remove = args[0], args[2] if len(args) > 2 else kwargs["remove_rels"]
        base = kwargs.get("expected_base", args[3] if len(args) > 3 else None)
        rec["removed"] = len(remove)
        try:
            rec["live"] = len(t.snapshot(base).files)
        except (OSError, ValueError):
            rec["live"] = None

    T = table.ParquetTable
    tracer.patch(T, "overwrite_cow_files", "table.cow_commit", after=cow)
    tracer.patch(T, "append", "table.append")
    tracer.patch(T, "read", "table.read_plan")

    orig = table.commit_with_retry

    def commit_with_retry(txn, *args, **kwargs):
        # count attempts: every call of ``txn`` past the first is a retry
        with tracer.span("cdc_apply.commit") as rec:
            rec["attempts"] = 0

            def counted():
                rec["attempts"] += 1
                return txn()

            return orig(counted, *args, **kwargs)

    tracer.replace(table, "commit_with_retry", commit_with_retry)


def metrics(tracer: Tracer, extra: dict, windows, span_cost_s: float,
            units: dict) -> tuple[dict, dict]:
    """(metrics, sample counts) for every ``{name: unit}`` in ``units``
    (BENCHMARK.json's per_layer); a name computed here but not listed
    there, or listed but not computed, is an error."""
    spans = [s for s in tracer.spans if s["t1"] is not None]

    def sel(name):
        xs = [s for s in spans if s["name"] == name]
        inside = [s for s in xs
                  if any(w0 <= s["t0"] <= w1 for w0, w1 in windows)]
        if inside:
            return inside
        return xs

    def dur(name):
        return [s["t1"] - s["t0"] for s in sel(name)]

    def med(name):
        d = dur(name)
        return (statistics.median(d) if d else 0.0), len(d)

    out, n = {}, {}

    def put(key, value, count):
        out[key] = float(value)
        n[key] = int(count)

    for key, span in (("session.start_s", "session.start"),
                      ("pipeline.etl_full_s", "pipeline.etl_full"),
                      ("binlog_file.decode_s", "binlog_file.decode"),
                      ("broker.spool_write_s", "broker.spool_write"),
                      ("streaming.monitor_row_s", "streaming.monitor_row"),
                      ("cdc_apply.apply_p50_s", "cdc_apply.apply"),
                      ("table.cow_commit_s", "table.cow_commit"),
                      ("table.append_s", "table.append"),
                      ("table.read_plan_s", "table.read_plan"),
                      ("table.changes_s", "table.changes"),
                      ("bloom.build_s", "bloom.build"),
                      ("bloom.prune_s", "bloom.prune"),
                      ("manifest.refresh_s", "manifest.refresh"),
                      ("engines.final_plan_s", "engines.final_plan"),
                      ("engines.final_exec_s", "engines.final_exec")):
        put(key, *med(span))
    ab = dur("streaming.apply_batch")
    put("streaming.batches", len(ab), len(ab))
    put("streaming.events_per_batch", extra.get("events_per_batch", 0), len(ab))
    put("streaming.apply_batch_p50_s", percentile(ab, 0.5) if ab else 0, len(ab))
    put("streaming.apply_batch_p90_s", percentile(ab, 0.9) if ab else 0, len(ab))
    put("streaming.outside_batch_s", extra.get("outside_batch_s", 0), len(ab))
    put("streaming.trigger_wait_p50_s", extra.get("trigger_wait_p50_s", 0),
        extra.get("lag_n", 0))
    put("streaming.backlog_files_max", extra.get("backlog_files_max", 0),
        len(ab))
    ca = dur("cdc_apply.apply")
    put("cdc_apply.calls", len(ca), len(ca))
    put("cdc_apply.apply_sum_s", sum(ca), len(ca))
    commits = sel("cdc_apply.commit")
    put("cdc_apply.commit_retries",
        sum(max(0, s["attempts"] - 1) for s in commits), len(commits))
    cow = [s for s in sel("table.cow_commit") if s.get("live")]
    put("cdc_apply.files_rewritten_frac",
        (sum(s["removed"] for s in cow) / sum(s["live"] for s in cow))
        if cow else 0, len(cow))
    put("table.files_end", extra.get("orders_files_end", 0), 1)
    put("table.median_file_kb", extra.get("orders_median_file_kb", 0), 1)
    bb = sel("bloom.build")
    put("bloom.files_built", sum(s.get("n", 0) for s in bb), len(bb))
    bp = [s for s in sel("bloom.prune") if s.get("live")]
    put("bloom.files_kept_frac",
        (sum(s["kept"] for s in bp) / sum(s["live"] for s in bp)) if bp else 0,
        len(bp))
    put("generator.late_max_ms", extra.get("generator_late_max_ms", 0),
        extra.get("lag_n", 0))
    forced = sum(dur("binlog_file.decode"))
    put("trace.spans", len(spans), len(spans))
    put("trace.overhead_ms", (len(spans) * span_cost_s + forced) * 1000,
        len(spans))
    if set(out) != set(units):
        raise KeyError(f"per-layer metrics differ from BENCHMARK.json: "
                       f"{sorted(set(out) ^ set(units))}")
    return ({k: {"value": out[k], "unit": u} for k, u in units.items()},
            {k: n[k] for k in units})

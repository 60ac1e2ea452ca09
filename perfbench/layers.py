"""Per-layer metrics of a traced run.

Each layer metric is computed at the boundary where the work happens:
the spans the benchmark recorded around the pipeline stages and the
registry queries, the streaming progress the listener saw, and the
Spark jobs, stages and plan metrics the event log attributes to each
span (:func:`spans.span_stats`).  Layers a workload does not reach
report 0.  The end-to-end metric each layer metric should move, and on
which workload, is listed in ``perfbench/README.md``.
"""

from __future__ import annotations

import json
import statistics

from spans import span_stats

SPARK_KEYS = (
    "jobs", "stages", "tasks", "driver_only_s", "executor_run_s",
    "shuffle_bytes", "exchanges",
)
PYTHON_KEYS = (
    "python.worker_start_s", "python.worker_run_s", "python.bytes_sent",
    "python.bytes_returned", "python.eval_nodes",
)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _corr(xs: list[float], ys: list[float]) -> float:
    if len(xs) < 3:
        return 0.0
    mx, my = _mean(xs), _mean(ys)
    sxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    sxx = sum((x - mx) ** 2 for x in xs)
    syy = sum((y - my) ** 2 for y in ys)
    return sxy / (sxx * syy) ** 0.5 if sxx and syy else 0.0


def _baseline_p50(path: str, workload: str) -> float:
    """The untraced ``op_s.p50`` median ``baseline.py`` recorded last."""
    try:
        with open(path) as fh:
            return json.load(fh)["overhead_ref"][workload]
    except (OSError, KeyError, ValueError):
        return 0.0


def per_layer(workload, log, tracer, listener, samples, wl, *, e2e, load1, calib_s,
              baseline_path, query_names) -> dict:
    out: dict[str, float] = {
        "host.load1": load1,
        "host.calib_s": calib_s,
        "op.tail_pct": e2e["tail_pct"],
        "op.count": float(len(samples)),
    }
    base = _baseline_p50(baseline_path, workload)
    out["trace.overhead_frac"] = e2e["op_s.p50"] / base if base else 0.0

    ops = [s for s in samples if "span" in s]
    raw_root = getattr(wl, "raw", "")
    per_op = [
        span_stats(log, tracer.subtree(s["span"]), s["span"], scan_root=raw_root)
        for s in ops
    ]
    for key in SPARK_KEYS:
        out["spark." + key] = _mean(st.get(key, 0.0) for st in per_op)
    for key in PYTHON_KEYS:
        out[key] = _mean(st.get(key, 0.0) for st in per_op)

    # streaming.ingest / pipeline / sources.raw / sources.catalog
    lands, merges, promotes = [], [], []
    reread = []  # (day_batches, rows read, new rows) per tick
    for s in ops:
        if s["op"] != "tick":
            continue
        sub = tracer.subtree(s["span"])
        for sp in sub:
            if sp.name == "land":
                epochs = [p for r in sp.run_ids for p in listener.progress.get(r, ())]
                lands.append(
                    {
                        "s": sp.seconds,
                        "start_stop_s": sp.seconds - sum(p["batch_duration_s"] for p in epochs),
                        "epochs": len(epochs),
                        "input_rows": sum(p["input_rows"] for p in epochs),
                        "files": sp.attrs.get("files_written", 0),
                    }
                )
            elif sp.name == "merge_day":
                rows = span_stats(log, [sp], sp, scan_root=raw_root).get("scan_rows", 0.0)
                merges.append(sp.seconds)
                reread.append((s["day_batches"], rows, s["new_rows"]))
            elif sp.name == "promote_history":
                st = span_stats(log, tracer.subtree(sp), sp)
                promotes.append(
                    {
                        "s": sp.seconds,
                        "rows": st.get("write.rows_written", 0.0),
                        "bytes": st.get("write.bytes_written", 0.0),
                        "keys": wl.keys_changed(s["day"]),
                    }
                )
    out["ingest.land_s"] = _median(x["s"] for x in lands)
    out["ingest.start_stop_s"] = _median(x["start_stop_s"] for x in lands)
    out["ingest.epochs"] = _mean(x["epochs"] for x in lands)
    out["ingest.input_rows"] = _mean(x["input_rows"] for x in lands)
    out["ingest.files_written"] = _mean(x["files"] for x in lands)
    out["pipeline.merge_day_s"] = _median(merges)
    out["raw.rows_read"] = _mean(r for _, r, _ in reread)
    new_total = sum(n for _, _, n in reread)
    out["raw.reread_ratio"] = sum(r for _, r, _ in reread) / new_total if new_total else 0.0
    out["raw.reread_hour_corr"] = _corr(
        [b for b, _, _ in reread], [r / n for _, r, n in reread]
    )
    out["pipeline.promote_history_s"] = _median(x["s"] for x in promotes)
    out["catalog.rows_written"] = _mean(x["rows"] for x in promotes)
    out["catalog.bytes_written"] = _mean(x["bytes"] for x in promotes)
    keys = sum(x["keys"] for x in promotes)
    out["catalog.rewrite_ratio"] = sum(x["rows"] for x in promotes) / keys if keys else 0.0

    ticks = [s for s in samples if s["op"] == "tick"]
    out["history_tick_s.p50"] = _median(s["s"] for s in ticks if s["history"])
    tick_s = sum(s["s"] for s in ticks)
    out["changes_per_s"] = sum(s["new_rows"] for s in ticks) / tick_s if tick_s else 0.0

    for name in query_names:
        out[f"query.{name}_s"] = _median(
            s["s"] for s in samples if s.get("name") == name
        )
    return out

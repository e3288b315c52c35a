"""Per-layer metrics of a traced run, and the trace file behind them.

Layers are the program's modules: ``session``, ``index.build``,
``index.store``, ``index.query`` and ``index.codec``. Each metric is read
from the benchmark's spans around public calls and from the Spark event
log of the same run; per-query counters are medians per query.
"""

from __future__ import annotations

from tracing import MB, Attribution, median, quartiles

# name -> (unit, better); the order is the order printed
PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "session.peak_rss_mb": ("MB", "lower"),
    "index.build.wall_s": ("s", "lower"),
    "index.build.jobs": ("count", "lower"),
    "index.build.tasks": ("count", "lower"),
    "index.build.executor_run_s": ("s", "lower"),
    "index.build.executor_cpu_s": ("s", "lower"),
    "index.build.task_wait_s": ("s", "lower"),
    "index.build.driver_gap_s": ("s", "lower"),
    "index.build.shuffle_write_mb": ("MB", "lower"),
    "index.build.spill_mb": ("MB", "lower"),
    "index.build.failed_tasks": ("count", "lower"),
    "index.store.save.wall_s": ("s", "lower"),
    "index.store.save.tasks": ("count", "lower"),
    "index.store.save.idle_task_ratio": ("ratio", "lower"),
    "index.store.save.files": ("count", "lower"),
    "index.store.save.bytes_mb": ("MB", "lower"),
    "index.store.upsert.wall_s": ("s", "lower"),
    "index.store.upsert.jobs": ("count", "lower"),
    "index.store.upsert.driver_gap_s": ("s", "lower"),
    "index.store.upsert.executor_run_s": ("s", "lower"),
    "index.store.merge.wall_s": ("s", "lower"),
    "index.store.merge.count": ("count", "lower"),
    "index.store.segments": ("count", "lower"),
    "index.store.tombstones": ("count", "lower"),
    "index.store.load.wall_s": ("s", "lower"),
    "index.query.wall_s": ("s", "lower"),
    "index.query.jobs": ("count", "lower"),
    "index.query.tasks": ("count", "lower"),
    "index.query.driver_gap_s": ("s", "lower"),
    "index.query.executor_run_s": ("s", "lower"),
    "index.query.task_wait_s": ("s", "lower"),
    "index.query.shuffle_mb": ("MB", "lower"),
    "index.query.empty_task_ratio": ("ratio", "lower"),
    "index.query.blocks_est": ("blocks", "lower"),
    "index.query.blocks_skipped": ("blocks", "higher"),
    "index.query.prune_ratio": ("ratio", "higher"),
    "index.query.failed_tasks": ("count", "lower"),
    "index.codec.decode_blocks_per_s": ("blocks/s", "higher"),
}


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _named(att: Attribution, name: str) -> list[int]:
    return [s.id for s in att.spans.values() if s.name == name]


def layer_metrics(run, att: Attribution) -> dict:
    """Every PER_LAYER metric for one traced run (0 where the workload
    does not exercise the layer)."""
    m = {k: 0.0 for k in PER_LAYER}
    for sid in _named(att, "session.get_spark"):
        m["session.get_spark_s"] = att.spans[sid].wall
    m["session.peak_rss_mb"] = run.peak_rss_mb

    build = [att.counters(s) for s in _named(att, "index.build")]
    if build:
        b = build[0]
        for k in ("wall_s", "jobs", "tasks", "executor_run_s", "executor_cpu_s",
                  "task_wait_s", "driver_gap_s", "shuffle_write_mb", "spill_mb", "failed_tasks"):
            m[f"index.build.{k}"] = b[k]

    save = [att.counters(s) for s in _named(att, "index.store.save")]
    if save:
        s = save[0]
        m["index.store.save.wall_s"] = s["wall_s"]
        m["index.store.save.tasks"] = s["tasks"]
        m["index.store.save.idle_task_ratio"] = _ratio(s["idle_write_tasks"], s["write_tasks"])
        m["index.store.save.files"] = run.save_files
        m["index.store.save.bytes_mb"] = run.save_bytes / MB

    ups = [att.counters(s) for s in _named(att, "index.store.upsert")]
    for k in ("wall_s", "jobs", "driver_gap_s", "executor_run_s"):
        m[f"index.store.upsert.{k}"] = median([u[k] for u in ups])

    merged = [o for o in run.ops if o.name == "index.store.merge" and o.result not in (None, -1)]
    m["index.store.merge.wall_s"] = median([o.wall for o in merged])
    m["index.store.merge.count"] = len(merged)
    m["index.store.segments"] = run.segments
    m["index.store.tombstones"] = run.tombstones
    m["index.store.load.wall_s"] = median([att.spans[s].wall for s in _named(att, "index.store.load")])

    qs = [o for o in run.queries() if o.span_id in att.spans]
    per_q = [att.counters(o.span_id) for o in qs]
    for k in ("wall_s", "jobs", "tasks", "driver_gap_s", "executor_run_s", "task_wait_s", "shuffle_mb"):
        m[f"index.query.{k}"] = median([c[k] for c in per_q])
    m["index.query.failed_tasks"] = sum(c["failed_tasks"] for c in per_q)
    m["index.query.empty_task_ratio"] = _ratio(
        sum(c["empty_reading_tasks"] for c in per_q), sum(c["shuffle_reading_tasks"] for c in per_q)
    )
    est = [o.blocks_est for o in qs]
    skipped = [o.skipped for o in qs if o.skipped is not None]
    m["index.query.blocks_est"] = median(est)
    m["index.query.blocks_skipped"] = median(skipped)
    m["index.query.prune_ratio"] = _ratio(
        sum(o.skipped or 0 for o in qs), sum(e for o, e in zip(qs, est) if o.skipped is not None)
    )
    m["index.codec.decode_blocks_per_s"] = run.codec_blocks_per_s
    return m


def kind_rows(run, att: Attribution | None) -> list[dict]:
    """One row per (query class, kind): count, latency quartiles and, when
    traced, median jobs / tasks / executor time per query."""
    groups: dict[tuple, list] = {}
    for o in run.queries():
        groups.setdefault((o.query.get("cls"), o.query["kind"]), []).append(o)
    rows = []
    for (cls, kind), ops in sorted(groups.items(), key=lambda kv: (str(kv[0][0]), kv[0][1])):
        lat = [o.wall for o in ops]
        row = {
            "class": cls,
            "kind": kind,
            "n": len(ops),
            "wall_s_quartiles": [round(v, 4) for v in quartiles(lat)],
            "blocks_est_median": median([o.blocks_est for o in ops]),
        }
        if att is not None:
            cs = [att.counters(o.span_id) for o in ops if o.span_id in att.spans]
            for k in ("jobs", "tasks", "executor_run_s", "driver_gap_s"):
                row[f"{k}_median"] = round(median([c[k] for c in cs]), 4)
        rows.append(row)
    return rows

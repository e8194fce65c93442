"""Per-layer metrics of the traced run.

Stream workloads: the replay (perfbench/scala/Replay.scala) gives one span
per engine call per batch; the untraced stream's own reports (Spark's
StreamingQueryProgress in the engine log, and the `batch_committed`
events) give the pipeline layer and the cross-checks.  query_mix: one span
per query phase (builder call, planning, execution).

Unless its name says otherwise, a metric is a mean per streamed batch
(streams) or per query (query_mix).  A layer a workload bypasses reports 0
(a ratio reports 1: nothing was dropped).
"""
import json
import os
import re

import stats

PER_LAYER = [
    ("sources.list_ms", "ms"), ("sources.scan_ms", "ms"),
    ("sources.files_opened", "count"), ("sources.bytes_read", "B"),
    ("cdm.cast_ms", "ms"), ("cdm.rows_per_s", "rows/s"),
    ("ops.stage_ms", "ms"), ("ops.rows_in", "count"), ("ops.rows_out", "count"),
    ("ops.keep_ratio", "ratio"),
    ("streaming.dedup_ms", "ms"), ("streaming.rows_suppressed", "count"),
    ("streaming.keep_ratio", "ratio"), ("streaming.index_files", "count"),
    ("streaming.index_compact_ms", "ms"),
    ("tables.create_ms", "ms"), ("tables.merge_ms", "ms"), ("tables.mor_ms", "ms"),
    ("tables.buckets_rewritten", "count"), ("tables.rows_rewritten_per_row_changed", "ratio"),
    ("tables.files_written", "count"), ("tables.bytes_written", "B"),
    ("tables.lookup_ms", "ms"), ("tables.lookup_files_opened", "count"),
    ("tables.lookup_bytes_read", "B"), ("tables.live_delete_files", "count"),
    ("tables.compact_ms", "ms"), ("tables.compact_bytes_rewritten", "B"),
    ("tables.expire_ms", "ms"), ("tables.orphans_ms", "ms"),
    ("tables.snapshots_live", "count"), ("tables.files_live", "count"),
    ("export.symlink_ms", "ms"), ("export.iceberg_ms", "ms"), ("export.delta_ms", "ms"),
    ("export.files_opened", "count"), ("export.metadata_bytes", "B"),
    ("pipeline.latest_offset_ms", "ms"), ("pipeline.query_planning_ms", "ms"),
    ("pipeline.add_batch_ms", "ms"), ("pipeline.wal_commit_ms", "ms"),
    ("pipeline.batches", "count"), ("pipeline.folders_per_batch", "count"),
    ("pipeline.backlog_max_folders", "count"), ("pipeline.generator_late_ms", "ms"),
    ("pipeline.logged_merge_ms", "ms"), ("pipeline.logged_export_ms", "ms"),
    ("query.construct_ms", "ms"), ("query.construct_jobs", "count"),
    ("query.plan_ms", "ms"), ("query.execute_ms", "ms"), ("query.jobs", "count"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_ms", "ms"),
    ("spark.slot_busy_share", "share"), ("spark.input_bytes", "B"),
    ("spark.shuffle_write_bytes", "B"), ("spark.gc_ms", "ms"),
    ("trace.unattributed_share", "share"), ("trace.wait_p50_s", "s"),
    ("trace.overhead_s", "s"),
]
UNITS = dict(PER_LAYER)


def _empty():
    return {k: 0.0 for k, _ in PER_LAYER}


def stream_progress(log_path):
    """StreamingQueryProgress reports the engine logged (JSON after
    'Streaming query made progress: ', possibly over several lines)."""
    out = []
    if not os.path.exists(log_path):
        return out
    text = open(log_path, errors="replace").read()
    dec = json.JSONDecoder()
    for m in re.finditer(r"Streaming query made progress: ", text):
        try:
            obj, _ = dec.raw_decode(text[m.end():])
            out.append(obj)
        except ValueError:
            pass
    return out


def _sum(spans, name, field="ms"):
    return sum((s["work"][field] if field in s["work"] else s[field])
               for s in spans if s["name"] == name)


def _spark(m, spans, wall_ms, nproc, per):
    w = {k: sum(s["work"][k] for s in spans) for k in
         ("jobs", "tasks", "task_ms", "input_bytes", "shuffle_write_bytes", "gc_ms")}
    m["spark.jobs"] = w["jobs"] / per
    m["spark.tasks"] = w["tasks"] / per
    m["spark.task_ms"] = w["task_ms"] / per
    m["spark.input_bytes"] = w["input_bytes"] / per
    m["spark.shuffle_write_bytes"] = w["shuffle_write_bytes"] / per
    m["spark.gc_ms"] = w["gc_ms"] / per
    m["spark.slot_busy_share"] = w["task_ms"] / max(1e-9, wall_ms * nproc)


def self_times(spans, total_ms):
    """[(layer.name, count, total ms, share of total)] by span name."""
    rows = {}
    for s in spans:
        k = "%s.%s" % (s["layer"], s["name"].split(":")[-1])
        c, t = rows.get(k, (0, 0.0))
        rows[k] = (c + 1, t + s["ms"])
    return sorted(((k, c, t, t / max(1e-9, total_ms)) for k, (c, t) in rows.items()),
                  key=lambda r: -r[2])


def stream_layers(r, nproc, progress, committed, stamps, late, lag, replay_dir):
    spans = [s for s in r["spans"] if s["name"] != "backfill"]
    batches = r["batches"]
    nb = max(1, len(batches))
    m = _empty()
    per = lambda name, field="ms": _sum(spans, name, field) / nb
    m["sources.list_ms"] = per("list")
    m["sources.scan_ms"] = per("scan")
    m["sources.files_opened"] = per("list", "files_opened") + per("scan", "files_opened")
    m["sources.bytes_read"] = per("list", "bytes_opened") + per("scan", "bytes_opened")
    raw = sum(b["raw_rows"] for b in batches)
    staged = sum(b["staged_rows"] for b in batches)
    dedup = sum(b["dedup_rows"] for b in batches)
    m["cdm.cast_ms"] = per("cast")
    m["cdm.rows_per_s"] = raw / max(1e-9, _sum(spans, "cast") / 1000.0)
    m["ops.stage_ms"] = per("stage")
    m["ops.rows_in"] = raw / nb
    m["ops.rows_out"] = staged / nb
    m["ops.keep_ratio"] = staged / max(1, raw)
    m["streaming.dedup_ms"] = per("dedup")
    m["streaming.rows_suppressed"] = (staged - dedup) / nb
    m["streaming.keep_ratio"] = dedup / max(1, staged)
    m["streaming.index_files"] = batches[-1]["index_files"] if batches else 0
    m["streaming.index_compact_ms"] = per("index_compact")
    m["tables.create_ms"] = _sum(r["spans"], "backfill")
    m["tables.merge_ms"] = per("merge")
    m["tables.mor_ms"] = per("mor")
    m["tables.buckets_rewritten"] = sum(b["buckets_rewritten"] for b in batches) / nb
    m["tables.rows_rewritten_per_row_changed"] = \
        sum(b["rows_written"] for b in batches) / max(1, dedup)
    m["tables.files_written"] = sum(b["files_written"] for b in batches) / nb
    m["tables.bytes_written"] = sum(b["bytes_written"] for b in batches) / nb
    lookups = [s for s in spans if s["name"] == "lookup"]
    nl = max(1, len(lookups))
    m["tables.lookup_ms"] = sum(s["ms"] for s in lookups) / nl
    m["tables.lookup_files_opened"] = sum(s["files_opened"] for s in lookups) / nl
    m["tables.lookup_bytes_read"] = sum(s["bytes_opened"] for s in lookups) / nl
    m["tables.live_delete_files"] = batches[-1]["delete_files_live"] if batches else 0
    m["tables.compact_ms"] = per("compact")
    m["tables.compact_bytes_rewritten"] = sum(b.get("compact_bytes", 0) for b in batches) / nb
    m["tables.expire_ms"] = per("expire")
    m["tables.orphans_ms"] = per("orphans")
    m["tables.snapshots_live"] = batches[-1]["snapshots_live"] if batches else 0
    m["tables.files_live"] = batches[-1]["files_live"] if batches else 0
    m["export.symlink_ms"] = per("symlink")
    m["export.iceberg_ms"] = per("iceberg")
    m["export.delta_ms"] = per("delta")
    m["export.files_opened"] = sum(per(n, "files_opened") for n in ("symlink", "iceberg", "delta"))
    exp = os.path.join(replay_dir, "export")
    m["export.metadata_bytes"] = sum(os.path.getsize(os.path.join(d, f))
                                     for d, _, fs in os.walk(exp) for f in fs) if os.path.isdir(exp) else 0

    busy = [p for p in progress if p.get("numInputRows", 0) > 0]
    for key, name in (("latestOffset", "latest_offset_ms"), ("queryPlanning", "query_planning_ms"),
                      ("addBatch", "add_batch_ms"), ("walCommit", "wal_commit_ms")):
        vals = [p.get("durationMs", {}).get(key, 0) for p in busy]
        m["pipeline." + name] = sum(vals) / len(vals) if vals else 0.0
    m["pipeline.batches"] = len(committed)
    # paced folders over the batches that committed them
    paced_batches = [e for e in committed if stamps and min(stamps) <= str(e.get("watermark", "")) <= max(stamps)]
    m["pipeline.folders_per_batch"] = len(stamps) / len(paced_batches) if paced_batches else 0.0
    # most paced folders closed but not yet committed at any close
    m["pipeline.backlog_max_folders"] = max(
        (sum(1 for t2 in stamps.values() if t2 <= t) -
         sum(1 for f in stamps if _covered(committed, f, t)) for t in stamps.values()), default=0)
    m["pipeline.generator_late_ms"] = max(late) if late else 0.0
    m["pipeline.logged_merge_ms"] = _mean(e.get("merge_ms") for e in committed)
    m["pipeline.logged_export_ms"] = _mean(e.get("export_ms") for e in committed)

    wall = sum(b["wall_ms"] for b in batches)
    _spark(m, [s for s in spans if s["name"] != "lookup"], wall, nproc, nb)
    m["trace.unattributed_share"] = 1.0 - sum(b["span_ms"] for b in batches) / max(1e-9, wall)
    single = [b["wall_ms"] / 1000.0 for b in batches if b["folders"] == 1]
    m["trace.wait_p50_s"] = stats.median(single) if single else 0.0
    m["trace.overhead_s"] = m["trace.wait_p50_s"] - lag["p50"]
    return {"metrics": {k: (v, UNITS[k]) for k, v in m.items()},
            "self_times": self_times([s for s in spans if s["name"] != "lookup"], wall),
            "batch_wall_ms": wall, "batches": len(batches),
            "unattributed_work": r.get("unattributed")}


def _covered(events, folder, t):
    return any(e["_ts"] <= t and "#" not in str(e.get("watermark", ""))
               and str(e.get("watermark", "")) >= folder for e in events)


def _mean(xs):
    xs = [float(x) for x in xs if x is not None]
    return sum(xs) / len(xs) if xs else 0.0


def baseline(r):
    """The single-thread (local[1]) replay: per-batch wall and span totals,
    reported beside the gated numbers, never gated."""
    b = r["batches"]
    return {"batches": len(b),
            "wait_p50_s": stats.median([x["wall_ms"] / 1000.0 for x in b]) if b else 0.0,
            "self_times": self_times([s for s in r["spans"] if s["name"] not in ("lookup", "backfill")],
                                     sum(x["wall_ms"] for x in b))}


def query_layers(tr, nproc, pass_s):
    spans = tr["spans"]
    recs = tr["records"]
    nq = max(1, len(recs))
    m = _empty()
    by = lambda suffix, field="ms": sum(
        (s["work"][field] if field in s["work"] else s[field])
        for s in spans if s["name"].endswith(":" + suffix)) / nq
    m["query.construct_ms"] = by("construct")
    m["query.construct_jobs"] = by("construct", "jobs")
    m["query.plan_ms"] = by("plan")
    m["query.execute_ms"] = by("execute")
    m["query.jobs"] = sum(s["work"]["jobs"] for s in spans) / nq
    m["ops.keep_ratio"] = m["streaming.keep_ratio"] = 1.0
    total = sum(r["ms"] for r in recs)
    _spark(m, spans, total, nproc, nq)
    m["trace.unattributed_share"] = 1.0 - sum(s["ms"] for s in spans) / max(1e-9, total)
    m["trace.wait_p50_s"] = stats.median([r["ms"] / 1000.0 for r in recs])
    m["trace.overhead_s"] = total / 1000.0 - pass_s
    return {"metrics": {k: (v, UNITS[k]) for k, v in m.items()},
            "self_times": self_times(spans, total), "batch_wall_ms": total, "batches": len(recs),
            "unattributed_work": tr.get("unattributed")}


def _print_self_times(title, rows, log):
    log(title)
    for name, c, t, share in rows:
        log("  %-28s n=%-4d %10.1f ms  %5.1f%%" % (name, c, t, 100 * share))


def print_table(lay, log):
    log("per-layer metrics (traced run):")
    for k, (v, u) in lay["metrics"].items():
        log("  %-40s %16.4f %s" % (k, v, u))
    _print_self_times("span self times (share of %.0f ms wall over %d batches/queries):"
                      % (lay["batch_wall_ms"], lay["batches"]), lay["self_times"], log)
    log("  %-28s %s" % ("unattributed", "%.1f%%" % (100 * lay["metrics"]["trace.unattributed_share"][0])))
    if "mor_self_times" in lay:
        _print_self_times("span self times of the cdc_mor_reads replay:", lay["mor_self_times"], log)
        log("  %-28s %.1f%%" % ("unattributed", 100 * lay["mor_unattributed_share"]))
    if "single_thread_baseline" in lay:
        b = lay["single_thread_baseline"]
        _print_self_times("single-thread (local[1]) baseline, not gated: %d batches, median batch "
                          "%.3f s" % (b["batches"], b["wait_p50_s"]), b["self_times"], log)

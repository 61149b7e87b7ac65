"""Per-layer metrics of a traced run, from the spans of its traced steps.

Times are per traced operation of the kind the layer serves: per batch
(or sink epoch), per read (a lookup or a change-feed span). A layer the
workload does not reach reports 0.
"""

from __future__ import annotations

import os
import statistics

from perfbench.workloads import StreamSinkFeed

# (metric, unit, better); the order is the order of the report
LAYER_METRICS = [
    ("cdc.runner.apply_batch.s", "s/batch", "lower"),
    ("cdc.runner.apply_batch.self_s", "s/batch", "lower"),
    ("cdc.runner.conversation.s", "s/lookup", "lower"),
    ("lake.table.read_keys.s", "s/lookup", "lower"),
    ("lake.table.lookup.files_scanned", "files/lookup", "lower"),
    ("lake.merge.merge_into.self_s", "s/batch", "lower"),
    ("lake.merge.delta_write.wall_s", "s/batch", "lower"),
    ("lake.merge.delta_write.exec_run_s", "s/batch", "lower"),
    ("lake.merge.delta_write.exec_cpu_s", "s/batch", "lower"),
    ("lake.merge.delta_write.shuffle_write_bytes", "bytes/batch", "lower"),
    ("lake.merge.delta_write.shuffle_read_bytes", "bytes/batch", "lower"),
    ("lake.merge.delta_write.spill_bytes", "bytes/batch", "lower"),
    ("lake.merge.delta_write.gc_s", "s/batch", "lower"),
    ("lake.merge.compact.wall_s", "s/batch", "lower"),
    ("lake.merge.compact.exec_cpu_s", "s/batch", "lower"),
    ("lake.merge.compact.buckets", "buckets/batch", "lower"),
    ("lake.merge.compact.bytes_rewritten", "bytes/batch", "lower"),
    ("lake.merge.rows_in", "rows/batch", "higher"),
    ("lake.merge.winners", "rows/batch", "lower"),
    ("lake.merge.dup_factor", "ratio", "higher"),
    ("lake.table.commit.s", "s/batch", "lower"),
    ("lake.table.current.calls", "calls/batch", "lower"),
    ("lake.table.files_per_bucket.mean", "files/bucket", "lower"),
    ("lake.table.files_per_bucket.max", "files/bucket", "lower"),
    ("streaming.lake_sink.epoch_s", "s/epoch", "lower"),
    ("streaming.lake_sink.add_batch_s", "s/epoch", "lower"),
    ("streaming.lake_sink.wal_commit_s", "s/epoch", "lower"),
    ("streaming.lake_sink.commit_offsets_s", "s/epoch", "lower"),
    ("streaming.lake_sink.latest_offset_s", "s/epoch", "lower"),
    ("streaming.lake_sink.exec_cpu_s", "s/epoch", "lower"),
    ("streaming.lake_sink.files_per_epoch", "files/epoch", "lower"),
    ("streaming.cdf_source.plan_s", "s/span", "lower"),
    ("streaming.cdf_source.read_s", "s/span", "lower"),
    ("streaming.cdf_source.exec_cpu_s", "s/span", "lower"),
    ("streaming.cdf_source.rows_out", "rows/span", "higher"),
    ("streaming.cdf_source.manifest_bytes_per_change", "bytes/change", "lower"),
    ("trace.layer_coverage", "ratio", "higher"),
    ("trace.overhead.batch_latency_s", "s", "lower"),
    ("trace.overhead.read_latency_s", "s", "lower"),
]

# ROADMAP direction 1: layer self times must account for this share of
# the client-measured batch wall
MIN_COVERAGE = 0.9


def _overhead(xs: list[float], flags: list[bool]) -> float:
    on = [x for x, f in zip(xs, flags) if f]
    off = [x for x, f in zip(xs, flags) if not f]
    if not on or not off:
        return 0.0
    return statistics.median(on) - statistics.median(off)


def per_layer(tracer, wl, table) -> tuple[dict, bool]:
    """(metrics, coverage_ok) for the contract's ``--trace 1`` line."""
    s = wl.samples
    v: dict[str, float] = {m: 0.0 for m, _, _ in LAYER_METRICS}

    def total(name: str, key: str = "dur", exec_field: str | None = None) -> float:
        spans = tracer.named(name)
        if exec_field:
            return sum(x["incl"][exec_field] for x in spans)
        return sum(x[key] for x in spans)

    def attr(name: str, key: str) -> float:
        return sum(x["attrs"].get(key, 0) for x in tracer.named(name))

    per_b = 1 / max(1, sum(s.batch_traced))
    # the read of each workload is one kind: lookups or feed spans
    per_r = 1 / max(1, sum(s.read_traced))

    # replay path
    v["cdc.runner.apply_batch.s"] = total("cdc.runner.apply_batch") * per_b
    v["cdc.runner.apply_batch.self_s"] = total("cdc.runner.apply_batch", "self") * per_b
    v["lake.merge.merge_into.self_s"] = total("lake.merge.merge_into", "self") * per_b
    dw = "lake.merge.delta_write"
    v[f"{dw}.wall_s"] = total(dw) * per_b
    for f in ("exec_run_s", "exec_cpu_s", "gc_s"):
        v[f"{dw}.{f}"] = total(dw, exec_field=f) * per_b
    for f in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        v[f"{dw}.{f}"] = total(dw, exec_field=f) * per_b
    cp = "lake.merge.compact"
    v[f"{cp}.wall_s"] = total(cp) * per_b
    v[f"{cp}.exec_cpu_s"] = total(cp, exec_field="exec_cpu_s") * per_b
    v[f"{cp}.buckets"] = attr(cp, "buckets") * per_b
    v[f"{cp}.bytes_rewritten"] = attr(cp, "bytes") * per_b
    rows_in = attr("lake.merge.merge_into", "rows_in")
    winners = attr("lake.merge.merge_into", "winners")
    v["lake.merge.rows_in"] = rows_in * per_b
    v["lake.merge.winners"] = winners * per_b
    v["lake.merge.dup_factor"] = rows_in / winners if winners else 0.0
    v["lake.table.commit.s"] = total("lake.table.commit") * per_b
    under_batches = [
        d for b in tracer.named("cdc.runner.apply_batch") for d in tracer.descendants(b)
    ]
    v["lake.table.current.calls"] = (
        sum(d["name"] == "lake.table.current" for d in under_batches) * per_b
    )

    # serving path
    v["cdc.runner.conversation.s"] = total("cdc.runner.conversation") * per_r
    v["lake.table.read_keys.s"] = total("lake.table.read_keys") * per_r
    v["lake.table.lookup.files_scanned"] = attr("lake.table.read_buckets", "files") * per_r

    # change feed
    v["streaming.cdf_source.plan_s"] = total("streaming.cdf_source.plan") * per_r
    v["streaming.cdf_source.read_s"] = total("streaming.cdf_source.read") * per_r
    v["streaming.cdf_source.exec_cpu_s"] = (
        total("streaming.cdf_source.read", exec_field="exec_cpu_s") * per_r
    )

    # file layout of the final snapshot
    counts = [len(fl) for fl in table.head.files.values()] or [0]
    v["lake.table.files_per_bucket.mean"] = statistics.mean(counts)
    v["lake.table.files_per_bucket.max"] = max(counts)

    if isinstance(wl, StreamSinkFeed):
        _sink_layers(v, tracer, wl, table, per_b, per_r)

    # layer self times inside the traced batches against the wall the
    # client measured around the same calls
    roots = tracer.named(
        "streaming.lake_sink.epoch" if isinstance(wl, StreamSinkFeed) else "cdc.runner.apply_batch"
    )
    covered = sum(d["self"] for r in roots for d in tracer.descendants(r))
    wall = sum(x for x, f in zip(s.batch_s, s.batch_traced) if f)
    v["trace.layer_coverage"] = covered / wall if wall else 0.0
    v["trace.overhead.batch_latency_s"] = _overhead(s.batch_s, s.batch_traced)
    v["trace.overhead.read_latency_s"] = _overhead(s.read_s, s.read_traced)

    units = {m: u for m, u, _ in LAYER_METRICS}
    metrics = {m: {"value": float(x), "unit": units[m]} for m, x in v.items()}
    return metrics, v["trace.layer_coverage"] >= MIN_COVERAGE


def _sink_layers(v, tracer, wl, table, per_b, per_r) -> None:
    """Sink epochs: StreamingQuery progress durations, the query's stage
    totals, and files per epoch from the manifests; the feed's manifest
    bytes per change row."""
    traced = [p for p in wl.progress if p["traced"]]
    for metric, key in (
        ("add_batch_s", "addBatch"),
        ("wal_commit_s", "walCommit"),
        ("commit_offsets_s", "commitOffsets"),
        ("latest_offset_s", "latestOffset"),
    ):
        v[f"streaming.lake_sink.{metric}"] = sum(p.get(key, 0) for p in traced) / 1e3 * per_b
    epochs = tracer.named("streaming.lake_sink.epoch")
    v["streaming.lake_sink.epoch_s"] = sum(x["dur"] for x in epochs) * per_b
    v["streaming.lake_sink.exec_cpu_s"] = sum(x["incl"]["exec_cpu_s"] for x in epochs) * per_b
    added, sink_commits = 0, 0
    prev = table.t.snapshot(wl.first_version)
    for ver in range(wl.first_version + 1, table.head.version + 1):
        snap = table.t.snapshot(ver)
        if str(snap.lineage.get("batch_id", "")).startswith("sink-") and not snap.lineage.get(
            "optimize"
        ):
            added += len(set(snap.all_files()) - set(prev.all_files()))
            sink_commits += 1
        prev = snap
    v["streaming.lake_sink.files_per_epoch"] = added / sink_commits if sink_commits else 0.0
    rows = sum(x["attrs"].get("rows", 0) for x in tracer.named("streaming.cdf_source.read"))
    v["streaming.cdf_source.rows_out"] = rows * per_r
    meta = os.path.join(table.t.root, "_meta")
    manifest = sum(
        os.path.getsize(os.path.join(meta, f"snap-{ver:08d}.json"))
        for x in tracer.named("streaming.cdf_source.read")
        for ver in range(x["attrs"]["v0"] + 1, x["attrs"]["v1"] + 1)
    )
    v["streaming.cdf_source.manifest_bytes_per_change"] = manifest / rows if rows else 0.0


"""Per-layer metrics of a traced run, computed from its spans.

Every traced run reports every metric below.  A layer the workload never
calls reports 0: that is the "predicted unchanged" side of the layer map in
README.md, measured rather than assumed.  Times are medians over the spans
of one kind; counts are medians per span unless the name says total.
"""

from __future__ import annotations

import statistics

# (name, unit) in report order
METRICS = [
    ("session.get_spark_s", "s"), ("session.load_tables_s", "s"),
    ("catalog.insert_bucketed_long_s", "s"), ("catalog.insert_bucketed_str_s", "s"),
    ("catalog.insert_dynamic_partition_s", "s"), ("catalog.insert_small_append_s", "s"),
    ("catalog.insert_publish_s", "s"),
    ("catalog.insert.jobs", "count"), ("catalog.insert.driver_s", "s"),
    ("catalog.insert.shuffle_bytes", "bytes"), ("catalog.files_written", "count"),
    ("catalog.bytes_written_per_input_byte", "ratio"),
    ("catalog.lookup_by_key_s", "s"), ("catalog.read_buckets_s", "s"),
    ("catalog.read_skipping_s", "s"), ("catalog.partition_pruned_read_s", "s"),
    ("catalog.scan_fraction", "ratio"),
    ("hashing.bucket_id_long_rows_per_s", "rows/s"), ("hashing.bucket_id_str_rows_per_s", "rows/s"),
    ("avrofile.read_rows_per_s", "rows/s"), ("avrofile.write_rows_per_s", "rows/s"),
    ("avrofile.bytes_per_row", "bytes"),
    ("snapshots.append_s", "s"), ("snapshots.delete_mor_s", "s"), ("snapshots.update_s", "s"),
    ("snapshots.merge_cow_s", "s"), ("snapshots.merge_mor_s", "s"), ("snapshots.compact_s", "s"),
    ("snapshots.commit.jobs", "count"), ("snapshots.commit.driver_s", "s"),
    ("snapshots.commit.fsyncs", "count"), ("snapshots.commit.py4j_calls", "count"),
    ("snapshots.commit.bytes_written", "bytes"), ("snapshots.conflict_retries", "count"),
    ("cdc.batch_rows_per_s", "rows/s"),
    ("snapshots.read_full_s", "s"), ("snapshots.read_point_s", "s"),
    ("snapshots.time_travel_s", "s"), ("snapshots.changes_s", "s"),
    ("snapshots.point_files_kept_frac", "ratio"), ("snapshots.live_files", "count"),
    ("snapshots.dv_positions", "count"), ("snapshots.manifest_bytes", "bytes"),
    ("pyds.snapshot_read_s", "s"),
    ("engine.sql_plan_s", "s"), ("engine.exec_s", "s"), ("engine.py4j_calls", "count"),
    ("query.jobs", "count"), ("query.driver_s", "s"), ("query.input_bytes", "bytes"),
    ("query.shuffle_bytes", "bytes"), ("query.executor_run_s", "s"),
    ("dedup.exact_s", "s"), ("dedup.minhash_signature_s", "s"),
    ("dedup.minhash_lsh_pairs_s", "s"), ("dedup.ngram_containment_s", "s"),
    ("dedup.decontaminate_s", "s"), ("similarity.det_semantic_dedup_s", "s"),
    ("dedup.jobs", "count"), ("dedup.shuffle_bytes", "bytes"),
    ("dedup.lsh_recall", "ratio"), ("dedup.lsh_precision", "ratio"),
    ("spark.jobs_total", "count"), ("spark.tasks_total", "count"),
    ("spark.executor_run_s_total", "s"), ("spark.gc_s_total", "s"),
    ("spark.spill_bytes_total", "bytes"),
    ("host.calib_s", "s"), ("host.load1", "load"), ("trace.overhead_frac", "ratio"),
]

# per-layer time metric -> op kind whose span durations it reports
_OP_TIMES = {
    "catalog.insert_bucketed_long_s": "insert_bucketed_long",
    "catalog.insert_bucketed_str_s": "insert_bucketed_str",
    "catalog.insert_dynamic_partition_s": "insert_dynamic_partition",
    "catalog.insert_small_append_s": "insert_small_append",
    "catalog.insert_publish_s": "publish",
    "catalog.lookup_by_key_s": "lookup_by_key",
    "catalog.read_buckets_s": "read_buckets",
    "catalog.read_skipping_s": "read_skipping",
    "catalog.partition_pruned_read_s": "partition_pruned_read",
    "snapshots.delete_mor_s": "delete_mor",
    "snapshots.update_s": "update_cow",
    "snapshots.merge_cow_s": "cdc_merge_cow",
    "snapshots.merge_mor_s": "cdc_merge_mor",
    "snapshots.compact_s": "compact",
    "snapshots.read_full_s": "read_full",
    "snapshots.read_point_s": "read_point",
    "snapshots.time_travel_s": "time_travel",
    "snapshots.changes_s": "changes",
    "pyds.snapshot_read_s": "pyds_read",
    "dedup.exact_s": "exact_dedup",
    "dedup.minhash_signature_s": "minhash_signature",
    "dedup.minhash_lsh_pairs_s": "minhash_lsh_pairs",
    "dedup.ngram_containment_s": "ngram_containment",
    "dedup.decontaminate_s": "decontaminate",
    "similarity.det_semantic_dedup_s": "det_semantic_dedup",
}
COMMIT_KINDS = ("delete_mor", "update_cow", "cdc_merge_cow", "cdc_merge_mor", "compact")
INSERT_KINDS = ("insert_bucketed_long", "insert_bucketed_str", "insert_dynamic_partition",
                "insert_small_append", "publish")
DEDUP_KINDS = ("exact_dedup", "minhash_signature", "minhash_lsh_pairs", "ngram_containment",
               "decontaminate", "det_semantic_dedup")


def _med(xs):
    return float(statistics.median(xs)) if xs else 0.0


def compute(spans, totals, workload, samples, extras) -> dict:
    """``extras`` holds values the workload measured itself (probes,
    manifest shape, oracle ratios); everything else comes from spans."""
    ops = [s for s in spans if s["name"].startswith("op.")]
    by_kind: dict[str, list] = {}
    for s in ops:
        by_kind.setdefault(s["name"][3:], []).append(s)

    def op_spans(kinds):
        return [s for k in kinds for s in by_kind.get(k, [])]

    def named(name, in_ops=True):
        return [s for s in spans if s["name"] == name and (s["op"] is not None or not in_ops)]

    m = {name: 0.0 for name, _ in METRICS}
    for metric, kind in _OP_TIMES.items():
        m[metric] = _med([s["duration_s"] for s in by_kind.get(kind, [])])
    m["session.get_spark_s"] = _med([s["duration_s"] for s in named("session.get_spark", False)])
    m["session.load_tables_s"] = _med([s["duration_s"] for s in named("session.load_tables", False)])
    # appends build the table during set-up; the timed stream has none
    m["snapshots.append_s"] = _med([s["duration_s"]
                                    for s in named("snapshots.SnapshotTable.append", False)])

    ins = named("catalog.insert")
    m["catalog.insert.jobs"] = _med([s["inc"]["jobs"] for s in ins])
    m["catalog.insert.driver_s"] = _med([s["driver_s"] for s in ins])
    m["catalog.insert.shuffle_bytes"] = _med([s["inc"]["shuffle_write_bytes"] for s in ins])
    ins_ops = op_spans(INSERT_KINDS)
    m["catalog.files_written"] = _med([s["files_written"] for s in ins_ops])
    in_bytes = sum(r for k, _t, r in samples if k in INSERT_KINDS) * extras.get("input_bytes_per_row", 0)
    if in_bytes:
        m["catalog.bytes_written_per_input_byte"] = sum(s["bytes_written"] for s in ins_ops) / in_bytes
    fracs = [s["inc"]["input_bytes"] / extras["table_bytes"][k]
             for k in ("lookup_by_key", "read_buckets", "read_skipping", "partition_pruned_read")
             for s in by_kind.get(k, []) if extras.get("table_bytes", {}).get(k)]
    m["catalog.scan_fraction"] = _med(fracs)

    commits = op_spans(COMMIT_KINDS)
    m["snapshots.commit.jobs"] = _med([s["inc"]["jobs"] for s in commits])
    m["snapshots.commit.driver_s"] = _med([s["driver_s"] for s in commits])
    m["snapshots.commit.fsyncs"] = _med([s["inc"]["fsyncs"] for s in commits])
    m["snapshots.commit.py4j_calls"] = _med([s["inc"]["py4j_calls"] for s in commits])
    m["snapshots.commit.bytes_written"] = _med([s["bytes_written"] for s in commits])
    cdc = [(t, r) for k, t, r in samples if k in ("cdc_merge_cow", "cdc_merge_mor")]
    if cdc:
        m["cdc.batch_rows_per_s"] = sum(r for _, r in cdc) / sum(t for t, _ in cdc)

    plans, execs = named("engine.sql"), named("engine.sql.action")
    m["engine.sql_plan_s"] = _med([s["duration_s"] for s in plans])
    m["engine.exec_s"] = _med([s["duration_s"] for s in execs])
    m["engine.py4j_calls"] = _med([s["inc"]["py4j_calls"] for s in plans])
    # query_mix is all queries; corpus_dedup runs one Engine.sql shape
    queries = ops if workload == "query_mix" else op_spans(("engine_sql",))
    m["query.jobs"] = _med([s["inc"]["jobs"] for s in queries])
    m["query.driver_s"] = _med([s["driver_s"] for s in queries])
    m["query.input_bytes"] = _med([s["inc"]["input_bytes"] for s in queries])
    m["query.shuffle_bytes"] = _med([s["inc"]["shuffle_write_bytes"] for s in queries])
    m["query.executor_run_s"] = _med([s["inc"]["executor_run_s"] for s in queries])

    dd = op_spans(DEDUP_KINDS)
    m["dedup.jobs"] = _med([s["inc"]["jobs"] for s in dd])
    m["dedup.shuffle_bytes"] = _med([s["inc"]["shuffle_write_bytes"] for s in dd])

    m["spark.jobs_total"] = totals["jobs"]
    m["spark.tasks_total"] = totals["tasks"]
    m["spark.executor_run_s_total"] = totals["executor_run_s"]
    m["spark.gc_s_total"] = totals["gc_s"]
    m["spark.spill_bytes_total"] = totals["spill_bytes"]
    for k, v in extras.items():
        if k in m:
            m[k] = float(v)
    return m

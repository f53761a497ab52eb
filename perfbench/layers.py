"""Per-layer metrics of the traced run, each tagged with the end-to-end
metric it should move and the workloads where the layer does most and
little of the work. Layers are named after the package modules.

A layer a workload never calls reports 0 there: that workload is the
control on which a change to the layer should move nothing. Metrics named
in ``moves`` without a place in BENCHMARK.json's end-to-end list
(``events_per_s``, ``join_rows_per_s``, ``peak_rss_mb``) are printed by
the untraced runs but not gated.
"""

from __future__ import annotations

US, CD = "upsert_serve", "corpus_dedup"

# (name, unit, moves, most work, little work)
LAYERS: list[tuple[str, str, str, str, str]] = [
    # session
    ("session.start_s", "s", "setup_s", "all", "-"),
    # file source feeding streaming.stateful (replay files)
    ("source.latest_offset_ms", "ms", "events_per_cpu_s", US, CD),
    ("source.get_batch_ms", "ms", "events_per_cpu_s", US, CD),
    ("source.rows_per_trigger", "count", "events_per_cpu_s", US, CD),
    # streaming.run / streaming.conf micro-batch engine
    ("engine.triggers", "count", "events_per_cpu_s", US, CD),
    ("engine.query_planning_ms", "ms", "events_per_cpu_s", US, CD),
    ("engine.wal_commit_ms", "ms", "events_per_cpu_s", US, CD),
    ("engine.commit_offsets_ms", "ms", "events_per_cpu_s", US, CD),
    ("engine.trigger_overhead_ms", "ms", "events_per_cpu_s", US, CD),
    # streaming.stateful fold
    ("fold.add_batch_ms", "ms", "events_per_cpu_s", US, CD),
    ("fold.state_update_ms", "ms", "events_per_cpu_s", US, CD),
    ("fold.state_commit_ms", "ms", "events_per_cpu_s", US, CD),
    ("fold.rows_updated", "count", "events_per_cpu_s", US, CD),
    ("fold.ms_per_group", "ms", "events_per_cpu_s", US, CD),
    ("fold.state_rows", "count", "events_per_cpu_s", US, CD),
    ("fold.state_memory_bytes", "bytes", "peak_rss_mb", US, CD),
    ("fold.rocksdb_flush_ms", "ms", "events_per_cpu_s", US, CD),
    ("fold.rocksdb_checkpoint_ms", "ms", "events_per_cpu_s", US, CD),
    ("fold.rocksdb_file_sync_ms", "ms", "events_per_cpu_s", US, CD),
    ("fold.rocksdb_changelog_commit_ms", "ms", "events_per_cpu_s", US, CD),
    ("fold.rocksdb_load_ms", "ms", "events_per_cpu_s", US, CD),
    # streaming.stateful upsert sink + compaction
    ("sink.rows_appended", "count", "events_per_cpu_s", US, CD),
    ("sink.files", "count", "events_per_cpu_s", US, CD),
    ("sink.bytes", "bytes", "events_per_cpu_s", US, CD),
    ("sink.view_s", "s", "events_per_cpu_s", US, CD),
    ("compact.s", "s", "events_per_cpu_s", US, CD),
    ("compact.rows_before", "count", "events_per_cpu_s", US, CD),
    ("compact.rows_after", "count", "events_per_cpu_s", US, CD),
    ("compact.keep_ratio", "ratio", "events_per_cpu_s", US, CD),
    # sources.python_source (producer, wire consumer); the restore from the
    # topic is the served table's start-up, so it is part of setup_s
    ("wire.publish_s", "s", "setup_s", US, CD),
    ("wire.read_s", "s", "setup_s", US, CD),
    ("wire.read_tasks", "count", "setup_s", US, CD),
    ("wire.records", "count", "setup_s", US, CD),
    ("wire.value_bytes", "bytes", "setup_s", US, CD),
    # sources.python_source.decode_wire
    ("decode.s", "s", "setup_s", US, CD),
    # operators.latest_by_key (the table's full fold)
    ("latest.fold_s", "s", "op_cpu_ms", US, CD),
    ("latest.shuffle_bytes", "bytes", "op_cpu_ms", US, CD),
    # operators.table lookups and join_with
    ("table.plan_ms", "ms", "op_cpu_ms", US, CD),
    ("table.exec_ms", "ms", "op_cpu_ms", US, CD),
    ("table.jobs_per_lookup", "count", "op_cpu_ms", US, CD),
    ("table.tasks_per_lookup", "count", "op_cpu_ms", US, CD),
    ("table.input_bytes_per_lookup", "bytes", "op_cpu_ms", US, CD),
    ("table.rows_read_per_result", "ratio", "op_cpu_ms", US, CD),
    ("join.s", "s", "join_rows_per_s", US, CD),
    ("join.shuffle_bytes", "bytes", "join_rows_per_s", US, CD),
    # operators.dedup / clusters / similarity
    ("dedup.exact_s", "s", "events_per_cpu_s", CD, US),
    ("dedup.minhash_s", "s", "events_per_cpu_s", CD, US),
    ("dedup.candidate_pairs", "count", "events_per_cpu_s", CD, US),
    ("dedup.true_pair_ratio", "ratio", "events_per_cpu_s", CD, US),
    ("clusters.s", "s", "events_per_cpu_s", CD, US),
    ("clusters.iterations", "count", "events_per_cpu_s", CD, US),
    ("similarity.s", "s", "events_per_cpu_s", CD, US),
    ("dedup.shuffle_bytes", "bytes", "events_per_cpu_s", CD, US),
    # single-threaded baseline and tracing overhead
    ("baseline_1core.events_per_s", "1/s", "events_per_s", US, CD),
    ("trace.events_per_cpu_s", "1/s", "events_per_cpu_s", "all", "-"),
    ("trace.op_cpu_ms", "ms", "op_cpu_ms", "all", "-"),
    ("trace.overhead_share", "ratio", "events_per_cpu_s", "all", "-"),
]

UNITS = {name: unit for name, unit, *_ in LAYERS}

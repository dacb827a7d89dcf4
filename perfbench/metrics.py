"""The benchmark's metrics: names, units, directions, and the arithmetic that
turns one run's raw measurements into them."""
import statistics

# (name, unit, better). Every run prints every end-to-end metric; an "op" is
# a sync (incremental_syncs) or a query pass (query_mix). Set-up and op cost
# are CPU time, not wall time: on a shared host wall time follows how much
# CPU the host grants (README.md, Steadiness). Wall time is reported per
# layer (wall.*).
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_cpu_s", "s", "lower"),
    ("rows_per_cpu_s", "1/cpu_s", "higher"),
    ("mb_per_cpu_s", "MB/cpu_s", "higher"),
    ("files_out", "count", "lower"),
    ("stored_mb", "MB", "lower"),
]

# query_mix's registry entries, in pass order, with the table each reads.
# sim_opq_append and q138_item_cf are left out; README.md says why.
QUERY_ENTRIES = [
    ("q1_agg", "lineitem"), ("q117_adamic_adar", "lineitem"),
    ("q140_spearman", "lineitem"), ("text_scrub_boilerplate", "documents"),
    ("text_overlap_matrix", "documents"), ("sim_mnn", "embeddings"),
    ("q84_fuzzy_linkage", "customer"), ("q150_scc", "events"),
    ("dedup_winnow_clusters", "documents"),
]

# Per-layer metrics of the traced run, each per op unless it is a ratio.
PER_LAYER = [
    ("wall.setup_s", "s", "lower"),
    ("wall.op_p50_s", "s", "lower"),
    ("wall.rows_per_s", "1/s", "higher"),
    ("wall.mb_per_s", "MB/s", "higher"),
    ("loader.jobs_per_sync", "count", "lower"),
    ("loader.tasks_per_sync", "count", "lower"),
    ("loader.SingerLoader_s", "s", "lower"),
    ("loader.ParquetSink_s", "s", "lower"),
    ("loader.Compaction_s", "s", "lower"),
    ("loader.VersionPurge_s", "s", "lower"),
    ("loader.driver_s", "s", "lower"),
    ("fs.bytes_written_mb", "MB", "lower"),
    ("fs.write_amp", "ratio", "lower"),
    ("fs.renames", "count", "lower"),
    ("fs.deletes", "count", "lower"),
    ("fs.listings", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_cpu_s", "s", "lower"),
    ("spark.task_run_s", "s", "lower"),
    ("spark.slot_util", "ratio", "higher"),
    ("spark.input_mb", "MB", "lower"),
    ("spark.output_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.peak_exec_mem_mb", "MB", "lower"),
    ("spark.serial_stage_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("schema.to_struct_type_ms", "ms", "lower"),
    ("schema.flatten_plan_ms", "ms", "lower"),
    ("core.config_parse_ms", "ms", "lower"),
    ("core.message_parse_us", "us", "lower"),
] + [
    ("queries.%s.%s" % (e, m), u, "lower")
    for e, _ in QUERY_ENTRIES
    for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))
] + [
    ("host.calibration_ms", "ms", "lower"),
    ("host.loadavg", "load", "lower"),
    ("host.gc_share", "ratio", "lower"),
    ("host.steal_share", "ratio", "lower"),
    # the traced run's end-to-end figures against the untraced runs'
    ("trace.op_cpu_delta", "%", "lower"),
    ("trace.setup_delta", "%", "lower"),
]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def spread(xs):
    """Distance between the first and third quartile, as a share of the
    median: the steadiness measure the benchmark is held to."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def end_to_end(result, setup_s):
    """The end-to-end metrics of one run from the JVM driver's result."""
    op_cpu = result.get("pass_cpu_seconds") or result["op_cpu_seconds"]
    cpu = result["timed_cpu_s"]
    return {
        "setup_s": setup_s,
        "op_cpu_s": median(op_cpu),
        "rows_per_cpu_s": result["rows"] / cpu,
        "mb_per_cpu_s": result["input_bytes"] / 1e6 / cpu,
        "files_out": result["files_out"],
        "stored_mb": result["stored_bytes"] / 1e6,
    }


def wall(result, setup_wall_s):
    """The same figures in wall time: per layer, for diagnosis."""
    op_seconds = result.get("pass_seconds") or result["op_seconds"]
    timed = result["timed_s"]
    return {
        "wall.setup_s": setup_wall_s,
        "wall.op_p50_s": median(op_seconds),
        "wall.rows_per_s": result["rows"] / timed,
        "wall.mb_per_s": result["input_bytes"] / 1e6 / timed,
    }


def relative_delta(value, reference):
    """`value` against `reference` in percent (positive = larger)."""
    return 100.0 * (value - reference) / reference if reference else 0.0


def with_units(values, spec):
    units = {n: u for n, u, _ in spec}
    return {n: {"value": values[n], "unit": units[n]} for n, _, _ in spec}

"""The traced run: per-layer numbers for one workload.

Phase 1 does what ``run.py --trace 0`` does after set-up (warm-up plus
the timed closed loop); its median job wall is the base of
``trace.overhead_frac`` and of ``control.engine_ratio``.  Phase 2 attaches
Spark's event logger to the same session and repeats the timed loop (each
call becomes a ``job`` span), then runs one probe per layer, each timed
from outside around the layer's public function.  Phase 3 needs no Spark: the
pure-Python kernel single-core and in-process, and bench.py's
multiprocessing control.  Layer names follow the program's modules:

  sources     sources/transcripts.read_transcripts (+ sources/iceberg_format)
  udfs        the Arrow mapInPandas boundary (functions/udfs)
  oracle      spec.parse_canvas, spec.detect_all_spans, pipeline.extract_turn_tuples
  pipeline    plans/pipeline.extract_pipeline_fused
  checkpoint  plans/checkpoint.run_with_resume, split by Spark SQL execution
  iceberg     sources/iceberg.overwrite_span_partitions
  control     bench.py's zero-coordination multiprocessing.Pool control
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from perfbench import harness
from perfbench.trace import PYTHON_METRICS, SCAN_METRICS, EventLog, Tracer
from perfbench.workloads import N_BUCKETS, TURN_COLUMNS, WORKLOADS

MB = 1 << 20

PER_LAYER_UNITS = {
    "sources.plan_s": "s",
    "sources.scan_s": "s",
    "sources.scan_time_s": "s",
    "sources.bytes_read_mb": "MB",
    "sources.scan_tasks": "count",
    "udfs.boundary_s": "s",
    "udfs.python_boot_s": "s",
    "udfs.python_init_s": "s",
    "udfs.python_total_s": "s",
    "udfs.data_sent_mb": "MB",
    "udfs.data_received_mb": "MB",
    "oracle.parse_cpu_s": "s",
    "oracle.detect_cpu_s": "s",
    "oracle.kernel_cpu_s": "s",
    "oracle.sweep_finalize_cpu_s": "s",
    "oracle.candidates": "count",
    "oracle.spans": "count",
    "oracle.keep_ratio": "ratio",
    "pipeline.fused_noop_s": "s",
    "checkpoint.tail_s": "s",
    "checkpoint.write_s": "s",
    "checkpoint.counters_s": "s",
    "checkpoint.turns_in_s": "s",
    "checkpoint.manifest_s": "s",
    "checkpoint.resume_plan_s": "s",
    "checkpoint.spark_jobs": "count",
    "checkpoint.shuffle_write_mb": "MB",
    "checkpoint.spill_mb": "MB",
    "checkpoint.task_rows_skew": "ratio",
    "checkpoint.idle_slot_frac": "fraction",
    "iceberg.write_s": "s",
    "iceberg.files_written": "count",
    "iceberg.metadata_files": "count",
    "control.turns_per_s": "turns/s",
    "control.engine_ratio": "ratio",
    "trace.overhead_frac": "fraction",
    "memory.jvm_peak_rss_mb": "MB",
    "memory.python_peak_rss_mb": "MB",
}

def _median_wall(fn, reps: int = 1) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def classify(executions: list[dict]) -> dict[str, float]:
    """Wall seconds of one ``run_with_resume`` call per step, from its SQL
    executions: the spans write (the only write holding the kernel), the
    counter passes over the cached spans, the manifest append, and the
    remaining reads -- the manifest read before the write (resume plan)
    and the input re-scan after it (turns_in)."""
    walls = {k: 0.0 for k in ("write", "counters", "turns_in", "manifest", "resume_plan")}
    seen_write = False
    for x in executions:
        plan, wall = x["plan"], ((x["end"] or x["start"]) - x["start"]) / 1000
        if "InsertIntoHadoopFsRelationCommand" in plan:
            step = "write" if "MapInPandas" in plan else "manifest"
            seen_write |= step == "write"
        elif "InMemoryTableScan" in plan:
            step = "counters"
        else:
            step = "turns_in" if seen_write else "resume_plan"
        walls[step] += wall
    return walls


def job_metrics(log: EventLog, runs: list[dict], cores: int) -> dict[str, float]:
    """Median over the traced job runs of each event-log metric."""
    per_run = []
    for r in runs:
        execs = log.executions_in(r["start"], r["end"])
        steps = classify(execs)
        py = log.sql_metrics(execs, PYTHON_METRICS)
        ts = log.task_stats(r["start"], r["end"], cores)
        per_run.append({
            **{f"checkpoint.{k}_s": v for k, v in steps.items()},
            "checkpoint.spark_jobs": len(log.jobs_in(r["start"], r["end"])),
            "checkpoint.shuffle_write_mb": ts["shuffle_write"] / MB,
            "checkpoint.spill_mb": ts["disk_spill"] / MB,
            "checkpoint.idle_slot_frac": 1 - ts["busy_ms"] / ts["slot_ms"] if ts["slot_ms"] else 0.0,
            "udfs.python_boot_s": py["python_boot"],
            "udfs.python_init_s": py["python_init"],
            "udfs.python_total_s": py["python_total"],
            "udfs.data_sent_mb": py["data_sent"] / MB,
            "udfs.data_received_mb": py["data_received"] / MB,
        })
    return {k: statistics.median(m[k] for m in per_run) for k in per_run[0]}


def _todo_turns(wl, turns):
    """The turns the timed job extracts: all of them, or for a resumed
    table only the buckets the pristine state left undone."""
    if not wl.done_buckets:
        return turns
    from p_id_text_extraction_spark.sources.iceberg_format import bucket_transform_col
    return turns.where(~bucket_transform_col("conv_id", N_BUCKETS, "string")
                       .isin(wl.done_buckets))


def spark_probes(spark, wl, tracer: Tracer, run_id: str) -> tuple[dict, tuple]:
    """One probe per engine layer, each around the layer's public call.
    Also returns the (start, end) of the scan probe, whose Spark metrics
    are read from the event log afterwards."""
    from pyspark.sql import functions as F

    from p_id_text_extraction_spark.plans.pipeline import extract_pipeline_fused
    from p_id_text_extraction_spark.sources import iceberg, iceberg_format
    from p_id_text_extraction_spark.sources.transcripts import read_transcripts
    out: dict = {}
    with tracer.span("sources.plan", run_id):
        out["sources.plan_s"] = _median_wall(lambda: read_transcripts(spark, wl.input), 3)
    turns = read_transcripts(spark, wl.input).select(*TURN_COLUMNS)
    with tracer.span("sources.scan", run_id) as sp:
        out["sources.scan_s"] = _median_wall(lambda: _noop(turns))
    schema = "conv_id string, turn_idx int, text string"
    with tracer.span("udfs.identity", run_id):
        identity_s = _median_wall(
            lambda: _noop(turns.mapInPandas(harness.identity_batches, schema)))
    out["udfs.boundary_s"] = identity_s - out["sources.scan_s"]
    fused = extract_pipeline_fused(_todo_turns(wl, turns))
    with tracer.span("pipeline.fused_noop", run_id):
        out["pipeline.fused_noop_s"] = _median_wall(lambda: _noop(fused))

    # the Iceberg sink on a fixed spans frame, laid out as the job lays
    # out its write (clustered by conversation, sorted) and cached first
    n_write = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spans = (extract_pipeline_fused(turns)
             .withColumn("job_fingerprint", F.lit("perfbench"))
             .repartition(n_write, "conv_id")
             .sortWithinPartitions("conv_id", "turn_idx", "span_rank")
             .cache())
    spans.count()
    replaced = [{"job_fingerprint": "perfbench", "conv_id_bucket": b} for b in range(N_BUCKETS)]
    table = os.path.join(harness.WORK, "iceberg_sink")
    shutil.rmtree(table, ignore_errors=True)
    iceberg.ensure_table(spark, table, spans.schema,
                         ("job_fingerprint", f"bucket(conv_id, {N_BUCKETS})"))
    with tracer.span("iceberg.write", run_id):
        out["iceberg.write_s"] = _median_wall(
            lambda: iceberg.overwrite_span_partitions(spans, table, replaced=replaced))
    out["iceberg.files_written"] = len(iceberg_format.plan_files(table))
    out["iceberg.metadata_files"] = sum(len(fs) for _r, _d, fs in
                                        os.walk(os.path.join(table, "metadata")))
    spans.unpersist()
    shutil.rmtree(table, ignore_errors=True)
    return out, (sp["start"], sp["end"])


def oracle_probe(turns: list[dict]) -> dict:
    """The per-turn kernel, single core, in this process (CPU seconds)."""
    from p_id_text_extraction_spark.oracle import spec
    from p_id_text_extraction_spark.oracle.pipeline import extract_turn_tuples
    t0 = time.process_time()
    norms = [spec.parse_canvas(t["text"]) for t in turns]
    t1 = time.process_time()
    candidates = sum(len(spec.detect_all_spans(n)) for n in norms)
    t2 = time.process_time()
    spans = sum(len(extract_turn_tuples(t["conv_id"], int(t["turn_idx"]), t["text"]))
                for t in turns)
    t3 = time.process_time()
    return {
        "oracle.parse_cpu_s": t1 - t0,
        "oracle.detect_cpu_s": t2 - t1,
        "oracle.kernel_cpu_s": t3 - t2,
        "oracle.sweep_finalize_cpu_s": (t3 - t2) - (t1 - t0) - (t2 - t1),
        "oracle.candidates": candidates,
        "oracle.spans": spans,
        "oracle.keep_ratio": spans / candidates if candidates else 0.0,
    }


def control_probe(files: list[str], cores: int) -> float:
    """bench.py's control: the same kernel over the same input files in a
    plain process pool, no JVM and no coordination; turns/s, median of 3."""
    import multiprocessing

    import bench
    pool = multiprocessing.get_context("spawn").Pool(cores)
    try:
        pool.map(bench._control_worker, files[:cores])      # start-up + imports
        rates = []
        for _ in range(3):
            t0 = time.perf_counter()
            turns = sum(pool.map(bench._control_worker, files))
            rates.append(turns / (time.perf_counter() - t0))
    finally:
        pool.terminate()
        pool.join()
        del pool
        harness.stop_resource_tracker()
    return statistics.median(rates)


def attach_event_log(spark, log_dir: str):
    """Start Spark's own event logger on a running session (uncompressed,
    one file), so the untraced and traced runs share one warm JVM."""
    sc = spark.sparkContext._jsc.sc()
    jvm = spark.sparkContext._jvm
    conf = (sc.conf().clone().set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false"))
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        sc.applicationId(), jvm.scala.Option.apply(None),
        jvm.java.net.URI("file://" + log_dir), conf, sc.hadoopConfiguration())
    listener.start()
    sc.addSparkListener(listener)
    return listener


def detach_event_log(spark, listener) -> None:
    """Deliver every queued event to the logger, then close its file."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    sc.removeSparkListener(listener)
    listener.stop()


def traced_run(args, cores: int) -> tuple[dict, list[dict]]:
    extract_job = harness.load_job()
    wl = WORKLOADS[args.workload](harness.ROOT, args.seed, args.scale)
    argv = wl.argv(harness.strategy_args(extract_job), cores)
    tracer = Tracer()
    run_id = f"{args.workload}-s{args.seed}"

    log_dir = os.path.join(harness.WORK, "eventlog", run_id)
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark, _setup = harness.open_session(wl, cores)
    try:
        # phase 1: untraced
        harness.warm_up(extract_job, spark, wl, argv)
        ticks = harness.cpu_ticks()
        base = harness.timed_runs(extract_job, spark, wl, argv, args.seconds)
        # phase 2: the same session, now logging its events
        listener = attach_event_log(spark, log_dir)
        traced = harness.timed_runs(extract_job, spark, wl, argv, args.seconds)
        probes, scan_window = spark_probes(spark, wl, tracer, run_id)
        steal = harness.steal_pct(ticks)
        detach_event_log(spark, listener)
        jvm_mb, python_mb = harness.peak_rss_mb(harness.jvm_pid())
    finally:
        harness.stop_session(spark)
        wl.reset()
    base_wall = statistics.median(r["wall"] for r in base)
    base_rate = statistics.median(wl.expected["turns_processed"] / r["wall"] for r in base)
    log = EventLog(log_dir)
    for i, r in enumerate(traced):
        job_id = f"{run_id}-job{i}"
        span = tracer.add("job", r["start"], r["end"], None, job_id)
        log.child_spans(tracer, span, r["start"], r["end"], job_id)

    # phase 3: no Spark
    with tracer.span("oracle", run_id):
        kernel = oracle_probe(wl.processed_turns())
    with tracer.span("control", run_id):
        control = control_probe(wl.input_files(), cores)

    scan_execs = log.executions_in(*scan_window)
    scan = log.sql_metrics(scan_execs[-1:], SCAN_METRICS)
    scan_tasks = log.task_stats(scan_execs[-1]["start"] / 1000,
                                (scan_execs[-1]["end"]) / 1000, cores)["tasks"]
    traced_wall = statistics.median(r["wall"] for r in traced)
    result = (base + traced)[-1]["result"]
    metrics = {
        **probes,
        **job_metrics(log, traced, cores),
        **kernel,
        "sources.scan_time_s": scan["scan_time"],
        "sources.bytes_read_mb": scan["bytes_read"] / MB,
        "sources.scan_tasks": scan_tasks,
        "checkpoint.tail_s": traced_wall - probes["pipeline.fused_noop_s"],
        "checkpoint.task_rows_skew": (result.get("task_rows_max", 0)
                                      / max(1, result.get("task_rows_median", 0))),
        "control.turns_per_s": control,
        "control.engine_ratio": base_rate / control,
        "trace.overhead_frac": traced_wall / base_wall - 1,
        "memory.jvm_peak_rss_mb": jvm_mb,
        "memory.python_peak_rss_mb": python_mb,
    }
    tracer.write(os.path.join(harness.WORK, "traces", f"{run_id}.json"))
    print(f"{args.workload}: traced run at {cores} cores, seed {args.seed}; "
          f"untraced job median {base_wall:.4f} s over {len(base)}, traced "
          f"{traced_wall:.4f} s over {len(traced)}; control at {cores} processes; "
          f"cpu steal during the Spark part {steal:.1f}%")
    return ({k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER_UNITS.items()},
            base + traced)

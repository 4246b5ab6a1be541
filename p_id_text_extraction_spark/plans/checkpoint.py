"""Checkpoint manifest + bucket-granular resume (SURVEY.md J7).

The reference restarts at stage granularity (`--start-at`,
run_pipeline.py:336-341,368-387).  At 10^12-turn scale the unit of restart
is an input *bucket*: ``bucket_id = pmod(xxhash64(conv_id), n_buckets)``
(deterministic across runs -- xxhash64 is seed-stable).  A manifest table
records each completed (bucket_id, job_fingerprint) with lineage counters
(FIXTURES.md section 3); resume filters the input down to the missing
buckets and re-processes only those.

The job is one pass: turns shuffle by bucket_id (the only exchange), the
fused kernel runs in the write's result stage, and each run writes one
data file per bucket.  Kernel and write parallelism is
``min(todo buckets, write partitions)`` -- the bucket count caps it.

Idempotence and isolation rules:
  * the fingerprint covers config AND n_buckets -- a manifest row can never
    satisfy a numerically-equal bucket id from a different bucketing;
  * output is partitioned by (job_fingerprint, bucket_id), so runs with
    different configs never share partition directories and a config change
    can never surface another config's stale rows;
  * every todo bucket's partition directory is explicitly cleared before
    the write -- a bucket that died mid-write is fully rewritten on retry,
    and a todo bucket that yields ZERO spans still ends up empty instead of
    retaining rows from an aborted earlier attempt;
  * counters ride an accumulator the kernel updates once per task, keyed
    by partition id and merged by replacement (a re-applied task update
    cannot double-count), never a re-read of the output directory -- at
    100 TB a read-back is two extra full passes over everything written.

Production target is two Iceberg tables; the sandbox has no Iceberg jars,
so both land as partitioned parquet with identical semantics.
"""

from __future__ import annotations

import os
import statistics
import struct
from collections import Counter
from dataclasses import asdict

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from p_id_text_extraction_spark.config import DEFAULT_CONFIG, ExtractConfig
from p_id_text_extraction_spark.functions.udfs import (
    JOB_ROW_SCHEMA,
    ReplaceByKey,
    make_job_kernel,
)

MANIFEST_COLUMNS = ["bucket_id", "job_fingerprint", "turns_in", "spans_out",
                    "classifier_drop_rate", "task_rows_max",
                    "task_rows_median", "input_probe", "completed_ts"]

MANIFEST_SCHEMA = ("bucket_id int, job_fingerprint string, turns_in long, "
                   "spans_out long, classifier_drop_rate double, "
                   "task_rows_max long, task_rows_median long, "
                   "input_probe string, completed_ts timestamp")

# input_probe values: an audit trail for zero-turn buckets.  'counted'
# means the bucket's rows were observed directly; 'hash_empty_verified'
# means the bucket saw zero rows but THIS run positively observed input
# elsewhere (the global probe) -- so a later audit can distinguish a
# legitimately hash-empty bucket from one recorded complete while an
# eventually-consistent listing was hiding its files.
PROBE_COUNTED = "counted"
PROBE_HASH_EMPTY = "hash_empty_verified"


def job_fingerprint(cfg: ExtractConfig, n_buckets: int,
                    bucket_fn: str = "xxhash") -> str:
    """Run-identity hash: a manifest row only skips work for the exact same
    parameters (config singleton analogue, config_manager.py:9-109).
    ``n_buckets`` is part of the identity -- bucket id 3 of a 16-bucketing
    and bucket id 3 of a 256-bucketing cover different conversations.
    ``bucket_fn`` likewise: xxhash and iceberg-murmur3 bucketings assign
    the same id to different conversation sets (folded into the blob only
    when non-default, so historical fingerprints stay valid)."""
    import hashlib
    import json
    d = {**asdict(cfg), "n_buckets": n_buckets}
    if bucket_fn != "xxhash":
        d["bucket_fn"] = bucket_fn
    blob = json.dumps(d, sort_keys=True)
    return hashlib.md5(blob.encode()).hexdigest()[:16]


def with_bucket(turns: DataFrame, n_buckets: int,
                bucket_fn: str = "xxhash") -> DataFrame:
    """Deterministic restart bucket.  'xxhash' (default): JVM-side
    pmod(xxhash64(conv_id), n) -- the cheap codegen path.  'iceberg': the
    spec's bucket[n](conv_id) murmur3 (Arrow-batched kernel), so the
    restart unit IS the spans table's hidden bucket partition and a
    retried bucket maps to exactly one overwritten partition."""
    if bucket_fn == "iceberg":
        from p_id_text_extraction_spark.sources.iceberg_format import (
            bucket_transform_col,
        )
        return turns.withColumn(
            "bucket_id", bucket_transform_col("conv_id", n_buckets, "string"))
    return turns.withColumn("bucket_id", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int"))


def completed_buckets(spark: SparkSession, manifest_dir: str, fingerprint: str) -> DataFrame:
    """Bucket ids already done for this fingerprint; empty if no manifest yet."""
    if not os.path.isdir(manifest_dir) or not any(
        f.endswith(".parquet") for root, _d, files in os.walk(manifest_dir) for f in files
    ):
        return spark.createDataFrame([], "bucket_id int")
    m = spark.read.parquet(manifest_dir)
    return m.filter(F.col("job_fingerprint") == fingerprint).select("bucket_id").distinct()


def _clear_todo_partitions(spark: SparkSession, output_dir: str,
                           fingerprint: str, todo_ids: list[int]) -> None:
    """Remove the partition dirs this run is about to (re)write.  Covers the
    two dynamic-overwrite blind spots: a bucket that died mid-write, and a
    todo bucket that produces zero spans this time (dynamic overwrite would
    rewrite nothing, silently keeping an aborted attempt's rows).  Deletion
    goes through the Hadoop FileSystem API so file:// / hdfs:// / s3a://
    output paths are handled, not just bare local paths."""
    from p_id_text_extraction_spark.util import delete_path
    base = f"{output_dir.rstrip('/')}/job_fingerprint={fingerprint}"
    for b in todo_ids:
        delete_path(spark, f"{base}/bucket_id={b}")


def write_slots(todo_ids: list[int], n_buckets: int, n_write: int) -> Column:
    """Shuffle key that deals the todo buckets round-robin over ``n_write``
    partitions -- each bucket in exactly one task, task bucket counts
    differing by at most one.  Hash-partitioning ``bucket_id`` directly
    collides: 4 buckets fill only 2 of 4 partitions, and 64 buckets over 4
    split 11/16/16/21.  Spark's hash partitioner sends an int ``v`` to
    ``pmod(murmur3_x86_32(v, seed=42), n)``, so the driver picks one int
    per partition and ``bucket_id`` indexes a literal array of them."""
    from p_id_text_extraction_spark.sources.iceberg_format import murmur3_32
    key_of: dict[int, int] = {}
    v = 0
    while len(key_of) < n_write:
        h = murmur3_32(struct.pack("<i", v), 42)
        key_of.setdefault((h - (h >> 31 << 32)) % n_write, v)
        v += 1
    slots = [0] * n_buckets
    for i, b in enumerate(todo_ids):
        slots[b] = key_of[i % n_write]
    return F.element_at(F.array(*map(F.lit, slots)), F.col("bucket_id") + 1)


def run_with_resume(
    spark: SparkSession,
    turns: DataFrame,
    output_dir: str,
    manifest_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    n_buckets: int = 16,
    bucket_filter: list[int] | None = None,
    write_partitions: int | None = None,
    catalog: str = "parquet",
    spans_layout: str = "identity",
) -> dict:
    """Run the fused pipeline over not-yet-completed buckets; append
    manifest rows.

    One pass: the todo turns (a literal ``isin`` on the collected done
    list) shuffle by bucket (``write_slots``) and the fused kernel runs in
    the write's result stage, so each bucket is extracted and written by
    one task: one data file per bucket per run, and kernel and write
    parallelism ``min(todo buckets, write_partitions)`` (default: the
    session's shuffle partitions).  All counters ride a ``ReplaceByKey``
    accumulator the kernel updates -- no cache, counting job or re-scan.

    ``bucket_filter`` (tests only) simulates a run killed after finishing a
    subset of buckets.

    ``catalog``: 'parquet' (partitioned parquet + explicit todo-partition
    clears) or 'iceberg' (both sinks are Iceberg tables via
    sources/iceberg.py -- spans retried buckets land as an atomic
    overwrite-partitions snapshot, so no pre-clear is needed, and the
    manifest append is a snapshot commit with isolation).

    ``spans_layout`` (iceberg only): 'identity' (default -- explicit
    bucket_id column, identity-partitioned) or 'bucket' (the north_rule's
    natural layout: spans partitioned by the SPEC's hidden
    ``bucket(conv_id, n_buckets)`` transform, no bucket_id data column;
    the restart bucketing switches to the same murmur3 function so one
    todo bucket == one overwritten table partition, and downstream
    per-conversation scans prune by bucket without any column).

    Returns the counter dict for the run.
    """
    if catalog not in ("parquet", "iceberg"):
        raise ValueError(f"unknown catalog {catalog!r}: use 'parquet' or 'iceberg'")
    if spans_layout not in ("identity", "bucket"):
        raise ValueError(f"unknown spans_layout {spans_layout!r}: use 'identity' or 'bucket'")
    if spans_layout == "bucket" and catalog != "iceberg":
        raise ValueError("spans_layout='bucket' requires catalog='iceberg' "
                         "(hidden partition transforms are an Iceberg concept)")
    cfg.validate()
    bucket_fn = "iceberg" if spans_layout == "bucket" else "xxhash"
    fingerprint = job_fingerprint(cfg, n_buckets, bucket_fn)

    if catalog == "iceberg":
        from p_id_text_extraction_spark.sources import iceberg as ice
        from p_id_text_extraction_spark.sources.iceberg_format import table_exists
        if table_exists(manifest_dir):
            done = (ice.read_table(spark, manifest_dir)
                    .filter(F.col("job_fingerprint") == fingerprint)
                    .select("bucket_id").distinct())
        else:
            done = spark.createDataFrame([], "bucket_id int")
    else:
        done = completed_buckets(spark, manifest_dir, fingerprint)
    done_ids = {r.bucket_id for r in done.collect()}           # <= n_buckets rows
    todo_ids = [b for b in range(n_buckets)
                if b not in done_ids and (bucket_filter is None or b in bucket_filter)]
    if not todo_ids:
        return {"fingerprint": fingerprint, "buckets_completed": 0,
                "task_rows_max": 0, "task_rows_median": 0}

    todo = with_bucket(turns.select("conv_id", "turn_idx", "text"), n_buckets, bucket_fn)
    if len(todo_ids) < n_buckets:
        todo = todo.filter(F.col("bucket_id").isin(todo_ids))   # J7: resume filter
    n_write = min(write_partitions or int(spark.conf.get("spark.sql.shuffle.partitions")),
                  len(todo_ids))
    counters = spark.sparkContext.accumulator({}, ReplaceByKey())
    spans = (
        todo.repartition(n_write, write_slots(todo_ids, n_buckets, n_write))
        .mapInPandas(make_job_kernel(cfg, counters), JOB_ROW_SCHEMA)
        .withColumn("job_fingerprint", F.lit(fingerprint))
    )
    if catalog == "iceberg":
        # one atomic overwrite-partitions snapshot: replaced partitions
        # are EXPLICIT (the todo set), so a bucket retried to zero spans
        # still drops its old files -- no pre-clear step, and a reader
        # never observes a half-written state.
        part_col = spec_col = "bucket_id"
        if spans_layout == "bucket":
            # hidden partitioning: no bucket_id data column.  The restart
            # bucket IS the table's bucket(conv_id, n) value (same murmur3
            # on both sides), so it rides along as that partition column.
            part_col, spec_col = "conv_id_bucket", f"bucket(conv_id, {n_buckets})"
            spans = spans.withColumnRenamed("bucket_id", part_col)
        ice.ensure_table(spark, output_dir, spans.drop("conv_id_bucket").schema,
                         ("job_fingerprint", spec_col))
        ice.overwrite_span_partitions(
            spans, output_dir,
            replaced=[{"job_fingerprint": fingerprint, part_col: b} for b in todo_ids])
    else:
        _clear_todo_partitions(spark, output_dir, fingerprint, todo_ids)
        from p_id_text_extraction_spark.util import dynamic_partition_overwrite
        with dynamic_partition_overwrite(spark):
            (spans.write.mode("overwrite")
             .partitionBy("job_fingerprint", "bucket_id")
             .parquet(output_dir))

    # lineage counters per completed bucket (FIXTURES.md section 3), all
    # from THIS run's kernel tasks -- no read-back.  classifier_drop_rate
    # (candidates dropped by suppress/merge vs candidates detected -- the
    # boxes-before/after ratio of grouping_logic.py:978-983) is a
    # run-level rate stamped on each bucket row of this run; the skew
    # counters are the span rows per write task (a hot conversation
    # concentrates its bucket's spans in one task).
    turns_in: Counter = Counter()
    spans_out: Counter = Counter()
    candidates_in = 0
    task_rows = []
    for t, s, c in counters.value.values():
        turns_in.update(t)
        spans_out.update(s)
        candidates_in += c
        if s:
            task_rows.append(sum(s.values()))
    spans_total = sum(spans_out.values())
    drop_rate = (candidates_in - spans_total) / candidates_in if candidates_in else 0.0
    task_rows_max = max(task_rows, default=0)
    task_rows_median = int(statistics.median(task_rows)) if task_rows else 0

    from datetime import datetime, timezone
    now = datetime.now(timezone.utc)
    # every todo bucket this run COVERED gets a manifest row -- including
    # buckets the hash left empty (turns_in 0), otherwise sparse buckets
    # are re-cleared and re-scanned on every resume forever.  The only
    # skip: an INPUT with zero rows overall -- marking all buckets
    # complete off a misconfigured (empty) input path would poison later
    # resumes.  (turns_in empty but input non-empty = a resume whose
    # remaining todo buckets are all legitimately hash-empty: record them,
    # or the run livelocks re-clearing them forever.)
    record = bool(turns_in) or bool(turns.limit(1).count())
    manifest_rows = [
        (b, fingerprint, turns_in[b], spans_out[b], drop_rate,
         task_rows_max, task_rows_median,
         PROBE_COUNTED if turns_in[b] else PROBE_HASH_EMPTY, now)
        for b in todo_ids
    ] if record else []
    if manifest_rows:
        mdf = spark.createDataFrame(manifest_rows, MANIFEST_SCHEMA)
        if catalog == "iceberg":
            ice.ensure_table(spark, manifest_dir, mdf.schema)
            ice.append_spans(mdf, manifest_dir)   # snapshot-isolated append
        else:
            mdf.write.mode("append").parquet(manifest_dir)

    return {"fingerprint": fingerprint, "buckets_completed": len(manifest_rows),
            "task_rows_max": task_rows_max, "task_rows_median": task_rows_median}

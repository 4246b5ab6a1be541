"""sf10 extraction scale step: run the extract pipelines two decades up.

The r4 sf10 sweep covered dedup/ANN/text only; this script covers the
EXTRACTION side (VERDICT r4 next-step #3):

  * dataset: 100x the bench transcripts table (default 4.8M conversations
    ~ 123M turns, deterministic per-conv md5 derivation -- the same
    generator, so it IS the bench table two decades up) PLUS a skewed
    mega-conversation shard: a few conversations of 200k turns each with
    periodic ~200KB mega-turns, the zipf tail the capped generator never
    emits;
  * walls: fused (map-only) pipeline warm + timed passes, relational
    pipeline timed pass, with turns/sec;
  * skew proof: the timed fused pass runs under the Spark event log; the
    final stage's per-task durations become a histogram and the
    max-task/median-task ratio -- SURVEY section 7.3-4's promised
    evidence that fine-grained scan splits bound stragglers;
  * kill-and-resume at scale: an uninterrupted run vs a
    killed-after-8-of-32-buckets + resumed run must produce an identical
    order-insensitive output checksum (collecting 123M spans to compare
    byte-for-byte is driver-side nonsense at this scale; the checksum is
    sum(xxhash64(struct(every column))) + count, computed in-plan);
  * correctness: extract_full / extract_fused stay hash-green against
    the DuckDB full-pipeline twin on the sf10 DOCUMENTS dir
    (tools/check_oracles.py).

Writes BENCH/SF10_EXTRACT.md.  Disk-aware: outputs are checksummed then
deleted sequentially (peak ~45 GB with the default sizes).

Usage: python tools/sf10_extract.py
Env: SF10X_CONVS (4800000), SF10X_MEGA_CONVS (4), SF10X_MEGA_TURNS
(200000), SF10X_DIR (/tmp/sf10_transcripts.parquet), SF10X_DOCS_DIR
(/tmp/spark_graft_sf10), SF10X_RELATIONAL (1), SF10X_KEEP (0: delete the
dataset afterwards too)
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_CONVS = int(os.environ.get("SF10X_CONVS", "4800000"))
MEGA_CONVS = int(os.environ.get("SF10X_MEGA_CONVS", "4"))
MEGA_TURNS = int(os.environ.get("SF10X_MEGA_TURNS", "200000"))
DATA_DIR = os.environ.get("SF10X_DIR", "/tmp/sf10_transcripts.parquet")
DOCS_DIR = os.environ.get("SF10X_DOCS_DIR", "/tmp/spark_graft_sf10")
RUN_RELATIONAL = os.environ.get("SF10X_RELATIONAL", "1") == "1"
KEEP = os.environ.get("SF10X_KEEP", "0") == "1"
EVENT_DIR = "/tmp/sf10_extract_events"
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def log(msg: str) -> None:
    print(f"[sf10x {time.strftime('%H:%M:%S')}] {msg}", flush=True)


def mega_shard(spark):
    """The skew shard: MEGA_CONVS conversations of MEGA_TURNS turns each,
    every 250th turn a ~200KB prose wall (gen_skew_turns' recipe, scaled).
    Minted distributed -- any worker derives any turn independently."""
    import pandas as pd

    from p_id_text_extraction_spark.sources.transcripts import (
        TRANSCRIPT_SCHEMA, _prose, _rng, gen_turn,
    )
    n_mega, n_turns = MEGA_CONVS, MEGA_TURNS

    def kernel(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k, t = divmod(int(i), n_turns)
                row = gen_turn(f"conv-mega-{k:02d}", t, 0)
                if t % 250 == 0:
                    row["text"] = _prose(_rng(f"conv-mega-{k:02d}", t, "mega"), 400, 500)
                rows.append(row)
            yield pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                              "text", "tool", "ts"])

    return (spark.range(n_mega * n_turns).repartition(64)
            .mapInPandas(kernel, TRANSCRIPT_SCHEMA))


def ensure_dataset() -> dict:
    marker = os.path.join(DATA_DIR, "_SF10X_COMPLETE")
    want = {"convs": N_CONVS, "mega_convs": MEGA_CONVS, "mega_turns": MEGA_TURNS}
    if os.path.isfile(marker):
        got = json.load(open(marker))
        if {k: got[k] for k in want} == want:
            log(f"dataset reused: {got}")
            return got
    from p_id_text_extraction_spark.session import get_spark
    from p_id_text_extraction_spark.sources.transcripts import distributed_transcripts
    spark = get_spark(app="sf10x_gen", cores=CPUS, shuffle_partitions=CPUS)
    t0 = time.monotonic()
    # ~4k files of ~5 MB: parquet can't split BELOW a row group, and big
    # files get one ~70 MB row group -- sub-row-group byte-range splits
    # then schedule as EMPTY tasks while ~300 giant tasks do all the work
    # (first attempt's failure mode).  The fan-out happens on the
    # GENERATOR'S id range (longs); repartitioning the generated text
    # afterwards shuffles 22 GB through one JVM and OOMs it (second
    # attempt's failure mode).
    base = distributed_transcripts(spark, N_CONVS, partitions=4032)
    df = base.unionByName(mega_shard(spark))
    tmp = DATA_DIR + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    spark.stop()
    shutil.rmtree(DATA_DIR, ignore_errors=True)
    os.replace(tmp, DATA_DIR)
    info = {**want, "turns": n, "gen_s": round(time.monotonic() - t0, 1)}
    with open(marker, "w") as f:
        json.dump(info, f)
    log(f"dataset generated: {info}")
    return info


def timed_fused() -> dict:
    """Fused pipeline under the event log; returns walls + the final
    timed pass's per-task duration histogram."""
    from p_id_text_extraction_spark.plans.pipeline import extract_pipeline_fused
    from p_id_text_extraction_spark.session import get_spark
    from p_id_text_extraction_spark.sources.transcripts import read_transcripts
    shutil.rmtree(EVENT_DIR, ignore_errors=True)
    os.makedirs(EVENT_DIR, exist_ok=True)
    # 8m splits pack ~1-2 of the ~5MB files per task (no sub-row-group
    # empty splits); ~3k tasks = ~100 waves at 32 cores
    spark = get_spark(app="sf10x_fused", cores=CPUS, shuffle_partitions=CPUS,
                      extra={"spark.sql.files.maxPartitionBytes": "8m",
                             "spark.sql.files.openCostInBytes": "262144",
                             "spark.eventLog.enabled": "true",
                             "spark.eventLog.compress": "false",
                             "spark.eventLog.dir": EVENT_DIR})
    turns = read_transcripts(spark, DATA_DIR)
    n = turns.count()
    extract_pipeline_fused(turns).write.format("noop").mode("overwrite").save()  # warm
    walls = []
    for _ in range(2):
        t0 = time.monotonic()
        extract_pipeline_fused(turns).write.format("noop").mode("overwrite").save()
        walls.append(round(time.monotonic() - t0, 1))
    spark.stop()
    hist = task_histogram(EVENT_DIR)
    return {"turns": n, "walls": walls,
            "turns_per_sec": round(n / min(walls), 1), "tasks": hist}


def task_histogram(event_dir: str) -> dict:
    """Per-task durations of the LAST large stage in the event log == the
    final timed fused pass (the plan is map-only: one stage per action)."""
    # Spark 4 rolling format: <dir>/eventlog_v2_<app>/events_1_..., plus
    # the single-file layout older versions write -- handle both
    logs: list[str] = []
    for root, _dirs, files in os.walk(event_dir):
        logs.extend(os.path.join(root, f) for f in files
                    if f.startswith("events") and ".zstd" not in f
                    and ".lz4" not in f)
    stages: dict[int, list[float]] = {}
    for lp in sorted(logs):
        with open(lp) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info = ev.get("Task Info") or {}
                dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                stages.setdefault(ev.get("Stage ID", -1), []).append(dur)
    big = [sid for sid, ds in stages.items() if len(ds) > 100]
    sid = max(big) if big else max(stages)
    ds = sorted(stages[sid])
    med = statistics.median(ds)
    return {"stage_id": sid, "n_tasks": len(ds),
            "median_s": round(med, 2),
            "p95_s": round(ds[int(0.95 * (len(ds) - 1))], 2),
            "max_s": round(ds[-1], 2),
            "max_over_median": round(ds[-1] / med, 2) if med else None}


def timed_relational() -> dict:
    from p_id_text_extraction_spark.plans.pipeline import extract_pipeline
    from p_id_text_extraction_spark.session import get_spark
    from p_id_text_extraction_spark.sources.transcripts import read_transcripts
    spark = get_spark(app="sf10x_rel", cores=CPUS, shuffle_partitions=256,
                      extra={"spark.sql.files.maxPartitionBytes": "16m"})
    turns = read_transcripts(spark, DATA_DIR)
    n = turns.count()
    t0 = time.monotonic()
    extract_pipeline(turns).write.format("noop").mode("overwrite").save()
    wall = round(time.monotonic() - t0, 1)
    spark.stop()
    return {"turns": n, "wall_s": wall, "turns_per_sec": round(n / wall, 1)}


def checksum_df(df):
    from pyspark.sql import functions as F
    df = df.drop("bucket_id", "job_fingerprint")
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(F.struct(*sorted(df.columns))).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row.n), int(row.h or 0)


def resume_cycle() -> dict:
    """Killed-and-resumed at 32 buckets must equal the uninterrupted
    pipeline: identical order-insensitive checksum, idempotent third run.

    Disk shape (this box has ~57 GB scratch and the corpus is 22 GB):
    the uninterrupted baseline is checksummed IN-PLAN over the fused
    pipeline -- a map-only scan into a 1-row aggregate, zero output, zero
    spill -- instead of materializing a second 20 GB spans tree; and each
    resume phase runs in its OWN session so shuffle scratch (the
    repartition of the turns by bucket) is freed between phases."""
    from pyspark.sql import functions as F  # noqa: F401  (checksum_df)

    from p_id_text_extraction_spark.plans.checkpoint import run_with_resume
    from p_id_text_extraction_spark.plans.pipeline import extract_pipeline_fused
    from p_id_text_extraction_spark.session import get_spark
    from p_id_text_extraction_spark.sources.transcripts import read_transcripts
    out_b, man_b = "/tmp/sf10x_spans_b", "/tmp/sf10x_man_b"
    for d in (out_b, man_b):
        shutil.rmtree(d, ignore_errors=True)

    def session():
        return get_spark(app="sf10x_resume", cores=CPUS, shuffle_partitions=256,
                         extra={"spark.sql.files.maxPartitionBytes": "16m"})

    # phase 0: logical uninterrupted baseline, zero-output
    spark = session()
    t0 = time.monotonic()
    ck_a = checksum_df(extract_pipeline_fused(read_transcripts(spark, DATA_DIR)))
    wall_full = round(time.monotonic() - t0, 1)
    spark.stop()
    # phase 1: the "killed" run -- 8 of 32 buckets land
    spark = session()
    t0 = time.monotonic()
    r1 = run_with_resume(spark, read_transcripts(spark, DATA_DIR), out_b, man_b,
                         n_buckets=32, bucket_filter=list(range(8)))
    wall_part = round(time.monotonic() - t0, 1)
    spark.stop()
    # phase 2: resume completes the remaining 24; third run is a no-op;
    # checksum the resumed output
    spark = session()
    turns = read_transcripts(spark, DATA_DIR)
    t0 = time.monotonic()
    r2 = run_with_resume(spark, turns, out_b, man_b, n_buckets=32)
    wall_resume = round(time.monotonic() - t0, 1)
    r3 = run_with_resume(spark, turns, out_b, man_b, n_buckets=32)
    ck_b = checksum_df(spark.read.parquet(out_b))
    for d in (out_b, man_b):
        shutil.rmtree(d, ignore_errors=True)
    spark.stop()
    assert r1["buckets_completed"] == 8 and r2["buckets_completed"] == 24, (r1, r2)
    assert r3["buckets_completed"] == 0, r3
    assert ck_a == ck_b, (ck_a, ck_b)
    return {"checksum": {"n": ck_a[0], "xxhash_sum": str(ck_a[1])},
            "identical": True, "idempotent": True,
            "wall_uninterrupted_s": wall_full, "wall_partial_8_of_32_s": wall_part,
            "wall_resume_24_of_32_s": wall_resume}


def extract_oracles() -> str:
    """extract_full / extract_fused vs the DuckDB full-pipeline twin on
    the sf10 documents dir (regenerated if missing)."""
    if not os.path.isfile(os.path.join(DOCS_DIR, "_COMPLETE")):
        log("regenerating sf10 docs dir")
        subprocess.run([sys.executable, os.path.join(REPO, "tools", "gen_sf1.py"),
                        DOCS_DIR],
                       env={**os.environ, "GEN_SHARDS": "1", "GEN_DOC_SHARDS": "100"},
                       check=True, timeout=3600)
    p = subprocess.run([sys.executable, os.path.join(REPO, "tools", "check_oracles.py"),
                        DOCS_DIR, "extract_full", "extract_fused"],
                       capture_output=True, text=True, timeout=7200)
    tail = "\n".join((p.stdout or "").strip().splitlines()[-6:])
    if p.returncode != 0:
        raise RuntimeError(f"check_oracles failed:\n{tail}\n{p.stderr[-2000:]}")
    return tail


STATE = "/tmp/sf10x_state.json"


def _phase(state: dict, name: str, fn):
    """Run a phase once; a crash later in the script never redoes a
    completed 10-25 minute phase (results cached to STATE)."""
    if name in state:
        log(f"{name}: reused {state[name]}")
        return state[name]
    state[name] = fn()
    with open(STATE, "w") as f:
        json.dump(state, f)
    return state[name]


def main() -> None:
    t_start = time.monotonic()
    info = ensure_dataset()
    state = {}
    if os.path.isfile(STATE):
        state = json.load(open(STATE))
        if state.get("_dataset") != info.get("turns"):
            state = {}
    state["_dataset"] = info.get("turns")
    fused = _phase(state, "fused", timed_fused)
    log(f"fused: {fused['walls']} s -> {fused['turns_per_sec']} turns/s; "
        f"tasks {fused['tasks']}")
    rel = _phase(state, "relational", timed_relational) if RUN_RELATIONAL else None
    if rel:
        log(f"relational: {rel['wall_s']} s -> {rel['turns_per_sec']} turns/s")
    res = _phase(state, "resume", resume_cycle)
    log(f"resume: {res}")
    oracles = extract_oracles()
    log(f"oracles:\n{oracles}")
    if not KEEP:
        shutil.rmtree(DATA_DIR, ignore_errors=True)
        shutil.rmtree(EVENT_DIR, ignore_errors=True)

    md = [
        "# BENCH/SF10_EXTRACT.md -- extraction at the second scale decade",
        "",
        f"Dataset: {info['turns']:,} turns = {info['convs']:,} generated",
        f"conversations (100x the bench table's conv count) + {info['mega_convs']}",
        f"mega-conversations of {info['mega_turns']:,} turns each with ~200KB",
        "prose walls every 250 turns (the zipf tail the capped generator never",
        "emits).  Deterministic per-conv md5 derivation -- the bench table two",
        "decades up, not new data.",
        "",
        "## Walls (local[32], ~5MB file-granular tasks, noop sink)",
        "",
        "| pipeline | walls s | turns/sec |",
        "| --- | --- | --- |",
        f"| fused (map-only) | {fused['walls']} | {fused['turns_per_sec']:,} |",
    ] + ([f"| relational (1 exchange) | [{rel['wall_s']}] | {rel['turns_per_sec']:,} |"]
         if rel else []) + [
        "",
        "## Skew: per-task durations of the timed fused stage",
        "",
        f"{fused['tasks']['n_tasks']} tasks: median {fused['tasks']['median_s']}s,",
        f"p95 {fused['tasks']['p95_s']}s, max {fused['tasks']['max_s']}s ->",
        f"**max/median = {fused['tasks']['max_over_median']}** (event-log",
        "task-end deltas, stage id "
        f"{fused['tasks']['stage_id']}).  The mega-conversations do NOT own",
        "whole tasks: the fused kernel is per-turn and the ~5MB file-granular",
        "scan tasks slice even a 200k-turn conversation across many tasks --",
        "which is",
        "exactly the design claim (SURVEY 7.3-4): wall time is bounded by the",
        "slowest SPLIT, not the largest conversation.",
        "",
        "## Kill-and-resume at 32 buckets",
        "",
        f"Uninterrupted baseline (in-plan checksum over the fused pipeline,",
        f"zero output): {res['wall_uninterrupted_s']}s.  Killed run:",
        f"8/32 buckets ({res['wall_partial_8_of_32_s']}s), resume completes",
        f"24/32 ({res['wall_resume_24_of_32_s']}s); third run commits 0.",
        f"Order-insensitive checksum over every span column (n="
        f"{res['checksum']['n']:,}, sum-of-xxhash64",
        f"{res['checksum']['xxhash_sum']}): **identical** between the",
        "uninterrupted and resumed outputs; manifest idempotence holds.",
        "",
        "## Correctness at sf10 (DuckDB full-pipeline twin, documents dir)",
        "",
        "```",
        oracles,
        "```",
        "",
    ]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "SF10_EXTRACT.md"), "w") as f:
        f.write("\n".join(md))
    log(f"done in {round((time.monotonic() - t_start) / 60, 1)} min -> BENCH/SF10_EXTRACT.md")


if __name__ == "__main__":
    main()

"""Checkpoint/resume property tests (SURVEY.md section 5 strategy #3,
FIXTURES.md section 3): kill-and-resume must be byte-identical to an
uninterrupted run; a completed manifest must skip all work."""

from __future__ import annotations

import pytest

from p_id_text_extraction_spark.config import ExtractConfig
from p_id_text_extraction_spark.plans.checkpoint import job_fingerprint, run_with_resume
from p_id_text_extraction_spark.sources.transcripts import gen_turns, transcripts_df

KEY = ["conv_id", "turn_idx", "span_rank"]


@pytest.fixture(scope="module")
def turns_df(spark):
    return transcripts_df(spark, gen_turns(40, max_turns=10, seed=3))


def _rows(spark, path):
    return [tuple(r) for r in spark.read.parquet(path)
            .drop("bucket_id", "job_fingerprint").orderBy(*KEY).collect()]


def test_kill_and_resume_identical(spark, turns_df, tmp_path):
    full_out, full_man = str(tmp_path / "of"), str(tmp_path / "mf")
    res_out, res_man = str(tmp_path / "or"), str(tmp_path / "mr")

    run_with_resume(spark, turns_df, full_out, full_man, n_buckets=8)

    r1 = run_with_resume(spark, turns_df, res_out, res_man, n_buckets=8, bucket_filter=[0, 1, 2, 3])
    assert r1["buckets_completed"] == 4
    r2 = run_with_resume(spark, turns_df, res_out, res_man, n_buckets=8)
    assert r2["buckets_completed"] == 4

    assert _rows(spark, res_out) == _rows(spark, full_out)

    # idempotent no-op on a complete manifest
    r3 = run_with_resume(spark, turns_df, res_out, res_man, n_buckets=8)
    assert r3["buckets_completed"] == 0


def test_manifest_lineage_counters(spark, turns_df, tmp_path):
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    run_with_resume(spark, turns_df, out, man, n_buckets=4)
    rows = spark.read.parquet(man).collect()
    assert len(rows) == 4
    assert sum(r.turns_in for r in rows) == turns_df.count()
    assert sum(r.spans_out for r in rows) == spark.read.parquet(out).count()
    for r in rows:
        assert r.spans_out >= 0 and r.turns_in > 0
        # boxes-before/after ratio analogue (grouping_logic.py:978-983)
        assert 0.0 <= r.classifier_drop_rate < 1.0
        assert r.input_probe == "counted"
    # write-stage skew counters: run-level, stamped on every bucket row;
    # plan arithmetic -- max covers the pigeonhole bound of the total over
    # the write partitioning, median never exceeds max
    import math
    total = sum(r.spans_out for r in rows)
    n_write = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for r in rows:
        assert 0 < r.task_rows_median <= r.task_rows_max <= total
        assert r.task_rows_max >= math.ceil(total / n_write)


def test_manifest_skew_counters_flag_hot_conversation(spark, tmp_path):
    """A hot conversation (5000 turns vs max-20 elsewhere) concentrates
    its spans in one write task -- the manifest's task_rows_max/median
    ratio must surface it, which is the production observability the
    skew story promises."""
    from p_id_text_extraction_spark.sources.transcripts import gen_skew_turns
    turns = transcripts_df(spark, gen_skew_turns())
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    r = run_with_resume(spark, turns, out, man, n_buckets=4)
    assert r["task_rows_max"] / max(1, r["task_rows_median"]) > 2
    rows = spark.read.parquet(man).collect()
    assert all(row.task_rows_max == r["task_rows_max"] for row in rows)


def test_manifest_flags_hash_empty_buckets(spark, turns_df, tmp_path):
    """A todo bucket the conv-id hash leaves empty is recorded complete,
    but with input_probe='hash_empty_verified' -- the audit trail that
    distinguishes 'legitimately empty under a healthy input' from 'input
    listing was missing files' (ADVICE round 2)."""
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    # 256 buckets over 40 convs guarantees many hash-empty buckets
    run_with_resume(spark, turns_df, out, man, n_buckets=256)
    rows = spark.read.parquet(man).collect()
    assert len(rows) == 256
    probes = {r.input_probe for r in rows if r.turns_in == 0}
    assert probes == {"hash_empty_verified"}
    assert all(r.input_probe == "counted" for r in rows if r.turns_in > 0)


def test_fingerprint_isolation(spark, turns_df, tmp_path):
    """A manifest row from one config never satisfies another config,
    and a bucketing change is a config change (ADVICE round 1)."""
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    run_with_resume(spark, turns_df, out, man, n_buckets=4)
    cfg2 = ExtractConfig(pad=4)
    assert job_fingerprint(cfg2, 4) != job_fingerprint(ExtractConfig(), 4)
    assert job_fingerprint(ExtractConfig(), 4) != job_fingerprint(ExtractConfig(), 16)
    r = run_with_resume(spark, turns_df, str(tmp_path / "o2"), man, cfg=cfg2, n_buckets=4)
    assert r["buckets_completed"] == 4  # nothing skipped


def test_job_output_equals_relational_pipeline(spark, turns_df, tmp_path):
    """The job's spans, written through the resume protocol, must equal
    the relational `extract_pipeline` rows -- the golden cross-check of
    the fused kernel against the declarative plan."""
    from p_id_text_extraction_spark.plans.pipeline import extract_pipeline
    run_with_resume(spark, turns_df, str(tmp_path / "o"), str(tmp_path / "m"), n_buckets=8)
    want = [tuple(r) for r in extract_pipeline(turns_df).orderBy(*KEY).collect()]
    assert _rows(spark, str(tmp_path / "o")) == want and want


def test_zero_span_todo_bucket_cleared(spark, tmp_path):
    """A todo bucket that yields zero spans must still clear its partition:
    dynamic overwrite alone rewrites nothing for it, silently keeping rows
    from an aborted earlier attempt (ADVICE round 1)."""
    import os
    out = str(tmp_path / "o")
    turns_a = transcripts_df(spark, [
        {"conv_id": "k", "turn_idx": 0, "role": "user",
         "text": "Seventeen engineers review pipeline design documents today.",
         "tool": None, "ts": None},
    ])
    # attempt 1 writes spans but "dies" before its manifest append lands
    run_with_resume(spark, turns_a, out, str(tmp_path / "m1"), n_buckets=1)
    fp = job_fingerprint(ExtractConfig(), 1)
    part = os.path.join(out, f"job_fingerprint={fp}", "bucket_id=0")
    assert any(f.endswith(".parquet") for f in os.listdir(part))
    # retry with the same fingerprint: the conv's text now yields ZERO spans
    turns_b = transcripts_df(spark, [
        {"conv_id": "k", "turn_idx": 0, "role": "user", "text": "", "tool": None, "ts": None},
    ])
    run_with_resume(spark, turns_b, out, str(tmp_path / "m2"), n_buckets=1)
    assert not os.path.isdir(part) or not any(f.endswith(".parquet") for f in os.listdir(part))


def test_resume_churn_matrix_isolation(spark, turns_df, tmp_path):
    """Interleaved config AND bucketing churn over SHARED output/manifest
    dirs (VERDICT r2 item 7): A-run (killed half-way), B-run (different
    config and n_buckets, uninterrupted), then A-resume.  Each
    fingerprint's rows must be byte-equal to its own isolated
    uninterrupted run -- zero cross-contamination in either direction,
    and neither run may satisfy or clear the other's buckets."""
    out, man = str(tmp_path / "shared_out"), str(tmp_path / "shared_man")
    cfg_a, nb_a = ExtractConfig(), 8
    cfg_b, nb_b = ExtractConfig(pad=4), 4

    ra1 = run_with_resume(spark, turns_df, out, man, cfg=cfg_a, n_buckets=nb_a,
                          bucket_filter=[0, 1, 2, 3])
    rb = run_with_resume(spark, turns_df, out, man, cfg=cfg_b, n_buckets=nb_b)
    ra2 = run_with_resume(spark, turns_df, out, man, cfg=cfg_a, n_buckets=nb_a)
    assert (ra1["buckets_completed"], rb["buckets_completed"], ra2["buckets_completed"]) \
        == (4, 4, 4)

    # isolated uninterrupted baselines
    run_with_resume(spark, turns_df, str(tmp_path / "ia"), str(tmp_path / "iam"),
                    cfg=cfg_a, n_buckets=nb_a)
    run_with_resume(spark, turns_df, str(tmp_path / "ib"), str(tmp_path / "ibm"),
                    cfg=cfg_b, n_buckets=nb_b)

    fp_a, fp_b = job_fingerprint(cfg_a, nb_a), job_fingerprint(cfg_b, nb_b)
    shared = spark.read.parquet(out)
    assert set(r.job_fingerprint for r in shared.select("job_fingerprint").distinct().collect()) \
        == {fp_a, fp_b}

    def rows(df):
        return [tuple(r) for r in df.drop("bucket_id", "job_fingerprint")
                .orderBy(*KEY).collect()]

    assert rows(shared.filter(shared.job_fingerprint == fp_a)) \
        == _rows(spark, str(tmp_path / "ia"))
    assert rows(shared.filter(shared.job_fingerprint == fp_b)) \
        == _rows(spark, str(tmp_path / "ib"))

    # manifest isolation: exactly one row per (fingerprint, bucket), no leaks
    man_rows = spark.read.parquet(man).collect()
    per_fp = {}
    for r in man_rows:
        per_fp.setdefault(r.job_fingerprint, []).append(r.bucket_id)
    assert sorted(per_fp[fp_a]) == list(range(nb_a))
    assert sorted(per_fp[fp_b]) == list(range(nb_b))
    assert set(per_fp) == {fp_a, fp_b}

    # a FOURTH run of either config is a no-op: churn never un-completes work
    assert run_with_resume(spark, turns_df, out, man, cfg=cfg_a,
                           n_buckets=nb_a)["buckets_completed"] == 0
    assert run_with_resume(spark, turns_df, out, man, cfg=cfg_b,
                           n_buckets=nb_b)["buckets_completed"] == 0

"""Shape and counters of the extract job (plans/checkpoint.run_with_resume):
one shuffle of the turns by bucket, the fused kernel in the write stage,
one data file per bucket, counters that ride the kernel."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import Observation

from p_id_text_extraction_spark.config import ExtractConfig
from p_id_text_extraction_spark.plans.checkpoint import job_fingerprint, run_with_resume
from p_id_text_extraction_spark.plans.pipeline import extract_pipeline
from p_id_text_extraction_spark.sources.transcripts import gen_turns, transcripts_df

PYTHON_NODES = re.compile(r"\b(MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|"
                          r"BatchEvalPython|FlatMapGroupsInPandas)\b")


@pytest.fixture(scope="module")
def turns_df(spark):
    return transcripts_df(spark, gen_turns(40, max_turns=10, seed=3))


def _executions(spark) -> dict[int, str]:
    """Physical-plan descriptions (AQE final plans) of the SQL executions
    the session still retains, by execution id."""
    store = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {store.apply(i).executionId(): store.apply(i).physicalPlanDescription()
            for i in range(store.size())}


def _final_tree(desc: str) -> str:
    tree = desc.split("\n\n(1)")[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    return tree


def _node_details(desc: str, name: str) -> list[str]:
    return [b for b in desc.split("\n\n") if re.match(rf"\(\d+\) {name}\b", b)]


def test_job_plan_shape(spark, turns_df, tmp_path):
    """The job's one write plan: exactly one exchange (a hash on the bucket,
    over the turns), no cached relation, one Python node -- the kernel --
    and no other execution runs the kernel."""
    before = max(_executions(spark), default=-1)
    run_with_resume(spark, turns_df, str(tmp_path / "o"), str(tmp_path / "m"), n_buckets=8)
    new = [d for i, d in _executions(spark).items() if i > before]
    assert not any("InMemory" in d for d in new)
    kernel = [d for d in new if PYTHON_NODES.search(d)]
    assert len(kernel) == 1
    desc = kernel[0]
    assert "InsertIntoHadoopFsRelationCommand" in desc
    tree = _final_tree(desc)
    assert len(PYTHON_NODES.findall(tree)) == 1 and "MapInPandas" in tree
    assert len(re.findall(r"\bExchange\b", tree)) == 1
    exchanges = _node_details(desc, "Exchange")     # the final and initial plan's
    assert exchanges
    for ex in exchanges:
        assert "hashpartitioning(" in ex and "bucket_id" in ex.split("Arguments:")[1]
        inputs = ex.split("Input")[1].split("\n")[0]
        assert "text" in inputs and "span_rank" not in inputs  # turns, not spans


def test_one_file_per_bucket_parquet(spark, turns_df, tmp_path):
    """Kill, resume: after each run every bucket it did holds exactly one
    data file (the write shuffle is by bucket, not by conversation)."""
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    base = os.path.join(out, f"job_fingerprint={job_fingerprint(ExtractConfig(), 8)}")

    def files(b):
        d = os.path.join(base, f"bucket_id={b}")
        return [f for f in os.listdir(d) if f.endswith(".parquet")] if os.path.isdir(d) else []

    run_with_resume(spark, turns_df, out, man, n_buckets=8, bucket_filter=[0, 1, 2, 3])
    assert [len(files(b)) for b in range(8)] == [1, 1, 1, 1, 0, 0, 0, 0]
    run_with_resume(spark, turns_df, out, man, n_buckets=8)
    assert [len(files(b)) for b in range(8)] == [1] * 8


def test_one_file_per_bucket_iceberg_bucket_layout(spark, turns_df, tmp_path):
    from p_id_text_extraction_spark.sources import iceberg_format as ice
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    run_with_resume(spark, turns_df, out, man, n_buckets=8, catalog="iceberg",
                    spans_layout="bucket")
    per_bucket: dict[int, int] = {}
    for f in ice.plan_files(out):
        b = f["partition"]["conv_id_bucket"]
        per_bucket[b] = per_bucket.get(b, 0) + 1
    assert per_bucket == {b: 1 for b in range(8)}


def test_classifier_drop_rate_matches_relational_lineage(spark, turns_df, tmp_path):
    """The job's run-level drop rate is (candidates_in - spans) /
    candidates_in, with candidates_in exactly what the relational plan's
    observe() counts on the same input."""
    obs = Observation("lineage")
    spans = len(extract_pipeline(turns_df, observation=obs).collect())
    candidates_in = obs.get["candidates_in"]
    assert candidates_in > spans > 0
    want = (candidates_in - spans) / candidates_in

    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    run_with_resume(spark, turns_df, out, man, n_buckets=8)
    rows = spark.read.parquet(man).collect()
    assert sum(r.spans_out for r in rows) == spans
    assert {r.classifier_drop_rate for r in rows} == {want}
    assert 0.0 <= want < 1.0


def test_write_tasks_balanced_over_buckets(spark):
    """Each write task gets whole buckets and the bucket counts per task
    differ by at most one: 4 buckets over 4 tasks fill all 4 (a plain hash
    of bucket_id fills only 2)."""
    from pyspark.sql import functions as F

    from p_id_text_extraction_spark.plans.checkpoint import with_bucket, write_slots
    for n_buckets, todo in ((4, [0, 1, 2, 3]), (64, list(range(64))),
                            (64, list(range(1, 64, 2)))):
        df = (with_bucket(spark.range(n_buckets * 50).select(
                  F.col("id").cast("string").alias("conv_id")), n_buckets)
              .filter(F.col("bucket_id").isin(todo))
              .repartition(4, write_slots(todo, n_buckets, 4)))
        per_task: dict[int, set] = {}
        for r in df.select("bucket_id", F.spark_partition_id().alias("p")).collect():
            per_task.setdefault(r.p, set()).add(r.bucket_id)
        sizes = sorted(len(s) for s in per_task.values())
        assert sum(sizes) == len(todo) and len(sizes) == 4, (n_buckets, sizes)
        assert sizes[-1] - sizes[0] <= 1, (n_buckets, sizes)

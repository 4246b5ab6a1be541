"""Exactly-once job counters under a task retry: a kernel task that fails
on its first attempt and succeeds on the retry must leave the same
manifest counters as a clean run.

The failure is injected from the test side only: a ``sitecustomize`` on the
subprocess's PYTHONPATH wraps the kernel's per-turn function in the driver
and in every Python worker, and raises once -- on the first attempt of
whichever task first consumes the arm file."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SITECUSTOMIZE = textwrap.dedent('''
    import os

    _ARM = os.environ.get("EXTRACT_FAIL_ONCE_FILE")
    if _ARM:
        from p_id_text_extraction_spark.oracle import pipeline as _pipeline

        _orig = _pipeline.extract_turn_counted

        def extract_turn_counted(*args, **kwargs):
            from pyspark import TaskContext
            tc = TaskContext.get()
            if tc is not None and tc.attemptNumber() == 0:
                try:
                    os.remove(_ARM)
                except FileNotFoundError:
                    pass
                else:
                    raise RuntimeError("injected first-attempt kernel failure")
            return _orig(*args, **kwargs)

        _pipeline.extract_turn_counted = extract_turn_counted
''')

DRIVER = textwrap.dedent('''
    import json, os, sys
    from p_id_text_extraction_spark.plans.checkpoint import run_with_resume
    from p_id_text_extraction_spark.session import get_spark
    from p_id_text_extraction_spark.sources.transcripts import gen_turns, transcripts_df

    tmp, arm = sys.argv[1], os.environ["EXTRACT_FAIL_ONCE_FILE"]
    spark = get_spark(app="exactly_once", cores=2, shuffle_partitions=2,
                      extra={"spark.master": "local[2,2]", "spark.driver.memory": "1g"})
    turns = transcripts_df(spark, gen_turns(30, max_turns=8, seed=21))
    cols = ["bucket_id", "turns_in", "spans_out", "classifier_drop_rate",
            "task_rows_max", "task_rows_median", "input_probe"]
    res = {"master": spark.sparkContext.master}
    for name in ("clean", "retried"):
        if name == "retried":
            open(arm, "w").close()
        out, man = os.path.join(tmp, name + "_out"), os.path.join(tmp, name + "_man")
        res[name] = run_with_resume(spark, turns, out, man, n_buckets=4)
        res[name + "_manifest"] = [list(r) for r in spark.read.parquet(man)
                                   .select(*cols).orderBy("bucket_id").collect()]
        res[name + "_spans"] = spark.read.parquet(out).count()
    res["armed_left"] = os.path.exists(arm)
    spark.stop()
    print("RESULT " + json.dumps(res))
''')


def test_counters_exactly_once_under_task_retry(tmp_path):
    site = tmp_path / "site"
    site.mkdir()
    (site / "sitecustomize.py").write_text(SITECUSTOMIZE)
    driver = tmp_path / "driver.py"
    driver.write_text(DRIVER)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(site), ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["EXTRACT_FAIL_ONCE_FILE"] = str(tmp_path / "fail_once")
    proc = subprocess.run([sys.executable, str(driver), str(tmp_path)], env=env,
                          capture_output=True, text=True, timeout=600)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    res = json.loads(lines[-1][len("RESULT "):])

    assert res["master"] == "local[2,2]"
    # the failure really happened: the retried run consumed the arm file,
    # and its first attempt died in the kernel
    assert res["armed_left"] is False
    assert "injected first-attempt kernel failure" in proc.stderr
    assert res["retried"]["buckets_completed"] == res["clean"]["buckets_completed"] == 4
    assert res["retried_manifest"] == res["clean_manifest"]
    assert res["retried"]["task_rows_max"] == res["clean"]["task_rows_max"]
    assert res["retried"]["task_rows_median"] == res["clean"]["task_rows_median"]
    assert res["retried_spans"] == res["clean_spans"] == sum(
        r[2] for r in res["clean_manifest"])
    assert all(0.0 <= r[3] < 1.0 for r in res["clean_manifest"])

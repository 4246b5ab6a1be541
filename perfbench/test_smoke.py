"""Smoke test of the benchmark at a tiny size.

    python3 -m pytest -q perfbench/test_smoke.py

The end-to-end cases start several Spark JVMs and take minutes; the gate
cases need no Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gate  # noqa: E402
from perfbench.workloads import N_BUCKETS, WORKLOADS, mint_turns  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)


def _write_committed(tmp, turns, fingerprint="fp"):
    """Lay out the oracle's spans and a manifest the way a parquet-catalog
    run commits them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from p_id_text_extraction_spark.oracle.pipeline import OUTPUT_FIELDS, extract_turn_tuples
    from p_id_text_extraction_spark.sources.iceberg_format import bucket_value
    by_bucket: dict[int, list] = {b: [] for b in range(N_BUCKETS)}
    turns_in = dict.fromkeys(range(N_BUCKETS), 0)
    for t in turns:
        b = bucket_value(t["conv_id"], N_BUCKETS, "string")
        turns_in[b] += 1
        by_bucket[b] += extract_turn_tuples(t["conv_id"], t["turn_idx"], t["text"])
    out, man = tmp / "out", tmp / "manifest"
    for b, rows in by_bucket.items():
        if rows:
            d = out / f"job_fingerprint={fingerprint}" / f"bucket_id={b}"
            d.mkdir(parents=True)
            cols = {f: [r[i] for r in rows] for i, f in enumerate(OUTPUT_FIELDS)}
            pq.write_table(pa.table(cols), d / "part-00000.parquet")
    man.mkdir()
    pq.write_table(pa.table({
        "bucket_id": list(range(N_BUCKETS)),
        "job_fingerprint": [fingerprint] * N_BUCKETS,
        "turns_in": [turns_in[b] for b in range(N_BUCKETS)],
        "spans_out": [len(by_bucket[b]) for b in range(N_BUCKETS)],
    }), man / "part-00000.parquet")
    return str(out), str(man)


@pytest.fixture()
def committed(tmp_path):
    turns = mint_turns("t", 7, 300)
    n, digest = gate.oracle_digest(turns)
    expected = {"turns": len(turns), "spans": n, "digest": digest}
    out, man = _write_committed(tmp_path, turns)
    result = {"fingerprint": "fp", "buckets_completed": N_BUCKETS}
    return expected, out, man, result


def _check(expected, out, man, result):
    return gate.check_run(expected, out, man, "parquet", result, N_BUCKETS, N_BUCKETS)


def test_gate_accepts_oracle_output(committed):
    assert _check(*committed) == []


def test_gate_catches_corrupted_span(committed):
    import pyarrow.parquet as pq
    expected, out, man, result = committed
    path = next(os.path.join(r, f) for r, _d, fs in sorted(os.walk(out)) for f in fs)
    tbl = pq.read_table(path)
    text = tbl.column("text").to_pylist()
    text[0] = text[0][:-1] + ("X" if text[0][-1:] != "X" else "Y")
    pq.write_table(tbl.set_column(tbl.schema.get_field_index("text"), "text",
                                  [text]), path)
    errors = _check(expected, out, man, result)
    assert len(errors) == 1 and errors[0].startswith("spans:")


def test_gate_catches_manifest_miscount(committed):
    expected, out, man, result = committed
    assert any("turns_in" in e for e in _check({**expected, "turns": expected["turns"] + 1},
                                               out, man, result))


def _session_procs(sid: int) -> list[str]:
    """Processes of session ``sid`` still in the process table, zombies too."""
    left = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except (OSError, ValueError):
            continue
        if int(stat.rsplit(")", 1)[1].split()[3]) == sid:
            left.append(stat[:stat.rfind(")") + 1])
    return left


def _run(*args, cwd=ROOT, timeout=1800):
    """Run the benchmark in a session of its own; returns its completed
    process and whatever of that session outlived it."""
    with subprocess.Popen([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          start_new_session=True) as p:
        out, err = p.communicate(timeout=timeout)
    return subprocess.CompletedProcess(p.args, p.returncode, out, err), _session_procs(p.pid)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc, left = _run("--workload", "fresh_parquet", "--seed", "1", "--seconds", "1",
                      "--trace", "0", cwd=tmp_path, timeout=180)
    assert proc.returncode != 0 and left == []
    assert not any(line.startswith("{") for line in proc.stdout.splitlines())


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_one_command_prints_every_metric(trace, section):
    proc, left = _run("--workload", "all", "--seed", "3", "--seconds", "0.1",
                      "--trace", str(trace), "--scale", "0.02")
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert left == [], f"processes left running: {left}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= len(WORKLOADS)
    want = {f"{w}.{m['name']}": m["unit"] for w in WORKLOADS for m in BENCHMARK[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    if trace == 0:
        for field in ("failed_ratio=0 fraction", "peak_rss_mb="):
            assert sum(field in line for line in proc.stdout.splitlines()) == len(WORKLOADS)

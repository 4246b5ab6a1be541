"""Correctness gate: the committed spans and manifest of one job run
against the pure-Python oracle.

The digest is order-independent: each span row (every output column, in
``OUTPUT_FIELDS`` order) is hashed on its ``repr`` and the row hashes are
summed modulo 2**128, so it does not depend on partitioning, file layout
or row order, and a duplicated, missing or altered row changes it.
Committed files are read with pyarrow, not Spark, so checking a run costs
no Spark job and cannot share a bug with the engine's read path.
"""

from __future__ import annotations

import hashlib
import os

_MOD = 1 << 128


def _row_hash(row: tuple) -> int:
    return int.from_bytes(hashlib.blake2b(repr(row).encode(), digest_size=16).digest(), "big")


def digest_rows(rows) -> tuple[int, str]:
    """(row count, order-independent digest) of an iterable of tuples."""
    n, acc = 0, 0
    for r in rows:
        acc = (acc + _row_hash(tuple(r))) % _MOD
        n += 1
    return n, f"{acc:032x}"


def oracle_digest(turns: list[dict]) -> tuple[int, str]:
    """Digest of the spans the oracle extracts from ``turns`` under the
    job's default configuration."""
    from p_id_text_extraction_spark.oracle.pipeline import extract_turn_tuples
    return digest_rows(
        row for t in turns
        for row in extract_turn_tuples(t["conv_id"], int(t["turn_idx"]), t["text"]))


def _data_files(table_dir: str, catalog: str) -> list[str]:
    if catalog == "iceberg":
        from p_id_text_extraction_spark.sources import iceberg_format as icf
        return [f["file_path"] for f in icf.plan_files(table_dir)]
    return sorted(os.path.join(r, f) for r, _ds, fs in os.walk(table_dir)
                  for f in fs if f.endswith(".parquet") and not f.startswith((".", "_")))


def committed_spans(out_dir: str, catalog: str):
    """Every committed span row, as tuples in ``OUTPUT_FIELDS`` order."""
    import pyarrow.parquet as pq

    from p_id_text_extraction_spark.oracle.pipeline import OUTPUT_FIELDS
    cols = list(OUTPUT_FIELDS)
    for path in _data_files(out_dir, catalog):
        tbl = pq.read_table(path, columns=cols)
        yield from zip(*(tbl.column(c).to_pylist() for c in cols))


def manifest_rows(manifest_dir: str, catalog: str, fingerprint: str) -> list[dict]:
    import pyarrow.parquet as pq
    rows: list[dict] = []
    for path in _data_files(manifest_dir, catalog):
        rows += pq.read_table(
            path, columns=["bucket_id", "job_fingerprint", "turns_in", "spans_out"]
        ).to_pylist()
    return [r for r in rows if r["job_fingerprint"] == fingerprint]


def check_run(expected: dict, out_dir: str, manifest_dir: str, catalog: str,
              result: dict, n_buckets: int, buckets_this_run: int) -> list[str]:
    """Problems with one committed run; an empty list means it is correct.

    ``result`` is the counter dict ``extract_job`` printed.  The spans
    must match the oracle digest; the manifest must hold exactly one row
    per bucket for the run's fingerprint, with ``turns_in`` and
    ``spans_out`` summing to the expected totals."""
    errors: list[str] = []
    n, digest = digest_rows(committed_spans(out_dir, catalog))
    if (n, digest) != (expected["spans"], expected["digest"]):
        errors.append(f"spans: {n} rows digest {digest}, expected "
                      f"{expected['spans']} rows digest {expected['digest']}")
    if result.get("buckets_completed") != buckets_this_run:
        errors.append(f"buckets_completed {result.get('buckets_completed')}, "
                      f"expected {buckets_this_run}")
    rows = manifest_rows(manifest_dir, catalog, result.get("fingerprint"))
    ids = sorted(r["bucket_id"] for r in rows)
    if ids != list(range(n_buckets)):
        errors.append(f"manifest: {len(rows)} bucket rows, expected one per bucket "
                      f"0..{n_buckets - 1}")
    for key, want in (("turns_in", expected["turns"]), ("spans_out", expected["spans"])):
        got = sum(r[key] for r in rows)
        if got != want:
            errors.append(f"manifest: sum({key}) = {got}, expected {want}")
    return errors

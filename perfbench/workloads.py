"""Benchmark workloads: seeded inputs, expected results and per-run state.

Every input is minted from ``--seed`` through the public generator in
``sources/transcripts.py`` (``gen_conv``) with a seed-derived conv-id
namespace, so the same seed always yields the same bytes.  Inputs and
their expected results are cached under ``perfbench/.work/inputs`` keyed
by workload, seed and scale; a cache entry records the absolute path it
was built at, because Iceberg metadata holds absolute file paths.

A workload object gives the runner:

* ``prepare(spark_factory)`` -- build or load the cached input; a Spark
  session is requested only when the input needs one to build;
* ``reset()`` -- put the output and manifest into the state a timed run
  starts from (empty, or a pristine half-resumed table restored in place);
* ``argv(...)``, ``expected`` and ``check(result)`` -- the ``extract_job``
  command line, what a correct run commits, and the gate that compares.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from itertools import groupby

from perfbench import gate

N_BUCKETS = 64
TURN_COLUMNS = ["conv_id", "turn_idx", "text"]


def write_parquet_files(turns: list[dict], out_dir: str, n_files: int) -> None:
    """Split ``turns`` into ``n_files`` parquet files of whole
    conversations, in the transcripts table's schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ])
    convs = [list(g) for _k, g in groupby(turns, key=lambda t: t["conv_id"])]
    per = -(-len(convs) // n_files)
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        chunk = [t for c in convs[f * per:(f + 1) * per] for t in c]
        if chunk:
            pq.write_table(pa.Table.from_pylist(chunk, schema=schema),
                           os.path.join(out_dir, f"part-{f:05d}.parquet"))


def mint_turns(tag: str, seed: int, n_turns: int, counts=lambda conv_id: True) -> list[dict]:
    """Whole conversations (1-50 turns each) from the seed's namespace
    until the turns of conversations for which ``counts(conv_id)`` holds
    reach ``n_turns``: seeds change the data, not the amount of work."""
    from p_id_text_extraction_spark.sources.transcripts import gen_conv
    turns: list[dict] = []
    counted = i = 0
    while counted < n_turns:
        conv = gen_conv(f"{tag}{seed}-conv-{i:06d}")
        turns += conv
        counted += len(conv) if counts(conv[0]["conv_id"]) else 0
        i += 1
    return turns


def _text_bytes(turns) -> int:
    return sum(len(t["text"].encode()) for t in turns if t["text"] is not None)


class Workload:
    """What both workloads share: the cache, the output location, the
    job's command line and the gate."""

    name = ""
    catalog = "parquet"
    extra_args: list[str] = []
    done_buckets: list[int] = []   # buckets already complete before each run
    build_jobs = 0                 # extraction jobs the input build ran in the session

    def __init__(self, root: str, seed: int, scale: float):
        self.seed = seed
        self.scale = scale
        self.cache = os.path.join(root, "perfbench", ".work", "inputs",
                                  f"{self.name}-s{seed}-x{scale:g}")
        self.input = os.path.join(self.cache, "input")
        self.live = os.path.join(self.cache, "live")
        self.output = os.path.join(self.live, "out")
        self.manifest = os.path.join(self.live, "manifest")
        self.expected: dict = {}

    def prepare(self, spark_factory) -> None:
        """Load the cached input, or (re)build it.  ``spark_factory()``
        returns a live session; it is called only if the build needs one."""
        marker = os.path.join(self.cache, "_COMPLETE")
        if os.path.exists(marker):
            with open(marker) as f:
                info = json.load(f)
            if info.get("cache") == self.cache:
                self.expected = info["expected"]
                return
        shutil.rmtree(self.cache, ignore_errors=True)
        os.makedirs(self.cache)
        self.expected = self.build(spark_factory)
        with open(marker, "w") as f:
            json.dump({"cache": self.cache, "expected": self.expected}, f)

    def build(self, spark_factory) -> dict:
        raise NotImplementedError

    def expect(self, all_turns: list[dict], processed: list[dict]) -> dict:
        """Expected committed state after one run: the order-independent
        digest of every span the oracle derives from ``all_turns``."""
        count, digest = gate.oracle_digest(all_turns)
        return {"turns": len(all_turns), "spans": count, "digest": digest,
                "turns_processed": len(processed),
                "text_bytes": _text_bytes(all_turns)}

    def reset(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)

    def argv(self, strategy_args: list[str], cores: int) -> list[str]:
        return (["--input", self.input, "--output", self.output,
                 "--manifest", self.manifest, "--buckets", str(N_BUCKETS),
                 "--catalog", self.catalog, "--cores", str(cores)]
                + self.extra_args + strategy_args)

    def check(self, result: dict) -> list[str]:
        """Untimed correctness gate for one committed run."""
        return gate.check_run(self.expected, self.output, self.manifest,
                              self.catalog, result, N_BUCKETS,
                              N_BUCKETS - len(self.done_buckets))

    def out_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(r, f))
                   for d in (self.output, self.manifest)
                   for r, _ds, fs in os.walk(d) for f in fs)


class FreshParquet(Workload):
    """The production run as launched: conversations spread over many
    parquet files, empty output and manifest, parquet catalog."""

    name = "fresh_parquet"

    def build(self, spark_factory) -> dict:
        turns = mint_turns("f", self.seed, round(38000 * self.scale))
        write_parquet_files(turns, self.input, max(2, round(48 * self.scale)))
        return self.expect(turns, turns)

    def input_files(self) -> list[str]:
        return sorted(os.path.join(self.input, f) for f in os.listdir(self.input)
                      if f.endswith(".parquet"))

    def processed_turns(self) -> list[dict]:
        """The turns one timed job extracts, read back from the input."""
        import pyarrow.parquet as pq
        return [r for f in self.input_files()
                for r in pq.read_table(f, columns=TURN_COLUMNS).to_pylist()]


class ResumeIceberg(Workload):
    """Iceberg input partitioned by bucket(16, conv_id) with one
    position-delete file; each timed run resumes a spans table whose even
    buckets are already complete."""

    name = "resume_iceberg"
    catalog = "iceberg"
    extra_args = ["--spans-layout", "bucket"]
    done_buckets = list(range(0, N_BUCKETS, 2))

    def __init__(self, root: str, seed: int, scale: float):
        super().__init__(root, seed, scale)
        self.pristine = os.path.join(self.cache, "pristine")

    def _todo(self, conv_id: str) -> bool:
        from p_id_text_extraction_spark.sources.iceberg_format import bucket_value
        return bucket_value(conv_id, N_BUCKETS, "string") not in self.done_buckets

    def build(self, spark_factory) -> dict:
        from p_id_text_extraction_spark.sources import iceberg_format as icf
        from p_id_text_extraction_spark.sources.transcripts import TRANSCRIPT_SCHEMA
        staging = os.path.join(self.cache, "staging")
        write_parquet_files(mint_turns("r", self.seed, round(9500 * self.scale), self._todo),
                            staging, 1)
        spark = spark_factory()
        icf.create_table(self.input, TRANSCRIPT_SCHEMA, ("bucket(conv_id, 16)",))
        # one data file per bucket partition: the layout a compaction
        # leaves at this size
        icf.write_dataframe(spark.read.schema(TRANSCRIPT_SCHEMA).parquet(staging).coalesce(1),
                            self.input, mode="append")
        shutil.rmtree(staging)
        rng = random.Random(self.seed)
        deletes = []
        for f in icf.plan_files(self.input):
            n = f["record_count"]
            deletes += [(f["file_path"], p)
                        for p in rng.sample(range(n), max(1, n // 100))]
        icf.add_position_deletes(self.input, deletes)
        self._make_pristine(spark)
        self.build_jobs = 1
        return self.expect(self._live_turns(), self.processed_turns())

    def _live_turns(self) -> list[dict]:
        """The table's rows after its position deletes, read with pyarrow."""
        import pyarrow.parquet as pq

        from p_id_text_extraction_spark.sources import iceberg_format as icf
        deleted = set()
        for d in icf.plan_delete_files(self.input):
            deleted.update(zip(*pq.read_table(d["file_path"]).to_pydict().values()))
        turns = []
        for f in icf.plan_files(self.input):
            rows = pq.read_table(f["file_path"], columns=TURN_COLUMNS).to_pylist()
            turns += [r for i, r in enumerate(rows) if (f["file_path"], i) not in deleted]
        return turns

    def input_files(self) -> list[str]:
        from p_id_text_extraction_spark.sources import iceberg_format as icf
        return [f["file_path"] for f in icf.plan_files(self.input)]

    def processed_turns(self) -> list[dict]:
        """The turns one timed job extracts: the live rows of undone buckets."""
        return [t for t in self._live_turns() if self._todo(t["conv_id"])]

    def _make_pristine(self, spark) -> None:
        """Half-complete spans table + manifest, committed by the resume
        protocol itself, then copied aside byte for byte.  Both extraction
        strategies commit identical bytes; the fused one is faster."""
        import inspect

        from p_id_text_extraction_spark.plans.checkpoint import run_with_resume
        from p_id_text_extraction_spark.sources.transcripts import read_transcripts
        kw = {"strategy": "fused"} if "strategy" in inspect.signature(
            run_with_resume).parameters else {}
        shutil.rmtree(self.live, ignore_errors=True)
        run_with_resume(spark, read_transcripts(spark, self.input), self.output,
                        self.manifest, n_buckets=N_BUCKETS,
                        bucket_filter=self.done_buckets, catalog="iceberg",
                        spans_layout="bucket", **kw)
        shutil.copytree(self.live, self.pristine)

    def reset(self) -> None:
        # in place: the pristine metadata names files under self.live
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.pristine, self.live)


WORKLOADS = {w.name: w for w in (FreshParquet, ResumeIceberg)}

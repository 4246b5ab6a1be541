"""Arrow-batched pandas UDF kernels -- the only Python in the hot path.

Two kernels, mirroring where the reference *has* to run a model
(text_detection.py:72-81, text_recognition.py:56-131); everything else in
the pipeline is pure Catalyst column/window/aggregate logic.  Both kernels
call the shared `oracle.spec` functions, so distributed output is
byte-identical to the pure-Python oracle by construction.

Batches arrive via Arrow (`spark.sql.execution.arrow.pyspark.enabled`);
regexes compile once per executor process at import time -- the analogue of
loading TrOCR once per process (text_recognition.py:37-51).
"""

from __future__ import annotations

import pandas as pd
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from p_id_text_extraction_spark.config import DEFAULT_CONFIG, ExtractConfig
from p_id_text_extraction_spark.oracle import spec

# Candidates travel Python->JVM as ONE compact CSV string per turn
# ("idx,start,end,kindflag,conf,linestart,lineend;..."): Arrow's string
# fast path is ~10x cheaper than converting a list of Python dicts to
# array<struct>, and the JVM explode+split that unpacks it is whole-stage
# codegen.  Measured: the nested-struct variant spent ~7s/task in
# conversion at 310k turns; this one is I/O-shaped.
DETECT_RESULT = T.StructType([
    T.StructField("norm_text", T.StringType(), False),
    T.StructField("cands", T.StringType(), False),
])

NORMALIZE_RESULT = T.StructType([
    T.StructField("text", T.StringType(), False),
    T.StructField("method", T.StringType(), False),
])


def make_detect_udf(cfg: ExtractConfig = DEFAULT_CONFIG):
    """parse + segment + detect in one kernel.

    Runs BEFORE the pipeline's single repartition (EvalPythonExec drops
    partitioning info, so placement before the exchange costs nothing), and
    only (norm_text, cands-CSV) strings cross the Python/JVM boundary --
    the raw payload never ships again and Arrow stays on its string fast
    path.  The JVM unpacks the CSV with codegen'd explode+split
    (operators/extract.candidates).
    """

    @pandas_udf(DETECT_RESULT)
    def detect(text: pd.Series) -> pd.DataFrame:
        KIND_CODE = spec.KIND_CODE
        norm_texts: list[str] = []
        cands_col: list[str] = []
        for txt in text.tolist():  # plain-list iteration beats Series iteration
            norm_text = spec.parse_canvas(txt if isinstance(txt, str) else None)
            # one-pass segment+detect+line_bounds (same order as the staged
            # nested loops: block-major, position-minor)
            parts = [
                f"{idx},{g_start},{g_end},{'0' if kind == KIND_CODE else '1'},"
                f"{conf},{ls},{le}"
                for idx, g_start, g_end, kind, conf, ls, le
                in spec.detect_all_spans(norm_text, cfg)
            ]
            if parts:
                # sentinel entry (block -1, span [-1,-1)): sorts first, can
                # never be suppressed or absorb a real cluster, and is the
                # row that carries the canvas text through the slim
                # windows; merge re-broadcasts and drops it (operators/
                # extract.merge)
                parts.insert(0, "-1,-1,-1,1,0,0,0")
            norm_texts.append(norm_text)
            cands_col.append(";".join(parts))
        return pd.DataFrame({"norm_text": norm_texts, "cands": cands_col})

    return detect


SPAN_ROW_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("span_rank", T.IntegerType(), False),
    T.StructField("start", T.IntegerType(), False),
    T.StructField("end", T.IntegerType(), False),
    T.StructField("start_frac", T.DoubleType(), False),
    T.StructField("end_frac", T.DoubleType(), False),
    T.StructField("start_norm", T.DoubleType(), False),
    T.StructField("end_norm", T.DoubleType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("confidence", T.DoubleType(), False),
    T.StructField("method", T.StringType(), False),
    T.StructField("provenance", T.ArrayType(T.StringType(), False), False),
    T.StructField("is_grouped", T.BooleanType(), False),
])

_SPAN_COLS = [f.name for f in SPAN_ROW_SCHEMA.fields]


def make_extract_rows_kernel(cfg: ExtractConfig = DEFAULT_CONFIG):
    """mapInPandas kernel for the FUSED strategy: the whole per-turn oracle
    (parse -> segment -> detect -> suppress -> cluster -> merge -> crop ->
    normalize -> coord -> rank) in one Arrow-batched pass, emitting final
    span rows directly.

    Every post-detect stage keys on (conv_id, turn_idx) and the kernel sees
    each turn whole, so nothing relational remains between the scan and the
    sink: the physical plan is Scan -> MapInPandas -- ZERO exchanges, zero
    sorts, embarrassingly parallel at any cluster size.  Byte-equality with
    the oracle is structural (the kernel IS oracle.pipeline.extract_turn_tuples).
    The relational strategy (plans/pipeline.extract_pipeline) keeps the
    declarative window/aggregate algebra for engines that need per-stage
    observability; both are golden-tested against the same oracle.
    """
    from p_id_text_extraction_spark.oracle.pipeline import extract_turn_tuples

    def kernel(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for conv_id, turn_idx, txt in zip(
                pdf["conv_id"].tolist(), pdf["turn_idx"].tolist(), pdf["text"].tolist()
            ):
                rows.extend(extract_turn_tuples(
                    conv_id, int(turn_idx), txt if isinstance(txt, str) else None, cfg=cfg,
                ))
            yield pd.DataFrame(rows, columns=_SPAN_COLS)

    return kernel


JOB_ROW_SCHEMA = T.StructType(
    SPAN_ROW_SCHEMA.fields + [T.StructField("bucket_id", T.IntegerType(), False)])


class ReplaceByKey(AccumulatorParam):
    """Accumulator of per-task counters keyed by partition id.  A later
    update for a key REPLACES the earlier one, so a task whose update is
    applied twice (a re-executed stage) still counts once; a failed task
    attempt sends no update at all."""

    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, acc: dict, update: dict) -> dict:
        acc.update(update)
        return acc


def make_job_kernel(cfg: ExtractConfig, counters):
    """mapInPandas kernel of the extract job: the fused per-turn pipeline
    over ``(conv_id, turn_idx, text, bucket_id)`` rows, emitting span rows
    plus their bucket_id, with the run's lineage counters riding along.

    ``counters`` is a ``ReplaceByKey`` accumulator; each task adds ONE
    entry ``{partition_id: (turns_in by bucket, spans_out by bucket,
    detected candidates)}`` when its input is exhausted, so the job needs
    no counting pass of its own.  Rows are byte-equal to
    ``make_extract_rows_kernel``'s (both call the same oracle sweep)."""
    from collections import Counter

    from pyspark import TaskContext

    from p_id_text_extraction_spark.oracle.pipeline import extract_turn_counted

    def kernel(batches):
        turns_in: Counter = Counter()
        spans_out: Counter = Counter()
        n_cands = 0
        for pdf in batches:
            rows: list[tuple] = []
            buckets: list[int] = []
            bucket_col = pdf["bucket_id"].tolist()
            for conv_id, turn_idx, txt, b in zip(
                pdf["conv_id"].tolist(), pdf["turn_idx"].tolist(), pdf["text"].tolist(),
                bucket_col,
            ):
                out, c = extract_turn_counted(
                    conv_id, int(turn_idx), txt if isinstance(txt, str) else None, cfg)
                n_cands += c
                if out:
                    rows.extend(out)
                    buckets.extend([b] * len(out))
            turns_in.update(bucket_col)
            spans_out.update(buckets)
            frame = pd.DataFrame(rows, columns=_SPAN_COLS)
            frame["bucket_id"] = buckets
            yield frame
        counters.add({TaskContext.get().partitionId():
                      (dict(turns_in), dict(spans_out), n_cands)})

    return kernel


def make_normalize_udf(cfg: ExtractConfig = DEFAULT_CONFIG):
    """Confidence-gated text normalizer (text_recognition.py:111-131 analogue)."""

    @pandas_udf(NORMALIZE_RESULT)
    def normalize(cropped: pd.Series, conf_milli: pd.Series) -> pd.DataFrame:
        texts: list[str] = []
        methods: list[str] = []
        for txt, conf in zip(cropped.tolist(), conf_milli.tolist()):  # plain-list iteration beats Series iteration
            out, method = spec.normalize_text(txt if isinstance(txt, str) else "", int(conf), cfg)
            texts.append(out)
            methods.append(method)
        return pd.DataFrame({"text": texts, "method": methods})

    return normalize

"""cProfile the fused extraction kernel over bench-distribution turns.

Pure-Python: generates conversations with the same deterministic generator
the bench table uses (sources/transcripts.gen_conv), runs
oracle/pipeline.extract_turn_tuples over every turn under cProfile, prints
the top cumulative entries.  No Spark, no files -- isolates per-turn kernel
cost (guide section 1: measure first).

    python tools/profile_kernel.py [n_convs] [--time-only]
"""
from __future__ import annotations

import cProfile
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from p_id_text_extraction_spark.sources.transcripts import gen_conv
from p_id_text_extraction_spark.oracle.pipeline import extract_turn_tuples


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else 4000
    turns = []
    for i in range(n_convs):
        turns.extend(gen_conv(f"conv-{i:06d}"))
    total_chars = sum(len(t["text"] or "") for t in turns)
    print(f"{len(turns)} turns, {total_chars/1e6:.1f} MB text")

    def run():
        n_rows = 0
        for t in turns:
            n_rows += len(extract_turn_tuples(t["conv_id"], t["turn_idx"], t["text"],
                                              t["role"], t["tool"]))
        return n_rows

    run()  # warm regex caches etc.
    if "--time-only" in sys.argv:
        best = min(
            (lambda t0: (run(), time.perf_counter() - t0)[1])(time.perf_counter())
            for _ in range(5)
        )
        print(f"best wall {best:.3f}s  ({len(turns)/best:,.0f} turns/s single-core)")
        return
    t0 = time.perf_counter()
    prof = cProfile.Profile()
    prof.enable()
    n_rows = run()
    prof.disable()
    wall = time.perf_counter() - t0
    print(f"{n_rows} rows, wall {wall:.2f}s (profiled)")
    pstats.Stats(prof).sort_stats("cumulative").print_stats(25)


if __name__ == "__main__":
    main()

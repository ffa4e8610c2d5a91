"""Receipt for ``dedup_index_compact`` at a multi-hundred-chunk index
(r13 verdict item 2): a long-horizon at-least-once ingest writes one
``chunk=<k>`` partition per micro-batch FOREVER, so after ~a year of
hourly batches the two index tables hold thousands of partitions of
small files — partition discovery, the per-batch probe scan, and the
file-system metadata all degrade with file count, not byte count.

This rung builds an index the way the loop does (N_CHUNKS sequential
``chunk=<k>`` writes), measures a delta probe (``dedup_incremental``)
against the fragmented index, compacts, re-measures, and prints ONE
JSON line:

  files_before/files_after : parquet data files across both tables
  compact_wall_s           : the maintenance pass itself
  probe_before_s/after_s   : dedup_incremental wall on a 2k-doc delta
  verdicts_equal           : probe verdicts identical pre/post fold

Corpus shape: N_CHUNKS x DOCS_PER_CHUNK synthetic docs, ~10% of each
chunk duplicating earlier text (so the probe actually exercises both
probe joins). Everything is deleted at exit (probe convention).

    python probes/index_compact_rung.py [N_CHUNKS]
"""

from __future__ import annotations

import json
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

N_CHUNKS = int(sys.argv[1]) if len(sys.argv) > 1 else 300
DOCS_PER_CHUNK = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
PATH = f"/tmp/index_compact_rung_{N_CHUNKS}"


def chunk_docs(spark, k: int):
    # ~90% novel text per chunk, ~10% repeating a rotating window of
    # earlier ids — cross-chunk exact dups the digest probe must hit
    from pyspark.sql import functions as F

    base = k * DOCS_PER_CHUNK
    return spark.range(base, base + DOCS_PER_CHUNK).select(
        F.col("id").alias("doc_id"),
        F.format_string(
            "alpha %d beta %d gamma %d delta %d epsilon zeta",
            F.when(F.col("id") % 10 == 0, F.col("id") % 1000).otherwise(
                F.col("id")
            ),
            F.col("id") % 7,
            F.col("id") % 13,
            F.col("id") % 29,
        ).alias("text"),
    )


def main() -> None:
    from strat_backtest_spark.operators.dedup import (
        dedup_incremental,
        dedup_index_compact,
        dedup_index_write,
        delta_probe_rows,
    )
    from strat_backtest_spark.session import get_spark

    spark = get_spark(cpus=16)
    # small shuffle fan-out so each batch writes a handful of files,
    # like a modest micro-batch would
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    shutil.rmtree(PATH, ignore_errors=True)
    out: dict = {"n_chunks": N_CHUNKS, "docs_per_chunk": DOCS_PER_CHUNK}
    try:
        t0 = time.time()
        dedup_index_write(
            delta_probe_rows(spark.createDataFrame([], "doc_id long, text string")),
            PATH,
        )
        for k in range(N_CHUNKS):
            dedup_index_write(delta_probe_rows(chunk_docs(spark, k)), PATH, k)
        out["build_wall_s"] = round(time.time() - t0, 1)

        delta = delta_probe_rows(chunk_docs(spark, N_CHUNKS).limit(2000))

        def probe():
            t = time.time()
            v = sorted(
                (r["doc_id"], r["verdict"])
                for r in dedup_incremental(spark, delta, PATH).collect()
            )
            return v, round(time.time() - t, 2)

        v_before, out["probe_before_s"] = probe()
        t0 = time.time()
        stats = dedup_index_compact(spark, PATH, target_files=32)
        out["compact_wall_s"] = round(time.time() - t0, 1)
        out["files_before"] = stats["files_before"]
        out["files_after"] = stats["files_after"]
        out["folded"] = len(stats["folded_chunks"])
        out["base_rows"] = stats["rows"]
        v_after, out["probe_after_s"] = probe()
        out["verdicts_equal"] = v_before == v_after
        out["probe_rows"] = len(v_before)
    finally:
        shutil.rmtree(PATH, ignore_errors=True)
        spark.stop()
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()

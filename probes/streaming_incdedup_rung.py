"""Streaming incremental-dedup rung (q96 at scale): the foreachBatch
crawl-ingest loop over a 5M-doc corpus in 3 chunk micro-batches, from
an empty day-zero index (``chunk=-1``) — each ~1.67M-doc batch takes
the broadcast-delta probe path (under the 2M gate), and the index
grows by each batch's survivors, written under the batch's own
``chunk=<k>``, between triggers.

Corpus: the family-of-5 hashed-token construction (see
curation_10m_rung.py), so batches genuinely collide with earlier
batches' survivors. Wall includes the replay copy _chunked_replay
writes (a full corpus rewrite) — stated because it is probe scaffolding
a production stream does not pay. Prints one JSON line.

    python probes/streaming_incdedup_rung.py [REPLICAS]
"""

from __future__ import annotations

import json
import shutil
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from strat_backtest_spark.session import get_spark  # noqa: E402


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    spark = get_spark(cpus=32)
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    n_base = 5000
    out = {"replicas": replicas, "docs": n_base * replicas}
    corpus_dir = f"/tmp/docs_sincdedup_{replicas}x"

    t0 = time.time()
    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    rep = base.crossJoin(
        spark.range(replicas).withColumnRenamed("id", "r")
    ).select(
        "doc_id",
        "text",
        "r",
        (F.col("r") / 5).cast("long").alias("g"),
    )
    words = F.split(F.col("text"), r"\s+")
    fam_tok = lambda i: F.concat(  # noqa: E731
        F.lit("f"),
        F.pmod(F.xxhash64(F.col("doc_id"), F.col("g"), i), F.lit(99991)).cast(
            "string"
        ),
    )
    jittered = F.transform(
        words, lambda w, i: F.when(i % 2 == 1, fam_tok(i)).otherwise(w)
    )
    staged = rep.select(
        "doc_id", "r", F.array_join(jittered, " ").alias("text")
    )
    (
        staged.select(
            (F.col("doc_id") + F.col("r") * n_base).alias("doc_id"), "text"
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(f"{corpus_dir}/documents.parquet")
    )
    out["corpus_build_s"] = round(time.time() - t0, 1)

    from strat_backtest_spark.streaming.documents_stream import (
        streaming_incremental_dedup,
    )

    t = time.time()
    verdicts = streaming_incremental_dedup(spark, corpus_dir, n_chunks=3)
    counts = {
        r["verdict"]: r["count"]
        for r in verdicts.groupBy("verdict").count().collect()
    }
    out["stream_loop_s"] = round(time.time() - t, 1)
    out["verdicts"] = counts
    out["verdict_total"] = sum(counts.values())
    print(json.dumps({"stream_loop": out["stream_loop_s"],
                      "verdicts": counts}),
          file=sys.stderr, flush=True)

    shutil.rmtree(corpus_dir, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

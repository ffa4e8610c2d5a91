"""Streaming document curation: exact dedup on an unbounded corpus.

The batch exact-dedup operator (operators/dedup.py:exact_dedup) is a
digest groupBy; on a stream the same semantics are Structured
Streaming's native ``dropDuplicates`` stateful operator — per-key
state is the 16-byte digest set, managed (and watermark-evictable)
by the engine rather than hand-rolled. Only digests enter state;
document text never shuffles, the same scale property as the batch
path. An unbounded production run adds ``withWatermark`` on an
arrival-time column so state ages out; the finite gate replay needs
(and uses) none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from strat_backtest_spark.streaming import scratch_dir
from strat_backtest_spark.streaming.events_stream import _drain_to_parquet


def streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct md5(text) digests of the documents stream — first
    arrival wins, later duplicates are dropped by streaming state.
    Drained on a finite replay this equals the batch DISTINCT, which
    is what the oracle checks."""
    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    hashed = stream.select(
        F.md5(F.col("text").cast("binary")).alias("text_hash")
    )
    return _drain_to_parquet(hashed.dropDuplicates(["text_hash"]), spark, "append")


def streaming_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction applied to the documents STREAM: the batch
    operator (operators/pii.py:pii_scrub) is a pure-codegen map stage,
    so it composes into Structured Streaming unchanged — stateless,
    per-micro-batch, no watermark, no state store. The same property
    that makes it one zero-shuffle pass at 100 TB makes it a
    zero-state streaming stage. Rows equal the batch scrub on the
    finite replay (the q74 oracle SQL gates both). The deterministic
    doc_id-derived augmentation mirrors q74 so every pattern class is
    exercised on both engines."""
    from strat_backtest_spark.operators.pii import pii_scrub

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (
        spark.readStream.schema(static.schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    aug = stream.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com"),
                F.lit(" call 555-"), F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"), F.lit("-1234"),
                F.lit(" host 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    scrubbed = pii_scrub(aug).select(
        "doc_id", "n_emails", "n_phones", "n_ips",
        F.md5(F.col("text").cast("binary")).alias("scrub_hash"),
    )
    return _drain_to_parquet(scrubbed, spark, "append")


def _chunked_replay(
    spark: SparkSession,
    static: DataFrame,
    n_chunks: int,
    files_per_chunk: int = 8,
    chunk_col=None,
) -> tuple[DataFrame, str]:
    """Deterministic finite replay for stateful-operator gates: write
    ``static`` as ``n_chunks`` mtime-ordered parquet chunks (chunk i
    holds ``doc_id % n_chunks == i``) and return ``(stream, dir)`` —
    a stream consuming one WHOLE chunk per micro-batch, in chunk
    order, so per-key state genuinely crosses batch boundaries and
    arrival order is the oracle-replayable ``(doc_id % n_chunks,
    doc_id)``; and the replay directory, which the CALLER removes once
    the stream is drained (it is a full copy of the input; it lives
    under ``streaming.scratch_dir``, so interpreter exit removes it
    at the latest).

    Each chunk is ``files_per_chunk`` files sharing one mtime, drained
    ``maxFilesPerTrigger=files_per_chunk``: the file source takes the
    oldest ``files_per_chunk`` files by (mtime, path) per trigger, so
    a trigger consumes exactly chunk i's file set — batch MEMBERSHIP
    (the semantic contract) is identical to a single-file chunk, while
    map parallelism per micro-batch is ``files_per_chunk`` instead of
    1 (the single-file layout bottlenecked scan/map stages exactly
    like the round-8 probe-layout finding for batch corpora).

    ``chunk_col``: the doc→chunk assignment Column (values in
    [0, n_chunks)); defaults to ``doc_id % n_chunks``. The chunk id is
    also ENCODED in every file name (``{chunk:03d}_*.parquet``), which
    is how a foreachBatch consumer derives its batch identity from
    ``input_file_name()`` — the production-true source of identity —
    without assuming anything about the assignment."""
    import glob
    import os
    import shutil
    import time

    if chunk_col is None:
        chunk_col = F.col("doc_id") % n_chunks
    out_dir = scratch_dir("docs_replay_")
    base = time.time()
    for i in range(n_chunks):
        stage = os.path.join(out_dir, f"_stage_{i}")
        (
            static.filter(chunk_col == i)
            .repartition(files_per_chunk)
            .write.mode("overwrite")
            .parquet(stage)
        )
        parts = sorted(glob.glob(os.path.join(stage, "part-*.parquet")))
        for j, src in enumerate(parts):
            dst = os.path.join(out_dir, f"{i:03d}_{j:03d}.parquet")
            shutil.move(src, dst)
            os.utime(dst, (base + i, base + i))
        # repartition can emit fewer files than asked on tiny chunks —
        # unequal counts are repaired by the PADDING branch below,
        # which is load-bearing: with counts {0:8, 1:5, 2:8} and
        # per_trigger=8, trigger 2 would otherwise take chunk 1's 5
        # files plus 3 of chunk 2's, straddling chunks and breaking
        # the one-chunk-per-micro-batch contract.
        shutil.rmtree(stage)

    counts: dict[int, int] = {}
    for f in os.listdir(out_dir):
        counts[int(f.split("_")[0])] = counts.get(int(f.split("_")[0]), 0) + 1
    if not counts:
        # zero parquet files across all chunks (static input wrote
        # nothing) — fail loudly rather than max() of an empty dict
        shutil.rmtree(out_dir, ignore_errors=True)
        raise ValueError(
            "_chunked_replay: static input produced no parquet files; "
            "cannot build a finite replay from an empty corpus"
        )
    per_trigger = max(counts.values())
    if len(set(counts.values())) > 1:
        # Unequal chunk file counts would desynchronize trigger ↔
        # chunk. Rewrite is overkill: pad short chunks with empty
        # parquet files so every trigger consumes exactly one chunk.
        empty = static.limit(0)
        for i, c in counts.items():
            for j in range(c, per_trigger):
                stage = os.path.join(out_dir, f"_pad_{i}_{j}")
                empty.coalesce(1).write.mode("overwrite").parquet(stage)
                src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
                dst = os.path.join(out_dir, f"{i:03d}_{900 + j:03d}.parquet")
                shutil.move(src, dst)
                os.utime(dst, (base + i, base + i))
                shutil.rmtree(stage)

    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", str(per_trigger))
        .parquet(out_dir)
    )
    return stream, out_dir


def _chunk_of_file(file_uri: str) -> int | None:
    """Batch identity from a ``_chunked_replay`` file path: the
    ``{chunk:03d}_{j:03d}.parquet`` basename prefix, or None when the
    path does not follow the layout (non-file sources, foreign
    layouts) — callers fall back to the doc→chunk expression then."""
    import os
    import re
    from urllib.parse import unquote, urlparse

    if not file_uri:
        return None
    base = os.path.basename(unquote(urlparse(file_uri).path))
    m = re.fullmatch(r"(\d+)_\d+\.parquet", base)
    return int(m.group(1)) if m else None


def _batch_chunk(batch_df: DataFrame, chunk_col) -> int | None:
    """A foreachBatch micro-batch's STABLE identity — unlike Spark's
    batch_id, which restarts from 0 in a new incarnation — or None for
    an empty (replay padding) trigger. Primary: the chunk id every
    ``_chunked_replay`` file encodes in its name (a production file
    source names its daily drop the same way), valid for ANY doc→chunk
    assignment. Fallback (non-file sources): ``chunk_col``, the
    assignment expression, evaluated on a row."""
    head = batch_df.select(
        F.input_file_name().alias("__f"), chunk_col.alias("__c")
    ).head(1)
    if not head:
        return None
    ck = _chunk_of_file(head[0]["__f"])
    return int(head[0]["__c"]) if ck is None else ck


def simhash_claim_verdicts(
    stream: DataFrame, bits: int = 32, bands: int = 4
) -> DataFrame:
    """The stateful stage of streaming simhash near-dup, exposed so
    the scale probe (probes/streaming_simhash_rung.py) can time the
    EXACT production code path: simhash mapInPandas → shared banding
    (operators/dedup.band_hash) → per-(band, band_val) bucket
    claims via applyInPandasWithState. Emits one (doc_id, first)
    verdict per band row; reduce with ``novel_from_verdicts``."""
    from typing import Iterator, Tuple

    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import BooleanType, LongType, StructField, StructType

    from strat_backtest_spark.operators.dedup import band_hash, simhash

    banded = band_hash(simhash(stream, bits=bits), "simhash", bits, bands).drop(
        "simhash"
    )

    out_type = StructType(
        [StructField("doc_id", LongType()), StructField("first", BooleanType())]
    )
    state_type = StructType([StructField("claimed", LongType())])

    def _claim(
        key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        ids = pd.concat([p[["doc_id"]] for p in pdf_iter])["doc_id"].to_numpy()
        first = np.zeros(len(ids), dtype=bool)
        if not state.exists and len(ids):
            # exactly ONE winner per fresh bucket — argmin picks a
            # single index even if duplicate doc_ids ever appear in one
            # micro-batch, matching the oracle's row_number()=1
            first[np.argmin(ids)] = True
            state.update((1,))
        yield pd.DataFrame({"doc_id": ids, "first": first})

    return banded.groupBy("band", "band_val").applyInPandasWithState(
        _claim,
        outputStructType=out_type,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def novel_from_verdicts(drained: DataFrame) -> DataFrame:
    """Batch reduction of drained per-band verdicts: novel iff first
    arrival in EVERY band's bucket."""
    return drained.groupBy("doc_id").agg(
        F.bool_and("first").cast("int").alias("novel")
    )


def streaming_simhash_neardup(
    spark: SparkSession,
    sf_dir: str,
    bits: int = 32,
    bands: int = 4,
    n_chunks: int = 3,
) -> DataFrame:
    """SimHash near-dup ADMISSION on the documents STREAM: a document
    is novel iff in EVERY band of its simhash it is the first arrival
    in that ``(band, band_val)`` bucket; otherwise some earlier doc
    shares an exact band slice (Hamming-close under the pigeonhole
    argument of the batch ``hash_neardup_pairs``, reference
    parity: the online form of dhruvsamdani/strat-backtest-style
    corpus curation) and it is flagged a near-duplicate.

    State is the scale story: ONE long per occupied bucket, and the
    key space is bounded by the band-value SPACE — at most
    ``bands * 2**(bits/bands)`` keys (4·256 here) — NOT by corpus
    size. Contrast streaming exact dedup, whose dropDuplicates state
    grows with distinct documents forever. A production run at 100 TB
    uses bits=60 / bands=4 (15-bit slices, ≤ 4·2¹⁵ keys) plus a
    watermark to age buckets; the finite gate replay mirrors the q58
    batch defaults (32/4).

    Bucket claims are made by EVERY arrival, admitted or not — the
    oracle-replayable form (claim-by-admitted-only would need
    cross-band feedback inside a micro-batch, an inherently iterative
    semantics no single stateful pass expresses). The drained per-band
    verdicts reduce batch-side to ``novel = AND over bands``, exactly
    ``row_number() OVER (PARTITION BY band, band_val ORDER BY
    doc_id % n_chunks, doc_id) = 1`` aggregated per doc — the q91
    oracle. The simhash and banding stages are the batch operators
    (operators/dedup.py: simhash, band_hash) composed unchanged
    onto the stream: stateless Arrow map / Column stages are
    streaming-transparent."""
    import shutil

    static = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    stream, replay_dir = _chunked_replay(spark, static, n_chunks)
    verdicts = simhash_claim_verdicts(stream, bits=bits, bands=bands)
    drained = _drain_to_parquet(verdicts, spark, "append")
    shutil.rmtree(replay_dir, ignore_errors=True)
    return novel_from_verdicts(drained)


def streaming_quota_admission(
    spark: SparkSession,
    sf_dir: str,
    cap: int = 15,
    group_col: str = "source",
    n_chunks: int = 3,
    seed: int = 0,
) -> DataFrame:
    """Per-group quota ADMISSION on an unbounded document stream: each
    group (source/domain) admits documents until its cap is reached,
    then drops the rest forever — the online form of the batch
    ``quota_sample`` (operators/sampling.py), for ingestion pipelines
    that must bound a dominant domain AS data arrives rather than in a
    later batch pass.

    Semantics (deterministic, oracle-replayable): within each
    micro-batch a group's candidates are ranked by the identity-keyed
    ``(md5(seed:doc_id), doc_id)`` — the batch operator's exact
    contract — and the best ``remaining-quota`` of them are admitted;
    the per-group state is ONE long (admitted count), so state is
    O(groups) regardless of stream length. Because every batch-1 row
    outranks every batch-2 row by construction, the drained replay
    equals one SQL window over ``(arrival_batch, md5, doc_id)`` —
    which is what the q90 oracle runs.

    The replay chunks documents by ``doc_id % n_chunks`` (mirrored in
    the oracle) via ``_chunked_replay`` — each chunk is a set of
    same-mtime files consumed as ONE micro-batch — so every group's
    admission genuinely crosses micro-batch boundaries."""
    import shutil

    static = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", group_col)
    )
    stream, replay_dir = _chunked_replay(spark, static, n_chunks)
    admitted = quota_admission_stream(stream, cap=cap, group_col=group_col, seed=seed)
    out = _drain_to_parquet(admitted, spark, "append")
    shutil.rmtree(replay_dir, ignore_errors=True)
    return out


def quota_admission_stream(
    stream: DataFrame, cap: int = 15, group_col: str = "source", seed: int = 0
) -> DataFrame:
    """The stateful stage of streaming quota admission, exposed (like
    ``simhash_claim_verdicts``) so restart/recovery tests and probes
    drive the EXACT production code path against their own source and
    durable checkpoint. Per-group state is ONE long (admitted count);
    within a micro-batch candidates rank by the identity-keyed
    ``(md5(seed:doc_id), doc_id)`` — the batch ``quota_sample``
    contract — and the best remaining-quota of them are admitted."""
    from typing import Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from strat_backtest_spark.functions.hashing import md5_hash

    ranked = stream.withColumn(
        "__h",
        md5_hash(F.concat_ws(":", F.lit(int(seed)), F.col("doc_id").cast("string"))),
    )

    out_type = StructType(
        [StructField("doc_id", LongType()), StructField(group_col, StringType())]
    )
    state_type = StructType([StructField("admitted", LongType())])
    kcap = int(cap)

    def _admit(
        key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        admitted = state.get[0] if state.exists else 0
        remaining = kcap - admitted
        if remaining <= 0:
            # quota exhausted: consume and drop (state already maxed)
            for _ in pdf_iter:
                pass
            yield pd.DataFrame(
                {"doc_id": pd.Series([], dtype="int64"),
                 group_col: pd.Series([], dtype="object")}
            )
            return
        rows = pd.concat([p[["doc_id", "__h"]] for p in pdf_iter])
        rows = rows.sort_values(["__h", "doc_id"]).head(remaining)
        state.update((admitted + len(rows),))
        yield pd.DataFrame(
            {"doc_id": rows["doc_id"].to_numpy(), group_col: key[0]}
        )

    return ranked.groupBy(group_col).applyInPandasWithState(
        _admit,
        outputStructType=out_type,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_incremental_dedup(
    spark: SparkSession, sf_dir: str, n_chunks: int = 3
) -> DataFrame:
    """The production crawl-ingest loop as ONE streaming job: each
    micro-batch (one replay chunk = one day's crawl) is deduped
    against the PERSISTED index with ``dedup_incremental`` (delta
    signatures only; small batches broadcast into the index scan),
    then its SURVIVORS are registered with ``dedup_index_append`` so
    the next batch is judged against everything kept so far — the
    open-world composition q93 exercises for a single delta, here
    driven by ``foreachBatch`` across the whole stream starting from
    an EMPTY day-zero index.

    Semantics are deterministic because the replay feeds whole chunks
    (doc_id % n_chunks) in chunk order: verdict(doc) depends on
    (chunk, doc_id) priority with the survivor-only index — a doc
    collides cross-chunk only with KEPT earlier docs, but within its
    own chunk with every smaller-id doc regardless of that doc's
    verdict (dedup_incremental's contract). The q96 oracle unrolls
    this recursion per chunk in SQL.

    State lives in the INDEX (parquet on shared storage), not the
    stream: the streaming query itself is stateless, so a restart
    resumes from the checkpoint + the index as-is — at 100 TB the
    index is the durable artifact and micro-batch cost tracks the
    day's delta exactly as the q93 rung measures. The index starts as
    an empty day-zero ``chunk=-1``; each batch writes its verdicts and
    its survivors under its own chunk id (``_batch_chunk``) and probes
    with ``replay_chunk`` set, so a replayed batch overwrites its own
    prior writes and is judged as the uninterrupted run judged it —
    the same at-least-once shape as ``streaming_curation_loop``."""
    import shutil

    from strat_backtest_spark.operators.dedup import (
        _parquet_file_count,
        dedup_incremental,
        dedup_index_append,
        dedup_index_write,
        delta_probe_rows,
    )

    static = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    stream, replay_dir = _chunked_replay(spark, static, n_chunks)
    index_dir = scratch_dir("stream_dedup_index_")
    # the returned DataFrame's backing store: it outlives this call
    out_dir = scratch_dir("stream_dedup_verdicts_")
    dedup_index_write(delta_probe_rows(static.limit(0)), index_dir)
    chunk_col = F.col("doc_id") % n_chunks

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ck = _batch_chunk(batch_df, chunk_col)
        if ck is None:  # replay padding trigger
            return
        # one signature pass per micro-batch, shared by the verdict
        # probe and the survivor append
        probe = delta_probe_rows(batch_df)
        verdicts = dedup_incremental(
            spark, probe, index_dir, replay_chunk=ck
        ).localCheckpoint()
        verdicts.write.mode("overwrite").parquet(f"{out_dir}/chunk={ck}")
        dedup_index_append(probe, verdicts, index_dir, ck)

    q = stream.writeStream.foreachBatch(process).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(replay_dir, ignore_errors=True)
        shutil.rmtree(index_dir, ignore_errors=True)

    if _parquet_file_count(out_dir) == 0:
        return spark.createDataFrame([], "doc_id long, verdict string")
    return spark.read.parquet(out_dir).select("doc_id", "verdict")


def streaming_curation_loop(
    spark: SparkSession,
    sf_dir: str,
    cap: int = 18,
    n_chunks: int = 3,
    dim: int = 4096,
    dim2: int = 2048,
    phase_timers: list | None = None,
    chunk_ids: list[int] | None = None,
    initial_counts: dict[str, int] | None = None,
    state_dir: str | None = None,
    chunk_expr: str | None = None,
) -> DataFrame:
    """The production ingest shape as ONE streaming job (q100): every
    micro-batch (one replay chunk = one day's crawl) runs the full
    curation chain inside a single foreachBatch —

      PII scrub → per-source quota admission → incremental dedup
      against the persisted index → hashed-linear quality classifier

    — composing the operators q74/q90/q93/q98 gate individually
    (operators/pii.pii_scrub, operators/dedup.dedup_incremental +
    dedup_index_append, operators/text_analysis.quality_classifier).
    One verdict row per doc: (doc_id, scrub_hash, status, logit) with
    status ∈ quota_rejected | dup_exact | dup_near | low_quality |
    kept and logit non-null only for docs that reached the classifier
    (dedup survivors).

    Cross-batch state is two artifacts, each the durable kind a
    cluster restart resumes from:
    - the dedup INDEX (parquet on shared storage) — appended with each
      batch's dedup survivors (including classifier-rejected docs:
      their content has been seen and judged novel; re-crawls must
      collide with it), exactly q96's composition;
    - per-source admitted COUNTS — one long per source (collected per
      batch: the source key space, not the corpus), replayable from
      the verdict store on restart via
      ``curation_quota_counts_from_verdicts`` (one aggregate over the
      store, equality with the live counters pinned by unit). Quota
      outranks dedup (a quota-rejected doc is never signatured and
      never enters the index), dedup outranks the classifier.

    Determinism: chunk k holds doc_id % n_chunks == k, quota ranks by
    doc_id within a batch, and since earlier chunks' admissions are
    unaffected by later arrivals the drained quota equals ONE SQL
    window over (chunk, doc_id) — which is how the q100 oracle unrolls
    the whole loop per chunk (plans/catalog_pipeline._q100_oracle_sql).

    Every second doc (doc_id % 2 == 0) gets a FIXED email+phone+IP
    suffix appended before the stream so the scrub stage is exercised
    against text that actually contains each pattern class — fixed,
    not doc-unique like q74's, so exact-duplicate classes inside the
    stratum survive the augmentation and the dedup stage still sees
    its collisions. Dedup and the classifier run on the SCRUBBED text:
    redaction-then-curation is the real pipeline order (raw PII must
    not enter the persisted index).

    COLD RESTART (the production resume path, r11 verdict item 2):
    - ``state_dir`` makes the two cross-batch artifacts DURABLE at
      ``{state_dir}/index`` and ``{state_dir}/verdicts`` — they
      survive the call instead of living in per-process scratch
      (``streaming.scratch_dir``), and an existing index there is
      RESUMED (no day-zero overwrite, no verdict-store reset) after
      its layout is checked;
    - ``initial_counts`` seeds the per-source admitted counters —
      on resume, pass ``curation_quota_counts_from_verdicts`` over
      the surviving verdict store (equality with the live counters is
      pinned by unit);
    - ``chunk_ids`` replays only the listed chunks (chunk k is still
      ``doc_id % n_chunks == k`` of the full corpus) — incarnation 1
      processes ``[0]``, dies; incarnation 2 processes ``[1, 2]``
      against the surviving state. In production the checkpointed
      file source does this selection; the finite-replay gate models
      it explicitly.
    The returned DataFrame reads the WHOLE verdict store, so a
    resumed call returns prior incarnations' verdicts too.

    AT-LEAST-ONCE (r12 verdict item 2): production foreachBatch
    replays a batch after ANY mid-batch crash, so the micro-batch is
    IDEMPOTENT, not just resumable at chunk boundaries —
    - the batch's verdicts commit FIRST, to ``{verdicts}/chunk=<k>``
      with mode=overwrite (a replay replaces its own prior partial
      write, never duplicates it);
    - the index append commits SECOND, to ``chunk=<k>`` partitions of
      the two index tables, also overwrite-by-chunk
      (``dedup_index_append(..., chunk=k)``);
    - the dedup probe runs with ``dedup_incremental(replay_chunk=k)``,
      which excludes the batch's own prior append from the index (a
      partition prune, plus an id anti-join once the chunk has been
      compacted), so a replay whose prior incarnation already appended
      part of itself is judged against exactly the index state the
      uninterrupted run saw.
    A crashed incarnation therefore resumes by replaying the
    in-flight chunk plus the unprocessed ones; the ONE caller
    obligation is to seed ``initial_counts`` from the verdict store
    EXCLUDING the chunks being replayed — call
    :func:`curation_resume_counts` (it reads the store's ``chunk``
    partition column, so it is layout-true for any doc→chunk
    assignment); a replayed chunk's surviving verdicts would
    otherwise double-count into its own quota prior. Equivalence (interrupted ≡ uninterrupted,
    row-identical verdict sets) is pinned for chunk-boundary kills by
    tests/test_pipeline_ops.py::test_curation_loop_cold_restart and
    for MID-BATCH kills (between the two commits, and after both) by
    ::test_curation_loop_midbatch_crash_resume, which injects the
    crash by patching ``operators.dedup.dedup_index_append`` (the
    loop imports it at call time).

    BATCH IDENTITY (r13 verdict item 4): inside the micro-batch the
    chunk id is derived from ``input_file_name()`` — the replay
    layout encodes it in every file name, exactly as a production
    file source names its daily drop — so identity holds for ANY
    doc→chunk assignment, not just the modular one. Only when the
    file path carries no chunk (non-file sources) does the loop fall
    back to evaluating the assignment expression on a row
    (``_batch_chunk``). ``chunk_expr``: that assignment, a SQL expression over the doc
    columns with values in [0, n_chunks); default
    ``doc_id % n_chunks`` (the q100 oracle unrolls the default — a
    custom assignment changes arrival order, so it is for
    equivalence-tested resume scenarios, not the gate).

    COMPACTION INTERACTION: if ``dedup_index_compact`` has folded
    this batch's chunk into the index base, ``replay_chunk`` adds the
    id anti-join for exactly that batch, keeping
    replay-after-compaction verdicts identical (tested)."""
    import os
    import shutil

    from pyspark.sql import Window

    from strat_backtest_spark.operators.dedup import (
        _check_index_layout,
        _parquet_file_count,
        dedup_incremental,
        dedup_index_append,
        dedup_index_write,
        delta_probe_rows,
    )
    from strat_backtest_spark.operators.pii import pii_scrub
    from strat_backtest_spark.operators.text_analysis import (
        fixture_weights,
        quality_classifier,
    )

    static = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    aug = static.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.col("text"),
                F.lit(
                    " contact admin@example.com call 555-123-4567 host 10.0.0.7"
                ),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    chunk_col = (
        F.expr(chunk_expr)
        if chunk_expr is not None
        else (F.col("doc_id") % n_chunks)
    ).cast("int")
    if chunk_ids is not None:
        # resume replay: only the listed chunks carry rows; the other
        # chunks' (empty) triggers are skipped by the isEmpty guard.
        # Chunk membership is the SAME assignment over the FULL
        # corpus, so incarnation boundaries never reshape a chunk.
        aug = aug.filter(chunk_col.isin([int(c) for c in chunk_ids]))
    stream, replay_dir = _chunked_replay(spark, aug, n_chunks, chunk_col=chunk_col)
    if state_dir is not None:
        # durable cross-batch state: survives this call; an existing
        # index there means RESUME (keep the verdict store, skip the
        # day-zero empty-index write)
        index_dir = f"{state_dir}/index"
        out_dir = f"{state_dir}/verdicts"
        resume = os.path.isdir(index_dir)
        if resume:
            # a pre-chunk-layout (root-file) index or a day-zero write
            # that died mid-write must not be silently resumed onto —
            # appending chunk= dirs next to root files is the layout
            # mixing that breaks discovery (ADVICE r13)
            _check_index_layout(index_dir)
        else:
            # a verdict store without an index is not resumable state
            shutil.rmtree(out_dir, ignore_errors=True)
    else:
        index_dir = scratch_dir("stream_curation_index_")
        # the returned DataFrame's backing store: it outlives this call
        out_dir = scratch_dir("stream_curation_out_")
        resume = False
    if not resume:
        # day-zero: empty, at chunk=-1 (no batch's id, so it is never
        # overwritten)
        dedup_index_write(delta_probe_rows(static.limit(0)), index_dir)

    w1, w2 = fixture_weights(dim), fixture_weights(dim2)
    admitted_counts: dict[str, int] = dict(initial_counts or {})
    out_schema = "doc_id long, scrub_hash string, status string, logit long"

    import time as _time

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ck = _batch_chunk(batch_df, chunk_col)
        if ck is None:  # replay padding trigger
            return
        tm: dict = {"batch_id": batch_id, "chunk": ck}
        t0 = _time.time()
        prior = spark.createDataFrame(
            list(admitted_counts.items()) or [("", 0)],
            "source string, prior long",
        )
        wq = Window.partitionBy("source").orderBy("doc_id")
        # ONE checkpoint for the scrub + quota stages (r11 verdict
        # item 6): the previous shape checkpointed the scrubbed text,
        # then RE-checkpointed the same text rows plus (rn, prior) —
        # doubling the batch's text materialization for the two
        # cheapest stages. Scrub, rank, and the broadcast prior join
        # are all one narrow-ish plan; materialize it once carrying
        # (doc_id, source, text, scrub_hash, rn, prior).
        ranked = (
            pii_scrub(batch_df)
            .select(
                "doc_id",
                "source",
                "text",
                F.md5(F.col("text").cast("binary")).alias("scrub_hash"),
            )
            .withColumn("rn", F.row_number().over(wq))
            .join(F.broadcast(prior), "source", "left")
            .withColumn("prior", F.coalesce(F.col("prior"), F.lit(0)))
            # DISK_ONLY (round 13): this checkpoint carries the batch's
            # FULL text — at the 50M rung a ~16.7M-doc batch's
            # MEMORY_AND_DISK blocks plus the dedup stage's aggregates
            # OOMed a 16g/32-task heap (same bulk-state lesson as the
            # CC round checkpoints); batch text is streamed back
            # sequentially by the downstream stages, exactly the
            # access pattern disk serves fine
            .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
        )
        adm = ranked.filter(F.col("rn") + F.col("prior") <= cap)
        rejected = ranked.filter(F.col("rn") + F.col("prior") > cap).select(
            "doc_id",
            "scrub_hash",
            F.lit("quota_rejected").alias("status"),
            F.lit(None).cast("long").alias("logit"),
        )

        tm["scrub_quota_s"] = round(_time.time() - t0, 1)
        t0 = _time.time()
        # ONE signature pass per micro-batch (eager checkpoint),
        # shared by the verdict probe and the survivor append — the
        # append is then two kept-filtered slim writes, no re-shingle.
        # The digest half is scrub_hash, ALREADY materialized in the
        # checkpointed scrub stage over the same scrubbed text — no
        # second md5 scan either.
        probe = delta_probe_rows(
            adm.select("doc_id", "text"),
            digests=adm.select(
                F.col("scrub_hash").alias("text_hash"), "doc_id"
            ),
        )
        # at-least-once: a replayed batch must not be judged against
        # its own prior partial append
        verdicts = dedup_incremental(
            spark, probe, index_dir, replay_chunk=ck
        ).localCheckpoint()
        tm["dedup_s"] = round(_time.time() - t0, 1)
        t0 = _time.time()
        dups = adm.join(
            verdicts.filter(F.col("verdict") != "kept"), "doc_id"
        ).select(
            "doc_id",
            "scrub_hash",
            F.col("verdict").alias("status"),
            F.lit(None).cast("long").alias("logit"),
        )

        survivors = adm.join(
            verdicts.filter(F.col("verdict") == "kept").select("doc_id"),
            "doc_id",
        )
        classified = (
            quality_classifier(survivors, w1, bigram_weights=w2)
            .join(survivors.select("doc_id", "scrub_hash"), "doc_id")
            .select(
                "doc_id",
                "scrub_hash",
                F.when(F.col("keep"), F.lit("kept"))
                .otherwise(F.lit("low_quality"))
                .alias("status"),
                "logit",
            )
        )

        # COMMIT ORDER (at-least-once): verdicts first, overwrite-by-
        # chunk — the verdict store is the source of truth counters
        # and resumes derive from; an index append without verdicts
        # (the pre-r13 order's crash window) undercounted rebuilt
        # counters and made a replay judge its own docs as dups.
        rejected.unionByName(dups).unionByName(classified).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/chunk={ck}")
        tm["classify_write_s"] = round(_time.time() - t0, 1)
        t0 = _time.time()
        dedup_index_append(probe, verdicts, index_dir, ck)
        tm["index_append_s"] = round(_time.time() - t0, 1)
        for r in adm.groupBy("source").count().collect():
            admitted_counts[r["source"]] = admitted_counts.get(
                r["source"], 0
            ) + int(r["count"])
        if phase_timers is not None:
            # per-batch workload attribution (r12 verdict item 3): the
            # classify stage's input is the batch's dedup SURVIVORS,
            # which collapse once the index absorbs the corpus's
            # families — a per-batch wall is meaningless without the
            # per-batch survivor count next to it. Cheap: one
            # aggregate over the already-checkpointed verdicts.
            tm["verdict_counts"] = {
                r["verdict"]: int(r["count"])
                for r in verdicts.groupBy("verdict").count().collect()
            }
            phase_timers.append(tm)

    q = stream.writeStream.foreachBatch(process).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(replay_dir, ignore_errors=True)
        if state_dir is None:  # durable state survives for resume
            shutil.rmtree(index_dir, ignore_errors=True)

    if _parquet_file_count(out_dir) == 0:
        return spark.createDataFrame([], out_schema)
    # chunk=<k> partition discovery adds a chunk column; project it
    # away so the returned schema is the documented verdict schema
    return spark.read.parquet(out_dir).select(
        "doc_id", "scrub_hash", "status", "logit"
    )


def curation_quota_counts_from_verdicts(
    verdicts: DataFrame, docs: DataFrame
) -> dict[str, int]:
    """Rebuild ``streaming_curation_loop``'s per-source admitted
    counters from durable state — the cold-restart path the loop's
    docstring promises: a resumed loop (persistent source +
    checkpoint in production, where the stream picks up at the first
    unprocessed file) seeds its ``admitted_counts`` from this instead
    of the lost Python dict. Admitted = every doc that reached the
    dedup stage, i.e. every verdict row that is not quota_rejected;
    ``docs`` (the immutable corpus / admission log) supplies the
    source column the slim verdict schema deliberately omits. One
    broadcast-joined aggregate over the verdict store — state
    reconstruction costs one pass over verdicts, not a replay.
    Equality with the loop's live counters is pinned by
    tests/test_pipeline_ops.py::test_curation_quota_counts_rebuild.

    ``docs`` must be the COMPLETE admission log (every doc the loop
    ever saw): a verdict row whose doc_id has no source row would
    silently vanish under an inner join, understating that source's
    prior and letting the resumed loop overshoot its cap — so the
    join is a LEFT join and an unmatched verdict fails loudly
    (ADVICE r11)."""
    rows = (
        verdicts.filter(F.col("status") != "quota_rejected")
        .join(docs.select("doc_id", "source"), "doc_id", "left")
        .groupBy("source")
        .count()
        .collect()
    )
    counts = {r["source"]: int(r["count"]) for r in rows}
    if None in counts:
        raise ValueError(
            f"curation_quota_counts_from_verdicts: {counts[None]} admitted "
            "verdict row(s) have no source row in `docs` — the admission "
            "log is incomplete, and counters rebuilt from it would let a "
            "resumed loop overshoot its per-source cap"
        )
    return counts


def curation_resume_counts(
    spark: SparkSession,
    state_dir: str,
    replay_chunks,
    docs: DataFrame,
) -> dict[str, int]:
    """The resume counter-seed obligation, WRAPPED (r13 verdict item
    6): rebuild ``streaming_curation_loop``'s per-source admitted
    counters from its durable verdict store at ``{state_dir}/verdicts``
    EXCLUDING the chunks about to be replayed — a replayed chunk's
    surviving verdicts would otherwise double-count into its own quota
    prior. Pass the result as the resumed loop's ``initial_counts``.

    Exclusion filters the store's ``chunk`` PARTITION column (the
    layout the loop commits under), not a recomputed ``doc_id %
    n_chunks`` — so it is correct for any doc→chunk assignment
    (``chunk_expr``) and never recomputes what the store already
    records; the partition filter is a directory prune, not a scan.
    An absent or commit-less store (the crash predated the first
    verdict commit) seeds empty counters. ``docs`` is the complete
    admission log, as for ``curation_quota_counts_from_verdicts``
    (which this delegates to, inheriting its loud incomplete-log
    failure)."""
    from strat_backtest_spark.operators.dedup import _parquet_file_count

    out_dir = f"{state_dir}/verdicts"
    if _parquet_file_count(out_dir) == 0:
        return {}
    v = spark.read.parquet(out_dir).filter(
        ~F.col("chunk").isin([int(c) for c in replay_chunks])
    )
    return curation_quota_counts_from_verdicts(
        v.select("doc_id", "scrub_hash", "status", "logit"), docs
    )

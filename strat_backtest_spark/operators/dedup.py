"""Deduplication operators for large-scale document pipelines:
exact, MinHash+LSH, SimHash, and n-gram Jaccard.

Scale design:
- Exact dedup is a hash-groupBy — one shuffle on a 16-byte digest,
  never on the document text itself.
- MinHash/LSH turns all-pairs O(n²) into: per-doc signature (map-only)
  → explode k/r bands (k·n/r rows) → groupBy band bucket (one shuffle
  on small keys) → pairs within buckets only. At 100 TB the band
  shuffle is the only wide stage and its payload is (doc_id, 2 longs).
- SimHash is map-only per doc; near-dup = Hamming distance on a long.
- All hashes are the engine-portable integer scheme in
  functions/hashing.py, so results are reproducible anywhere and
  oracle-checkable.

These generalize the reference's distinct/counter ops (SURVEY.md §2.7)
to the LLM-data-pipeline surface required by BASELINE.json.
"""

from __future__ import annotations

import hashlib
import re
from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window, functions as F

from pyspark.sql.types import StructField, StructType

from strat_backtest_spark.functions.hashing import P, md5_hash, perm_params
from strat_backtest_spark.functions.numeric import round_half_up
from strat_backtest_spark.functions.text import whitespace_tokens


# Worker-side memo: benchmark-broadcast identity -> pd.Index khash
# table for decontaminate's membership probes. pyspark's broadcast
# registry keeps the deserialized value alive per worker process, so
# id(value) is a stable key across tasks; the xor-of-endpoints guard
# makes id reuse harmless. Bounded: cleared at 8 entries.
_BENCH_INDEX_MEMO: dict = {}

# The module's shingle-hash convention, stamped into persisted
# artifacts (benchmark_shingle_hashes) and verified by their consumers
# (decontaminate): ASCII-whitespace word tokens, n-grams joined by
# single spaces, md5 60-bit (15 hex digit) prefix mod P. Bump this
# string if the kernel EVER changes — a stale artifact must then fail
# loudly instead of silently matching nothing.
SHINGLE_KERNEL = "md5-60bit-modP-ws-ngram-v1"


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: md5(text) → (text_hash, canonical_id,
    dup_count). Canonical = min id. Shuffles digests, not documents."""
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# ---------------------------------------------------------------------------
# shingles + MinHash
# ---------------------------------------------------------------------------

def shingle_hashes(
    text_col: str | Column = "text", n: int = 3, hasher=md5_hash
) -> Column:
    """Distinct word n-gram shingles of a document, each reduced to an
    integer hash in [0, P). ``hasher`` defaults to the engine-portable
    md5 scheme (oracle-checkable). NOTE (measured, 500k-doc rung): the
    per-shingle cost here is dominated by interpreted HOF evaluation,
    not the hash function — for the minhash hot path use
    ``minhash_signatures``'s Arrow impl instead of swapping hashers."""
    toks = whitespace_tokens(text_col)
    # guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0], so an
    # explicit empty array is required for docs shorter than n tokens
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    shingle = lambda i: F.concat_ws(
        " ", *[F.element_at(toks, i + j) for j in range(n)]
    )
    return F.array_distinct(F.transform(idx, lambda i: hasher(shingle(i))))


# Java regex \s (F.split in shingle_hashes) is ASCII-only; Python's
# default \s is unicode-wide — pin ASCII for token parity.
_WS_ASCII = re.compile(r"\s+", re.ASCII)


def _py_shingle_hashes(text, n: int) -> set:
    """Python twin of :func:`shingle_hashes` — identical values
    (verified by the cross-impl parity tests): ASCII-whitespace
    tokens, word n-grams joined by single spaces, md5 60-bit prefix
    mod P, distinct. hashlib's C md5 makes this the hot path for the
    Arrow-batched dedup operators; the Column version's per-shingle
    cost is interpreted-HOF evaluation, ~10× slower."""
    if not isinstance(text, str):
        return set()
    toks = [t for t in _WS_ASCII.split(text) if t]
    if len(toks) < n:
        return set()
    return {
        int(
            hashlib.md5(" ".join(toks[i:i + n]).encode("utf-8")).hexdigest()[:15],
            16,
        ) % P
        for i in range(len(toks) - n + 1)
    }


def _py_shingle_occurrences(text, n: int) -> list:
    """Per-OCCURRENCE twin of :func:`_py_shingle_hashes`: the (0-based
    token position, hash) of EVERY word n-gram, duplicates included —
    substring dedup needs positions to excise covered tokens, not just
    the distinct shingle set. Same tokens (ASCII whitespace), same
    hash (md5 60-bit prefix mod P), so the DuckDB oracle mirror is
    shared with the other shingle operators."""
    if not isinstance(text, str):
        return []
    toks = [t for t in _WS_ASCII.split(text) if t]
    if len(toks) < n:
        return []
    return [
        (
            i,
            int(
                hashlib.md5(" ".join(toks[i:i + n]).encode("utf-8")).hexdigest()[:15],
                16,
            )
            % P,
        )
        for i in range(len(toks) - n + 1)
    ]


def minhash_signatures(
    df: DataFrame, k: int = 8, shingle_n: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
    hasher=md5_hash, impl: str = "arrow",
) -> DataFrame:
    """Per-document MinHash signature columns sig_0..sig_{k-1}:
    sig_i = min((aᵢ·x + bᵢ) mod P) over the shingle set.

    Two implementations producing IDENTICAL values (cross-checked in
    tests/test_pipeline_ops.py):

    - ``impl="arrow"`` (default): mapInPandas; per batch, shingle
      strings are built and md5-hashed in C (hashlib) and the k
      permuted minima fall out of one numpy outer-product — measured
      ~10× faster than the expression path at the 500k-doc rung
      (4.4 s vs 42 s per core-partition), because per-shingle work in
      a Catalyst higher-order ``transform`` runs on the INTERPRETED
      expression path (~19 µs/shingle), not codegen. Map-only: no
      exchange at all (the old groupBy shuffle disappears), and the
      mapInPandas node is an inlining barrier by construction (the
      round-1 q23 disease — CollapseProject re-evaluating the shingle
      pipeline per consumer — cannot occur).
    - ``impl="jvm"``: pure Column expressions (explode shingle hashes
      → one map-side-combining min-agg). No Python workers; keeps
      custom ``hasher`` columns. Selected automatically when a
      non-default hasher is passed.

    Empty/short/null docs yield null sigs on both paths."""
    if impl == "jvm" or hasher is not md5_hash:
        sh = shingle_hashes(text_col, shingle_n, hasher=hasher)
        ex = df.select(F.col(id_col), F.explode_outer(sh).alias("__h"))
        return ex.groupBy(id_col).agg(
            *[
                F.min((F.col("__h") * F.lit(a) + F.lit(b)) % P).alias(f"sig_{i}")
                for i, (a, b) in enumerate(perm_params(k))
            ]
        )

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, " + ", ".join(f"sig_{i} long" for i in range(k))
    A = np.array([a for a, _ in perm_params(k)], dtype=np.int64)
    B = np.array([b for _, b in perm_params(k)], dtype=np.int64)
    n = shingle_n

    def _sigs(batches):
        for pdf in batches:
            rows = len(pdf)
            sig = np.empty((rows, k), dtype=np.int64)
            mask = np.zeros(rows, dtype=bool)
            for r, text in enumerate(pdf[text_col].tolist()):
                hs = _py_shingle_hashes(text, n)
                if not hs:
                    continue
                x = np.fromiter(hs, dtype=np.int64, count=len(hs))
                sig[r] = ((x[:, None] * A[None, :] + B[None, :]) % P).min(axis=0)
                mask[r] = True
            out = pd.DataFrame({id_col: pdf[id_col].to_numpy()})
            for i in range(k):
                out[f"sig_{i}"] = pd.array(
                    [int(sig[r, i]) if mask[r] else None for r in range(rows)],
                    dtype="Int64",
                )
            yield out

    return df.select(id_col, text_col).mapInPandas(_sigs, schema)


def lsh_candidate_pairs(
    sigs: DataFrame,
    k: int = 8,
    bands: int = 4,
    id_col: str = "doc_id",
    max_bucket_size: int = 2000,
    dedup: str = "first_band",
) -> DataFrame:
    """LSH banding: docs sharing any band of r = k/bands consecutive
    signature slots become a candidate pair. Returns (id_a, id_b,
    est_jaccard) with id_a < id_b, deduplicated across bands.

    Plan shape: explode bands → ONE exchange on (band, band_key)
    that BOTH self-join sides reuse (ReusedExchange — the banding
    expression is evaluated once, and the join needs no further
    shuffle) → drop degenerate buckets larger than
    ``max_bucket_size`` (at 100 TB one hot band_key — boilerplate
    text, empty docs — is a quadratic bomb; real near-dup groups are
    orders of magnitude smaller) → pairs within buckets → cross-band
    dedup.

    ``dedup="first_band"`` (default) is the q58 trick: a pair is kept
    only in the FIRST band where both band keys match and that bucket
    survived the cap — a JVM predicate over the signature arrays
    already in the row, replacing a ``distinct()`` exchange over the
    full pair stream (the dominant stage at the 5M-doc rung: 48 of
    ~80 s post-signature). Unlike ``simhash_neardup_pairs`` (whose
    capped set collects driver-side), the capped-bucket lookup here is
    a BROADCAST LEFT JOIN per earlier band against the hot-key
    aggregate, so everything stays in ONE job — a driver collect of
    the hot set would run the (expensive) signature lineage a second
    time, which at the 5M rung cost more than the distinct it saved.
    ``dedup="distinct"`` keeps the old shuffle (parity-tested
    identical).

    est_jaccard is an UNROLLED k-term coalesce-compare (null slots
    count unequal, matching the HOF filter's null-drop) — the
    ``zip_with`` fold ran interpreted and measured 2× slower per pair.
    """
    r = k // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("_", *[F.col(f"sig_{b * r + j}") for j in range(r)]).alias(
                    "band_key"
                ),
            )
            for b in range(bands)
        ]
    )
    sig_arr = F.array(*[F.col(f"sig_{i}") for i in range(k)])
    exploded = (
        sigs.select(
            F.col(id_col), sig_arr.alias("sig"), F.explode(band_structs).alias("bk")
        )
        .select(id_col, "sig", "bk.band", "bk.band_key")
        .repartition("band", "band_key")
    )
    bucket = Window.partitionBy("band", "band_key")
    # ONE materialization of the signature→band→shuffle→bucket-count
    # lineage. Exchange reuse does NOT fire across consumers here —
    # plans containing PythonUDF (the Arrow signature stage) fail
    # exchange-reuse canonicalization, and this subtree has FIVE
    # consumers (both self-join sides, the hot set, and each hot
    # broadcast); measured at the 5M-doc rung the un-checkpointed plan
    # ran the signature stage five times. The lazy localCheckpoint
    # stores the window-partitioned rows once, PRESERVING the
    # (band, band_key) hash partitioning, so the self-join below adds
    # no further shuffle.
    # DISK_ONLY: this is a bulk intermediate (docs × bands rows). The
    # default MEMORY_AND_DISK level competed with the downstream
    # join/CC stages for heap at the 5M-doc rung (GCLocker retry
    # crashes at 16g); reading ~2 GB back from local disk is noise
    # next to the stages it feeds.
    ann = (
        exploded.withColumn("__bucket_n", F.count(F.lit(1)).over(bucket))
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    exploded = ann.filter(F.col("__bucket_n") <= max_bucket_size)

    # capped (band, band_key) keys — tiny, read from the checkpoint
    hot = (
        ann.filter(F.col("__bucket_n") > max_bucket_size)
        .select(F.concat_ws("|", "band", "band_key").alias("__hot_tag"))
        .distinct()
    )

    a = exploded.select(
        F.col("band"), F.col("band_key"),
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"),
    )
    b = exploded.select(
        F.col("band"), F.col("band_key"),
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"),
    )
    est = F.round(
        sum(
            F.coalesce(
                (F.col("sig_a").getItem(i) == F.col("sig_b").getItem(i)).cast("int"),
                F.lit(0),
            )
            for i in range(k)
        )
        / F.lit(float(k)),
        6,
    )
    joined = a.join(b, ["band", "band_key"]).filter(F.col("id_a") < F.col("id_b"))
    if dedup != "first_band":
        return joined.select(
            "id_a", "id_b", est.alias("est_jaccard")
        ).distinct()

    # first-surviving-band-wins: band keys for EARLIER bands rebuild
    # from the sig arrays with the same concat_ws (null-skipping)
    # expression the join key used, so the match test is exact. A
    # bucket that was CAPPED in an earlier band emitted nothing there,
    # so a match in it must not suppress this row — the broadcast
    # left-join flags (__hot_<b>) encode exactly that. Only bands
    # 0..bands-2 need flags: the chain stops at the row's own band.
    def _key(col: str, band: int) -> Column:
        return F.concat_ws(
            "_", *[F.col(col).getItem(band * r + j) for j in range(r)]
        )

    for bnd in range(bands - 1):
        hb = hot.select(F.col("__hot_tag").alias(f"__hot_{bnd}"))
        tag = F.concat_ws("|", F.lit(str(bnd)), _key("sig_a", bnd))
        joined = joined.join(F.broadcast(hb), tag == F.col(f"__hot_{bnd}"), "left")

    chain = None
    for bnd in range(bands):
        m = _key("sig_a", bnd) == _key("sig_b", bnd)
        if bnd < bands - 1:
            m = m & F.col(f"__hot_{bnd}").isNull()
        chain = F.when(m, F.lit(bnd)) if chain is None else chain.when(m, F.lit(bnd))
    return joined.filter(chain == F.col("band")).select(
        "id_a", "id_b", est.alias("est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame, bits: int = 32, text_col: str = "text", id_col: str = "doc_id",
    impl: str = "arrow",
) -> DataFrame:
    """Per-document SimHash: token char-hashes vote ±1 per bit; bit j
    set when strictly more tokens have bit j set than clear. Map-only;
    near-dup detection is then Hamming distance on one long.

    Two value-identical implementations (cross-checked in
    tests/test_pipeline_ops.py), same split as ``minhash_signatures``:

    - ``impl="arrow"`` (default): ONE mapInPandas stage — ASCII-ws
      tokenization + hashlib md5 (60-bit prefix mod P, the exact
      ``md5_hash`` value) + the bit-matrix majority vote, all per
      Arrow batch. Measured NOTE: unlike minhash, the JVM per-token
      expression here is a shallow tree (md5 → conv → mod, no shingle
      concat, no min-fold), so interpreted eval is NOT the dominant
      cost — the win is folding tokenize+hash+vote into one pass and
      dropping the (id, array<long>) Arrow transfer the pandas-UDF
      vote needed: full q58 at the 500k-doc rung 6.6 → 5.5 s (~1.2×),
      not minhash's 4-5×. Beware measuring the stages apart: a bare
      ``count()`` on the JVM plan prunes the hash projection entirely
      (md5 never runs), while mapInPandas always executes.
    - ``impl="jvm"``: tokens + md5 as Column expressions, vote in a
      pandas UDF — no Python tokenization, kept for parity testing.
    """
    powers = (1 << np.arange(bits)).astype(np.int64)
    shifts = np.arange(bits)

    if impl == "jvm":
        toks = whitespace_tokens(text_col)
        hashes = F.transform(toks, lambda t: md5_hash(t))

        # Bit parity: h in [0, P) is non-negative, so
        # `shiftright(h, j) % 2` == `(h >> j) & 1`.
        @F.pandas_udf("long")
        def _vote(hs: pd.Series) -> pd.Series:
            out = np.zeros(len(hs), dtype=np.int64)
            for k, arr in enumerate(hs):
                if arr is None:
                    continue  # null text: no tokens -> 0
                a = np.asarray(arr, dtype=np.int64)
                n = len(a)
                if n == 0:
                    continue  # no tokens: no bit wins a majority -> 0
                cnt = ((a[:, None] >> shifts) & 1).sum(axis=0)
                out[k] = int(((cnt * 2 > n) * powers).sum())
            return pd.Series(out)

        return df.select(F.col(id_col), _vote(hashes).alias("simhash"))

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, simhash long"

    def _sim(batches):
        # md5 memo shared across the partition: token vocabulary is
        # Zipfian, so most occurrences hit the cache
        memo: dict = {}

        def _h(t: str) -> int:
            v = memo.get(t)
            if v is None:
                v = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16) % P
                memo[t] = v
            return v

        for pdf in batches:
            out = np.zeros(len(pdf), dtype=np.int64)
            for r, text in enumerate(pdf[text_col].tolist()):
                if not isinstance(text, str):
                    continue  # null text: no tokens -> 0, as on the JVM path
                toks = [t for t in _WS_ASCII.split(text) if t]
                n = len(toks)
                if n == 0:
                    continue
                a = np.fromiter(map(_h, toks), dtype=np.int64, count=n)
                cnt = ((a[:, None] >> shifts) & 1).sum(axis=0)
                out[r] = int(((cnt * 2 > n) * powers).sum())
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "simhash": out})

    return df.select(id_col, text_col).mapInPandas(_sim, schema)


def band_simhash(
    sh: DataFrame, bits: int = 32, bands: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """Slice a ``simhash`` column into ``bands`` equal bit ranges: one
    output row per (id, band) with band j's value
    ``(simhash >> j*width) & mask`` — the SINGLE banding convention
    shared by the batch near-dup pair generator and the streaming
    near-dup admission operator (and their oracles), so a bits/bands
    layout change lands everywhere at once. Pure Column expressions
    (struct-array explode), streaming-transparent."""
    width = bits // bands
    mask = (1 << width) - 1
    return sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.shiftright(F.col("simhash"), j * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for j in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.band", "bk.band_val")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact verification of candidate pairs)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    group_cols: list[str],
    n: int = 2,
    min_jaccard: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact word n-gram Jaccard similarity for all pairs WITHIN the
    given blocking groups (at scale the blocks come from LSH buckets,
    so the quadratic term stays bounded).

    The block IS the candidate set, so the quadratic term runs as ONE
    incidence matmul per block inside applyInPandas (the q47 pattern,
    operators/similarity.py): block docs × unique shingle hashes as a
    0/1 matrix M, pairwise intersections = M @ M.T, unions by
    inclusion-exclusion. Replaces a bucketed self-join whose per-pair
    array_intersect/array_union re-walked both shingle arrays for
    every pair (~2.5x faster at sf0.1); one shuffle on the blocking
    keys either way, and shingle hashes — never text — are what
    shuffles (the arrays are built in an Arrow map stage BEFORE the
    exchange, via the same hashlib path as minhash — the interpreted
    shingle_hashes Column version is the slow path, see
    _py_shingle_hashes)."""
    id_type = df.schema[id_col].dataType.simpleString()
    group_types = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in group_cols
    )
    base_schema = f"{group_types}, id {id_type}, sh array<long>"

    def _shingle_stage(batches):
        for pdf in batches:
            out = pdf[list(group_cols)].copy()
            out["id"] = pdf[id_col].to_numpy()
            out["sh"] = [
                np.fromiter(hs, dtype=np.int64, count=len(hs))
                if (hs := _py_shingle_hashes(t, n))
                else np.empty(0, dtype=np.int64)
                for t in pdf[text_col].tolist()
            ]
            yield out

    base = df.select(*group_cols, id_col, text_col).mapInPandas(
        _shingle_stage, base_schema
    )
    out_schema = f"id_a {id_type}, id_b {id_type}, jaccard double"
    thr = float(min_jaccard)

    def _block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        m = len(ids)
        if m < 2:
            return pd.DataFrame(
                {"id_a": ids[:0], "id_b": ids[:0], "jaccard": np.empty(0)}
            )
        order = np.argsort(ids)
        ids = ids[order]
        shingles = pdf["sh"].to_numpy()[order]
        lens = np.array([len(s) for s in shingles], dtype=np.int64)
        if lens.sum() == 0:
            flat = np.empty(0, dtype=np.int64)
        else:
            flat = np.concatenate([np.asarray(s, dtype=np.int64) for s in shingles])
        _, inv = np.unique(flat, return_inverse=True)
        u = int(inv.max()) + 1 if len(inv) else 0
        rows = np.repeat(np.arange(m), lens)
        # Incidence matmul CHUNKED over the shingle axis: a dense
        # (docs x unique-shingles) matrix is unbounded when a block's
        # shingle sets barely overlap (2000 docs x 400k shingles would
        # be GBs); chunks cap the live matrix at ~64 MB while the
        # m x m intersection accumulator stays exact (float64 holds
        # counts exactly below 2^53) and every chunk is one BLAS gemm.
        inter = np.zeros((m, m), dtype=np.float64)
        chunk = max(1, (64 << 20) // (8 * m))
        for lo in range(0, u, chunk):
            width = min(chunk, u - lo)
            sel = (inv >= lo) & (inv < lo + width)
            Mc = np.zeros((m, width), dtype=np.float64)
            Mc[rows[sel], inv[sel] - lo] = 1.0
            inter += Mc @ Mc.T
        union = lens[:, None] + lens[None, :] - inter
        with np.errstate(divide="ignore", invalid="ignore"):
            jac = np.where(union > 0, inter / union, 0.0)
        jac = round_half_up(jac, 6)  # oracle parity: SQL round is HALF_UP
        iu, ju = np.triu_indices(m, k=1)
        keep = jac[iu, ju] >= thr
        iu, ju = iu[keep], ju[keep]
        return pd.DataFrame(
            {"id_a": ids[iu], "id_b": ids[ju], "jaccard": jac[iu, ju]}
        )

    return base.groupBy(*group_cols).applyInPandas(_block_pairs, out_schema)


def _union_find_local(p: DataFrame, rows=None) -> DataFrame:
    """Driver-side union-find over a SIZE-GATED ids-only edge collect;
    labels each node with its component minimum — identical contract
    to the distributed star contraction. ``rows`` lets the caller hand
    over an already-collected edge list (the size gate's bounded
    collect) so the checkpoint isn't scanned a second time."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    if rows is None:
        rows = p.collect()
    for r in rows:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    min_of: dict = {}
    for x in parent:
        r = find(x)
        if r not in min_of or x < min_of[r]:
            min_of[r] = x
    out = [(x, min_of[find(x)]) for x in parent]
    id_type = p.schema[0].dataType
    schema = StructType(
        [StructField("id", id_type), StructField("component", id_type)]
    )
    # bounded slice count: bare createDataFrame parallelizes local rows
    # into defaultParallelism slices — 32 near-empty Python pickle
    # tasks for a result this path caps at ~2·local_threshold rows.
    # ~50k rows per slice keeps the job at a handful of real tasks.
    n_slices = max(1, min(32, len(out) // 50_000 + 1))
    rdd = p.sparkSession.sparkContext.parallelize(out, n_slices)
    return p.sparkSession.createDataFrame(rdd, schema)


def _precontract_edges(e: DataFrame) -> DataFrame:
    """Partition-LOCAL contraction: collapse each partition's edge set
    to the star forest rooted at each local component's minimum id —
    every non-root node emits exactly one (node, local_min) edge.

    A spanning certificate preserves connectivity, and the union of
    per-partition certificates over an edge partition is a certificate
    of the whole graph, so the global star rounds see an equivalent —
    typically several-fold smaller — graph (dedup candidate graphs are
    dense clusters whose pairs co-locate by LSH bucket) and produce
    byte-identical labels. Per partition the labeling is numpy
    min-label propagation with pointer doubling (O(E·log diam) C-speed
    ops, no Python per-edge loop); peak memory is the partition's edge
    arrays (16 B/edge), a fraction of what the first star round's
    symmetrized groupBy would hold for the same rows."""
    schema = "u bigint, v bigint"

    def _contract(batches):
        us, vs = [], []
        for pdf in batches:
            us.append(pdf["u"].to_numpy(dtype=np.int64))
            vs.append(pdf["v"].to_numpy(dtype=np.int64))
        if not us:
            return
        u = np.concatenate(us)
        v = np.concatenate(vs)
        if len(u) == 0:
            return
        ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
        ui, vi = inv[: len(u)], inv[len(u):]
        lab = np.arange(len(ids), dtype=np.int64)
        while True:
            prev = lab
            lab = lab.copy()
            np.minimum.at(lab, ui, lab[vi])
            np.minimum.at(lab, vi, lab[ui])
            lab = lab[lab]  # pointer doubling: label of my label
            if np.array_equal(lab, prev):
                break
        mask = lab != np.arange(len(ids), dtype=np.int64)
        yield pd.DataFrame({"u": ids[mask], "v": ids[lab[mask]]})

    return e.mapInPandas(_contract, schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    local_threshold: int = 200_000,
    precontract: bool = True,
) -> DataFrame:
    """Near-duplicate GROUPS from candidate pairs: connected components
    by alternating LARGE-STAR / SMALL-STAR contraction (the MapReduce
    CC algorithm of Kiveris et al.) — each node ends labeled with the
    smallest doc id reachable from it (deterministic).

    Why this shape: min-label propagation needs diameter rounds — an
    adversarially deep near-dup chain (a path graph) makes it crawl or
    bail. Star contraction halves tree heights every round and
    converges in O(log^2 n) rounds on ANY topology, with the same
    Spark-native per-round plan: one join + one min-aggregation per
    star step, ``localCheckpoint`` truncating lineage so round N
    doesn't replay rounds 1..N-1. Skew note for 100 TB: a high-degree
    hub concentrates its neighborhood in one aggregation group, but
    the payload per neighbor is a single id (no text), so a
    10M-neighbor hub is ~80 MB in one task — survivable; AQE skew
    handling splits the join side.

    Below ``local_threshold`` edges the graph is solved driver-side
    with union-find instead: after banding caps, a candidate-pair
    graph is orders of magnitude smaller than its corpus, and at gate
    scale the iteration's job-scheduling floor dominates any
    distributed win. The collect is ids-only (no text) and explicitly
    size-gated, so the driver holds at most a few MB; anything larger
    takes the distributed star-contraction path.

    Scratch management: each round's localCheckpoint blocks are
    explicitly unpersisted once the convergence window (current +
    previous round) moves past them, so live checkpoint state is O(2
    rounds) of edges, not O(rounds). Eviction targets are identified
    by reading each checkpointed round's OWN RDD id off its plan —
    exact attribution, so other RDDs persisted on the same
    SparkContext (even by concurrent threads) are never touched. If
    that plan read fails (Spark-internal plan shape change), eviction
    is simply DISABLED for that round: the blocks leak until context
    stop — bounded scratch — rather than risking the old global
    persistent-id-set diff, which could mis-attribute and evict a
    concurrent job's unrecomputable localCheckpoint blocks
    (ADVICE r13).

    Output: (id, component) for every node appearing in ``pairs``.
    """
    # ONE materialization of the candidate-pair lineage (LSH banding
    # etc. is expensive); nodes/edges both derive from it. DISK_ONLY:
    # the edge set is bulk (88M rows at the 5M-doc rung) and the
    # iterative star rounds need the heap.
    #
    # JVM-accessor note (ADVICE r12): ``sparkContext._jsc`` is a
    # private Python attribute over the PUBLIC Scala API
    # ``SparkContext.getPersistentRDDs`` — the Python hop can move
    # across Spark upgrades even though the underlying API is stable.
    # Everything below degrades gracefully: id capture prefers the
    # checkpointed DataFrame's OWN plan and eviction is a pure
    # optimization (a failed unpersist only costs scratch space).
    try:
        jsc = pairs.sparkSession.sparkContext._jsc
        jsc.getPersistentRDDs()  # probe the whole py4j hop up front
    except Exception:  # Spark Connect / moved accessor: eviction off
        jsc = None

    def _evict(ids: set) -> None:
        if jsc is None:
            return
        try:
            m = jsc.getPersistentRDDs()
            for rid in ids:
                if m.containsKey(rid):
                    m.get(rid).unpersist()
        except Exception:
            pass  # a failed unpersist only costs scratch space

    def _checkpoint(df: DataFrame) -> tuple[DataFrame, set]:
        # Materialize + capture the ids to evict later: read the
        # checkpointed RDD's id off the result's OWN analyzed plan
        # (LogicalRDD.rdd) — attribution is exact, so a CONCURRENT
        # thread persisting RDDs on the same SparkContext can never be
        # mis-attributed to a round and evicted (the r12 advisor's
        # race: localCheckpointed RDDs are unrecomputable, so a stray
        # eviction is unrecoverable for the other job). If the plan
        # read fails (plan shape changes across Spark versions) the
        # round's ids are simply NOT captured — eviction skips them
        # and the blocks live until context stop. Leaking bounded
        # scratch beats the old global persistent-id-set diff, whose
        # mis-attribution under concurrency was silent data loss for
        # the other job (ADVICE r13).
        out = df.localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
        try:
            ids = {int(out._jdf.queryExecution().analyzed().rdd().id())}
        except Exception:
            ids = set()
        return out, ids

    p, p_ids = _checkpoint(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    )
    # size gate and edge fetch in ONE bounded action: collect at most
    # threshold+1 rows (ids only, ≤ ~3 MB at the gate) — under the
    # gate they ARE the union-find input, so the old count()-then-
    # collect() pair of passes over the checkpoint becomes one job
    gate_rows = p.limit(local_threshold + 1).collect()
    if len(gate_rows) <= local_threshold:
        return _union_find_local(p, rows=gate_rows)
    nodes = (
        p.select(F.col("u").alias("id"))
        .union(p.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    )
    ed = p.filter(F.col("u") != F.col("v"))
    # Partition-local contraction (integral ids only — the numpy path
    # needs a total order that matches Spark's): shrinks the edge set
    # BEFORE the first star round, and moves the dedup `distinct` onto
    # the contracted (≤ one edge per node per partition) set instead
    # of the raw 88M-row pair stream.
    if precontract and dict(p.dtypes)["u"] == "bigint" == dict(p.dtypes)["v"]:
        ed = _precontract_edges(ed)
    # DISK_ONLY for every edge-set materialization (round-12 fix): the
    # loop below checkpoints a NEW edge set each round and there is no
    # public way to free a localCheckpointed DataFrame's blocks, so
    # MEMORY_AND_DISK grew heap by O(rounds x edges) — exactly the knee
    # the 100M-doc decade-6 rung named (240M candidate edges: round
    # caches spilled, then concurrent task pages exhausted a 16g heap).
    # Iterative bulk state belongs on disk: per-round reread is a
    # sequential scan of a shrinking edge set (star contraction halves
    # it geometrically), and heap stays bounded at O(one round's
    # shuffle), which is what survives a 100x scale-up. Gate/bench
    # corpora never reach this loop (they take the union-find path
    # below local_threshold).
    edges, initial_edge_ids = _checkpoint(ed.distinct())
    # p fed nodes (its own checkpoint) and the initial edge set — both
    # now materialized, so the raw pair copy is dead weight
    _evict(p_ids)

    def _large_star(e: DataFrame) -> DataFrame:
        # per node u over the UNDIRECTED neighborhood: m = min(N(u) ∪
        # {u}); connect every strictly-larger neighbor to m.
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mn = und.groupBy("u").agg(F.min("v").alias("mn"))
        mn = mn.select("u", F.least("u", "mn").alias("m"))
        return (
            und.join(mn, "u")
            .filter(F.col("v") > F.col("u"))  # m <= u < v: never a self-loop
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # input oriented larger->smaller; per node u: m = min of its
        # smaller neighbors, relink them all (and u) to m.
        mn = e.groupBy("u").agg(F.min("v").alias("m"))
        relink = e.join(mn, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        parent = mn.select(F.col("u"), F.col("m").alias("v"))
        return (
            relink.union(parent)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    # convergence test: one cheap order-insensitive signature aggregate
    # per round (count + id sums + hash sum); only a signature MATCH
    # pays for the exact exceptAll confirmation — so the exact check
    # runs once, on the final round, never per round.
    def _sig(e: DataFrame) -> tuple:
        # bit_xor, not sum: order-insensitive, never overflows (the
        # edge set is distinct, so xor-cancellation needs a hash
        # collision — and the exact confirm below catches even that)
        return tuple(
            e.agg(
                F.count("*"),
                F.expr("bit_xor(xxhash64(u, v))"),
                F.expr("bit_xor(xxhash64(v, u))"),
            ).collect()[0]
        )

    # Round-eviction bookkeeping (round-12, the decade-6 rung's SECOND
    # knee): a localCheckpointed DataFrame exposes no unpersist, so
    # every round's block set lived until context stop — O(rounds x
    # edges) of executor disk on top of the heap growth the DISK_ONLY
    # switch already fixed (the 100M-doc chain filled ~90 GB of local
    # scratch this way). ``_checkpoint`` above captures each round's
    # internal RDD id exactly (off the round's own plan); unpersist
    # round N-2's ids once the convergence window (current + previous,
    # for exceptAll) has moved past them — live checkpoint state is
    # then O(2 rounds), matching the algorithm's actual working set
    # (_evict also freed the raw pair copy above). The window seeds
    # with the initial edge set: dead as soon as round 2 lands.
    prev, prev_sig = None, None
    round_ids: list[set] = [initial_edge_ids]
    converged = edges.isEmpty()
    for _ in range(max_iter):
        if converged:
            break
        edges, new_ids = _checkpoint(_small_star(_large_star(edges)))
        round_ids.append(new_ids)
        while len(round_ids) > 2:
            _evict(round_ids.pop(0))
        sig = _sig(edges)
        if prev_sig is not None and sig == prev_sig:
            # equal counts (in the signature) + empty one-way except
            # => equal sets
            if edges.exceptAll(prev).limit(1).count() == 0:
                converged = True
        prev, prev_sig = edges, sig
    if not converged:
        # silently-wrong labels are worse than an error
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter"
        )
    # stable edge set = star forest rooted at each component's minimum
    return nodes.join(
        edges.select(F.col("u").alias("id"), F.col("v").alias("root")), "id", "left"
    ).select("id", F.coalesce("root", "id").alias("component"))


#: Over-cap (band, band_val) keys above which the plan-literal
#: NOT-isin formulation stops scaling (collect size on the driver,
#: isin literal count in the plan / codegen) and the banded-Hamming
#: paths switch to the join-based saturation fallback. 8192 64-bit
#: keys collect in ~1 MB and codegen fine; a healthy banding (band
#: space ≫ n_docs / cap) produces orders of magnitude fewer.
_HOT_LITERAL_CAP = 8192


def _drop_hot_buckets(
    banded: DataFrame, capped_by_band: dict[int, set[int]]
) -> DataFrame:
    """Drop whole over-cap (band, band_val) buckets via a literal
    JVM predicate built from the already-collected hot set — the
    hot-bucket CAP without a second count pass: one groupBy aggregate
    feeds both this filter and the first-band-wins chain's hot-band
    exclusion, where the window-count formulation re-counted the
    same keys over the full banded stream."""
    if not capped_by_band:
        return banded
    drop = None
    for j, hot in sorted(capped_by_band.items()):
        m = (F.col("band") == j) & F.col("band_val").isin(
            [int(x) for x in sorted(hot)]
        )
        drop = m if drop is None else (drop | m)
    return banded.filter(~drop)


def _collect_capped_buckets(
    banded: DataFrame, max_bucket_size: int, hot_literal_cap: int
) -> "dict[int, set[int]] | None":
    """One aggregate pass over the banded stream; returns the over-cap
    (band, band_val) hot set as a driver dict, or ``None`` when the
    hot-key count exceeds ``hot_literal_cap`` — the ADVERSARIAL BAND
    SATURATION signal (degenerate corpus or undersized band space)
    under which collecting the set and folding it into plan literals
    would blow the driver / the codegen'd predicate. Callers must then
    take the join-based fallback (``_drop_hot_buckets_join`` + a
    pair-level ``dropDuplicates``), which degrades to one extra
    shuffle instead of failing. ``limit(cap + 1)`` bounds the collect
    itself, so even a fully saturated band space moves at most
    ``cap + 1`` rows to the driver."""
    rows = (
        banded.groupBy("band", "band_val")
        .count()
        .filter(F.col("count") > max_bucket_size)
        .limit(hot_literal_cap + 1)
        .collect()
    )
    if len(rows) > hot_literal_cap:
        return None
    capped_by_band: dict[int, set[int]] = {}
    for row in rows:
        capped_by_band.setdefault(int(row["band"]), set()).add(int(row["band_val"]))
    return capped_by_band


def _drop_hot_buckets_join(
    banded: DataFrame, max_bucket_size: int
) -> DataFrame:
    """Saturation fallback for the cap filter: drop over-cap buckets
    via a left-anti join against the recomputed hot-key aggregate —
    never materialized on the driver, so it scales to a hot set of any
    size (AQE broadcasts it when it is in fact small). Costs a second
    aggregate pass over the banded stream, paid ONLY in the saturated
    regime the literal path refuses."""
    hot = (
        banded.groupBy("band", "band_val")
        .count()
        .filter(F.col("count") > max_bucket_size)
        .select("band", "band_val")
    )
    return banded.join(hot, ["band", "band_val"], "left_anti")


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 32,
    max_bucket_size: int = 2000,
    text_col: str = "text",
    id_col: str = "doc_id",
    impl: str = "arrow",
    hot_literal_cap: int = _HOT_LITERAL_CAP,
) -> DataFrame:
    """SimHash near-dup pairs: (id_a < id_b, hamming ≤ ``max_hamming``).

    Banded exact-match candidate generation with a PIGEONHOLE recall
    guarantee: split the ``bits``-bit hash into ``bands`` equal slices;
    a pair within Hamming distance ``bands - 1`` differs in at most
    ``bands - 1`` slices, so at least one slice matches exactly — with
    the default (4 bands, max_hamming 3) candidate generation misses
    NOTHING, unlike the probabilistic MinHash/hyperplane paths. A
    ``max_hamming`` at or above ``bands`` is allowed — the radius
    beyond ``bands - 1`` is then probabilistic (a pair must still
    share one exact band). One shuffle on (band, band_value); the
    Hamming check (bit_count of xor, one long per side) runs only
    inside buckets; hot buckets are capped like every other dedup
    path. Past ``hot_literal_cap`` over-cap buckets (adversarial band
    saturation) the plan-literal hot-set formulation is abandoned for
    the join-based fallback — identical pair set, one extra shuffle.
    """
    width = bits // bands
    mask = (1 << width) - 1
    sh = simhash(df, bits, text_col, id_col, impl=impl).localCheckpoint()
    banded = band_simhash(sh, bits=bits, bands=bands, id_col=id_col).withColumnRenamed(
        id_col, "id"
    )
    # capped (hot) buckets: driver-bounded tiny in the designed regime
    # — only buckets whose size exceeds the cap, collected so the
    # first-band-wins predicate below can skip them exactly. None =
    # saturated (more hot keys than plan literals can carry).
    capped_by_band = _collect_capped_buckets(banded, max_bucket_size, hot_literal_cap)
    if capped_by_band is None:
        return _banded_hamming_pairs_saturated(
            banded, "simhash", max_bucket_size, max_hamming
        )
    # same one-aggregate fold as hash_neardup_pairs: the collected hot
    # set IS the cap filter — no second count window over the stream
    banded = _drop_hot_buckets(banded, capped_by_band)
    a = banded.select(
        "band", "band_val", F.col("id").alias("id_a"), F.col("simhash").alias("sh_a")
    )
    b = banded.select(
        "band", "band_val", F.col("id").alias("id_b"), F.col("simhash").alias("sh_b")
    )

    # FIRST-SURVIVING-BAND-WINS dedup: a pair colliding in k bands
    # would emit k times; instead of a dropDuplicates shuffle over the
    # full pair stream, keep the row only in the first band where both
    # sides' slices match AND that bucket survived the cap — a pure
    # JVM expression, because every band value derives from the two
    # simhashes already in the row.
    def _slice(col, j):
        return F.shiftright(F.col(col), j * width).bitwiseAND(F.lit(mask))

    first_match = F.lit(None).cast("int")
    chain = None
    for j in range(bands):
        m = _slice("sh_a", j) == _slice("sh_b", j)
        hot = capped_by_band.get(j)
        if hot:
            m = m & ~_slice("sh_a", j).isin([int(x) for x in hot])
        chain = F.when(m, F.lit(j)) if chain is None else chain.when(m, F.lit(j))
    first_match = chain

    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(first_match == F.col("band"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def _banded_hamming_pairs_saturated(
    banded: DataFrame, hash_name: str, max_bucket_size: int, max_hamming: int
) -> DataFrame:
    """Saturated-regime banded-Hamming pairs: cap filter as an
    anti-join (``_drop_hot_buckets_join``) and multi-band pair
    de-duplication as a ``dropDuplicates`` over the candidate stream
    instead of the first-surviving-band-wins literal chain. SAME pair
    set as the literal path — a pair is emitted iff it shares at least
    one surviving bucket, and its hamming derives from the full hashes
    so every duplicate row is identical — at the cost of the pair-id
    shuffle the chain exists to avoid. Only reachable when the hot-key
    count already exceeds ``hot_literal_cap``, i.e. when the corpus or
    banding is degenerate and graceful degradation beats a driver OOM.
    ``banded`` must carry (band, band_val, id, <hash_name>)."""
    banded = _drop_hot_buckets_join(banded, max_bucket_size)
    a = banded.select(
        "band", "band_val", F.col("id").alias("id_a"), F.col(hash_name).alias("h_a")
    )
    b = banded.select(
        "band", "band_val", F.col("id").alias("id_b"), F.col(hash_name).alias("h_b")
    )
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (train/eval overlap)
# ---------------------------------------------------------------------------

def benchmark_shingle_hashes(
    benchmark: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """The eval-set side of ``decontaminate`` as a PERSISTABLE
    artifact: one row per DISTINCT word-``n``-gram shingle hash
    (``h long``, the module's md5-prefix convention — the same kernel
    the corpus side hashes with, so equality is exact). Production
    screens every day's crawl against the same frozen benchmark
    suite; computing this once and writing it to parquet
    (``benchmark_shingle_hashes(bench).write.parquet(path)``) turns
    each screening run's benchmark cost into a slim scan instead of a
    re-shingle of the full eval corpus — pass it back via
    ``decontaminate(benchmark_hashes=spark.read.parquet(path))``.
    Value-identity with the inline path is pinned by
    tests/test_pipeline_ops.py::test_decontaminate_precomputed_hashes.

    The artifact EMBEDS its build parameters (ADVICE r13): constant
    ``n`` and ``kernel`` (:data:`SHINGLE_KERNEL`) columns ride every
    row — parquet dictionary/RLE encoding stores a constant column in
    a few bytes per file — and ``decontaminate`` REFUSES an artifact
    whose stamp disagrees with the call's own shingling (an ``n``
    mismatch between artifact and corpus side otherwise yields silent
    near-zero contamination: nothing ever matches)."""

    def _bench_rows(batches):
        for pdf in batches:
            hs = set()
            for t in pdf[text_col].tolist():
                hs |= _py_shingle_hashes(t, n)
            yield pd.DataFrame(
                {"h": np.fromiter(hs, dtype=np.int64, count=len(hs))}
            )

    return (
        benchmark.select(text_col)
        .mapInPandas(_bench_rows, "h long")
        .distinct()
        .select(
            "h",
            F.lit(int(n)).alias("n"),
            F.lit(SHINGLE_KERNEL).alias("kernel"),
        )
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame | None,
    n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_broadcast_shingles: int = 50_000_000,
    benchmark_hashes: DataFrame | None = None,
    slices: int = 1,
) -> DataFrame:
    """Flag training documents whose distinct word n-gram shingles
    overlap an evaluation/benchmark corpus above ``threshold``
    (train-test contamination screening): (doc_id, contamination)
    where contamination = |doc shingles ∩ benchmark shingles| /
    |doc shingles|.

    EAGER at construction (ADVICE r7): this runs one Spark job over
    ``benchmark`` BEFORE returning — to count its distinct shingles
    and, on the broadcast path, to collect them — so it does not
    compose lazily the way most operators here do. The collected
    array's SparkContext broadcast stays referenced by the returned
    plan's closures; once the caller drops the DataFrame the Python
    Broadcast object becomes unreachable and Spark's ContextCleaner
    reclaims the executor blocks. Sweeps that construct many of these
    should release the DataFrames between iterations.

    Scale shape: the benchmark side is an EVAL set — thousands of
    documents against a 100 TB corpus. Two physical paths, identical
    semantics, chosen by the benchmark's distinct-shingle count:

    * ``≤ max_broadcast_shingles`` (default 50M ≈ 400 MB): the hash
      set rides a SparkContext broadcast as a flat int64 array
      (8 B/element via Arrow; a Python frozenset at a 31M-shingle
      probe cost GBs and minutes) and the corpus side is ONE map-only
      Arrow pass — shingles in hashlib (C md5, see _py_shingle_hashes)
      and membership via a per-worker khash table (pd.Index) probed
      once per Arrow batch (numpy binary search measured ~10× slower
      at the 8.5M-entry probe). NO exchange anywhere.
    * above the gate (VERDICT r7 #4): broadcasting would OOM the
      driver, so degrade to a DISTRIBUTED semi-join on shingle
      HASHES — the corpus Arrow pass emits slim (doc_id, h) rows, a
      left join against the distinct benchmark hashes marks hits
      (AQE picks broadcast vs shuffle), and one groupBy(doc_id)
      rebuilds (n, hits). Document TEXT still never shuffles; only
      8-byte hashes do.

    Final rounding stays a Column op on both paths so the engine-side
    round semantics are unchanged. Docs with zero shingles (shorter
    than n tokens) cannot be contaminated and are omitted, matching
    the SQL mirror.

    ``benchmark_hashes``: the persisted eval-set artifact from
    ``benchmark_shingle_hashes`` — pass it instead of ``benchmark`` to
    skip re-shingling the eval corpus entirely; everything downstream
    (broadcast gate, both physical paths) is identical. The artifact's
    embedded (``n``, ``kernel``) stamp is VERIFIED against this call's
    own shingling (ADVICE r13, the ``_check_probe_params`` contract
    class): an artifact built with a different ``n`` than the corpus
    side would otherwise match nothing and report silent near-zero
    contamination in the screening path.

    ``slices``: bound the LIVE scratch of one screening job by
    splitting the corpus into ``slices`` modular sub-jobs
    (``pmod(id_col, slices) == s``) run SEQUENTIALLY — per-doc
    contamination is independent of every other doc, so the union of
    slice outputs is row-identical to the unsliced run (pinned by
    unit). The lever matters on the semi-join path, whose (doc_id, h)
    pair exchange is the composed chain's dominant scratch term (the
    r13 staged rung measured ~10 GB per 10M docs): each sub-job's
    shuffle files are released when its slim checkpointed result
    truncates the lineage, so peak scratch is 1/``slices`` of the
    one-shot job. NOTE: ``slices > 1`` makes the whole call EAGER
    (each slice localCheckpoints at construction) and requires an
    integral ``id_col``."""
    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    if slices < 1:
        raise ValueError("decontaminate: slices must be >= 1")
    if slices > 1 and id_type not in {"tinyint", "smallint", "int", "bigint"}:
        raise ValueError(
            f"decontaminate: slices={slices} partitions the corpus by "
            f"pmod({id_col}, slices), which needs an integral id "
            f"column; got {id_type}"
        )
    if benchmark_hashes is not None:
        want = {"h", "n", "kernel"}
        if set(benchmark_hashes.columns) != want:
            raise ValueError(
                "decontaminate: benchmark_hashes must be a "
                "benchmark_shingle_hashes artifact with exactly columns "
                f"{sorted(want)}; got {benchmark_hashes.columns} — "
                "re-materialize stamp-less artifacts via "
                "benchmark_shingle_hashes(): the embedded (n, kernel) "
                "stamp is what lets a convention mismatch fail loudly "
                "instead of matching nothing"
            )
        stamp = benchmark_hashes.select("n", "kernel").first()
        if stamp is not None and (
            int(stamp["n"]) != int(n) or stamp["kernel"] != SHINGLE_KERNEL
        ):
            raise ValueError(
                "decontaminate: benchmark_hashes artifact stamped "
                f"(n={stamp['n']}, kernel={stamp['kernel']!r}) but this "
                f"call shingles the corpus with (n={n}, "
                f"kernel={SHINGLE_KERNEL!r}) — mixed shingle conventions "
                "would silently yield near-zero contamination, so the "
                "artifact is refused"
            )
        bench_hashes = benchmark_hashes.select("h")
    elif benchmark is not None:
        bench_hashes = benchmark_shingle_hashes(benchmark, n, text_col).select(
            "h"
        )
    else:
        raise ValueError(
            "decontaminate: pass benchmark docs or precomputed "
            "benchmark_hashes"
        )
    # The gate needs one count() job over the benchmark side. Persist
    # around it so the winning broadcast path's toPandas reads the
    # cached hashes instead of re-shingling the benchmark (at a
    # 250k-doc benchmark the extra pass is ~minutes), then drop the
    # cache IMMEDIATELY once the path is chosen — no lingering blocks
    # either way. The (rare, oversized) semi-join path recomputes the
    # bench pipeline lazily inside its join: one extra pass over the
    # small side is the price of leaving no cached state behind.
    bench_hashes.persist(StorageLevel.DISK_ONLY)
    semijoin_sliced = False
    try:
        n_bench = bench_hashes.count()
        if n_bench > int(max_broadcast_shingles):
            if slices == 1:
                return _decontaminate_semijoin(
                    df, bench_hashes, n, threshold, text_col, id_col, id_type
                )
            # sliced semi-join: the K sub-jobs below each probe the
            # bench side EAGERLY, so keep the DISK_ONLY cache alive
            # across them (a lazy recompute would re-shingle the eval
            # corpus K times — the staged rung's pre-artifact tax) and
            # release it right after the last slice materializes.
            semijoin_sliced = True
        else:
            bench_pdf = bench_hashes.toPandas()
    finally:
        if not semijoin_sliced:
            bench_hashes.unpersist()
    if semijoin_sliced:
        try:
            return _union_slices(
                df,
                slices,
                id_col,
                lambda part: _decontaminate_semijoin(
                    part, bench_hashes, n, threshold, text_col, id_col,
                    id_type,
                ),
            )
        finally:
            bench_hashes.unpersist()
    bench_arr = bench_pdf["h"].to_numpy(dtype=np.int64)
    bcast = spark.sparkContext.broadcast(bench_arr)

    def _contam(batches):
        # Membership is ONE hash-table probe pass over the whole Arrow
        # batch's concatenated shingles + a reduceat segment-sum per
        # doc. Measured at the 5M-doc / 8.5M-bench-shingle probe:
        # per-doc searchsorted cost +68 s over the tiny-bench floor,
        # batch searchsorted still +55 s (numpy binary search is
        # ~1.2 µs/probe at this array size — cache-miss bound), pandas
        # get_indexer (khash table) ~0.12 µs/probe. The table builds
        # once per WORKER process (pyspark's broadcast registry keeps
        # the value alive across tasks, so the memo key is stable) —
        # not once per task. Values identical: exact membership.
        S = bcast.value
        m = len(S)
        index = None
        if m:
            key = (id(S), m, int(S[0]) ^ int(S[-1]))
            index = _BENCH_INDEX_MEMO.get(key)
            if index is None:
                if len(_BENCH_INDEX_MEMO) >= 8:
                    _BENCH_INDEX_MEMO.clear()
                index = pd.Index(S)
                _BENCH_INDEX_MEMO[key] = index
        for pdf in batches:
            ids, ns, probes = [], [], []
            for i, t in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                hs = _py_shingle_hashes(t, n)
                if not hs:
                    continue
                ids.append(i)
                ns.append(len(hs))
                probes.append(np.fromiter(hs, dtype=np.int64, count=len(hs)))
            if not ids:
                yield pd.DataFrame(
                    {id_col: ids, "__n": ns, "__nh": []},
                    columns=[id_col, "__n", "__nh"],
                )
                continue
            x = np.concatenate(probes)
            if m:
                hit = (index.get_indexer(x) >= 0).astype(np.int64)
            else:
                hit = np.zeros(len(x), dtype=np.int64)
            starts = np.zeros(len(ns), dtype=np.int64)
            np.cumsum(ns[:-1], out=starts[1:])
            nhs = np.add.reduceat(hit, starts)
            yield pd.DataFrame(
                {id_col: ids, "__n": ns, "__nh": nhs},
                columns=[id_col, "__n", "__nh"],
            )

    def _run(part: DataFrame) -> DataFrame:
        counted = part.select(id_col, text_col).mapInPandas(
            _contam, f"{id_col} {id_type}, __n long, __nh long"
        )
        return counted.select(
            F.col(id_col),
            F.round(F.col("__nh") / F.col("__n"), 6).alias("contamination"),
        ).filter(F.col("contamination") >= threshold)

    if slices == 1:
        return _run(df)
    return _union_slices(df, slices, id_col, _run)


def _union_slices(
    df: DataFrame, slices: int, id_col: str, run
) -> DataFrame:
    """``decontaminate``'s bounded-scratch ladder: run ``run`` over
    each modular corpus slice (``pmod(id_col, slices) == s``)
    SEQUENTIALLY, materializing each slim result via an eager
    DISK_ONLY localCheckpoint — the checkpoint truncates the slice's
    lineage, so its shuffle/scan scratch is reclaimable before the
    next sub-job starts, and peak live scratch is 1/``slices`` of the
    one-shot plan. The union of per-slice outputs is row-identical to
    the unsliced run because the operator is per-doc independent
    (pinned by
    tests/test_pipeline_ops.py::test_decontaminate_slices_identity).
    pmod keeps negative ids in range, so the slices PARTITION the
    corpus for any integral id."""
    outs = []
    for s in range(int(slices)):
        part = df.filter(F.pmod(F.col(id_col), F.lit(int(slices))) == s)
        outs.append(
            run(part).localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _decontaminate_semijoin(
    df: DataFrame,
    bench_hashes: DataFrame,
    n: int,
    threshold: float,
    text_col: str,
    id_col: str,
    id_type: str,
) -> DataFrame:
    """``decontaminate``'s over-the-broadcast-gate path: the benchmark
    shingle set stays DISTRIBUTED and contamination is a join on
    shingle hashes. One corpus Arrow pass shingles each doc (same
    hashlib kernel as the broadcast path) and emits slim (doc_id, h)
    rows — distinct within a doc by construction since
    _py_shingle_hashes returns a set — a left join against the
    benchmark hashes marks hits (AQE chooses broadcast vs shuffle by
    actual size), and one groupBy(doc_id) rebuilds (n_shingles, hits)
    exactly as the broadcast path counts them. Value-identical
    (exercised by tests/test_pipeline_ops.py's equivalence test):
    same rounding Column, same zero-shingle-doc omission. Document
    text never shuffles; the exchange carries 8-byte hashes."""
    pairs = shingle_hash_pairs(df, n, text_col, id_col, id_type)
    joined = pairs.join(
        bench_hashes.withColumn("__hit", F.lit(1)), on="h", how="left"
    )
    agg = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("__nh"),
    )
    return agg.select(
        F.col(id_col),
        F.round(F.col("__nh") / F.col("__n"), 6).alias("contamination"),
    ).filter(F.col("contamination") >= threshold)


def shingle_hash_pairs(
    df: DataFrame, n: int, text_col: str, id_col: str, id_type: str
) -> DataFrame:
    """Slim (id, shingle-hash) rows, one per DISTINCT shingle per doc
    (``_py_shingle_hashes`` returns a set): the shared Arrow pass
    behind the distributed decontaminate path and ``dup_ngram_stats``.
    Zero-shingle docs (shorter than ``n`` tokens) emit nothing. Text
    stays in the map stage; only 8-byte hashes ever shuffle."""

    def _pairs(batches):
        for pdf in batches:
            ids, hs_all = [], []
            for i, t in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                hs = _py_shingle_hashes(t, n)
                if not hs:
                    continue
                ids.extend([i] * len(hs))
                hs_all.extend(hs)
            yield pd.DataFrame({id_col: ids, "h": np.array(hs_all, dtype=np.int64)})

    return df.select(id_col, text_col).mapInPandas(
        _pairs, f"{id_col} {id_type}, h long"
    )


def dup_ngram_stats(
    df: DataFrame,
    n: int = 3,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide duplicated-n-gram profile per document (the C4-style
    boilerplate signal): (doc_id, n_shingles, dup_fraction) where
    dup_fraction = fraction of the doc's DISTINCT shingles that occur
    in at least ``min_docs`` distinct documents corpus-wide.

    Scale shape: one Arrow shingle pass emits slim (doc_id, h) rows;
    ONE exchange hash-partitions them on h, and a second Arrow stage
    counts each hash partition-locally (colocated ⇒ local count = the
    global distinct-doc count), flags rows, and pre-aggregates per-doc
    partials, so the final groupBy(doc_id) carries only (id, 2 longs)
    partials — the shingle stream crosses the wire exactly once and
    document text never shuffles. Docs shorter than ``n`` tokens emit
    nothing (no shingles — consistent with ``decontaminate``).

    Floor analysis (round 9, 266M-instance 5M-doc rung): this shape is
    at its floor. A blocked-exchange variant (pack each map partition's
    (id, h) stream into per-bucket binary blobs so the wire carries
    thousands of wide rows instead of 266M 16-byte rows) measured
    139.1 s vs 125.8 s for THIS shape same-session — the exchange
    format is not the bottleneck. Nor is hashing: the map stage
    (shingle md5 ~1.8 µs each + list building) extrapolates to ~16 s
    of 32-core CPU. The remaining cost is the fixed machinery around a
    266M-instance stream — two Arrow boundary crossings + shuffle I/O
    + the per-partition counting sort — all linear and all distributed;
    round-8's 106.7 s vs round-9's 125.8 s on identical row-shape code
    is load regime (see BASELINE.md protocol note).

    Skew note: a shingle present in nearly every document (universal
    boilerplate) concentrates its rows in one h-partition. Each row is
    16 bytes, so even a shingle in ALL of a 100M-doc corpus is ~1.6 GB
    in one task — heavy but not fatal; if a corpus is boilerplate-
    dominated, the skew-robust alternative is the two-phase shape
    (groupBy(h) with map-side partials, then join back), which this
    function replaced for single-pass speed (310→107 s at the 266M-
    shingle rung)."""
    id_type = df.schema[id_col].dataType.simpleString()
    md = int(min_docs)
    pairs = shingle_hash_pairs(df, n, text_col, id_col, id_type)
    rep = pairs.repartition(F.col("h"))

    def _flag(batches):
        ids_parts, hs_parts = [], []
        for pdf in batches:
            if len(pdf):
                ids_parts.append(pdf[id_col].to_numpy())
                hs_parts.append(pdf["h"].to_numpy(dtype=np.int64))
        if not ids_parts:
            return
        yield from _dup_ngram_count(
            np.concatenate(ids_parts), np.concatenate(hs_parts), md, id_col
        )

    flagged = rep.mapInPandas(_flag, f"{id_col} {id_type}, __n long, __ndup long")
    agg = flagged.groupBy(id_col).agg(
        F.sum("__n").alias("n_shingles"),
        F.sum("__ndup").alias("__ndup"),
    )
    return agg.select(
        F.col(id_col),
        F.col("n_shingles"),
        F.round(F.col("__ndup") / F.col("n_shingles"), 6).alias("dup_fraction"),
    )


def _dup_ngram_count(ids, hs, min_docs: int, id_col: str):
    """Partition-local counting core shared by both exchange shapes:
    rows are per-doc distinct and h-colocated, so a local count per h
    is the global distinct-doc count; emits per-doc partial sums."""
    _, inv, cnt = np.unique(hs, return_inverse=True, return_counts=True)
    dup = (cnt[inv] >= min_docs).astype(np.float64)
    u_ids, inv_d = np.unique(ids, return_inverse=True)
    n_part = np.bincount(inv_d).astype(np.int64)
    ndup_part = np.rint(np.bincount(inv_d, weights=dup)).astype(np.int64)
    yield pd.DataFrame(
        {id_col: u_ids, "__n": n_part, "__ndup": ndup_part},
        columns=[id_col, "__n", "__ndup"],
    )


def line_dedup(
    df: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style line-level deduplication: delete every line whose
    exact text occurs in at least ``min_docs`` DISTINCT documents
    corpus-wide (boilerplate headers, navigation, cookie banners),
    preserving the order of surviving lines. Returns the input schema
    with ``text_col`` rewritten plus (n_kept, n_removed) longs.

    Scale shape: line text NEVER leaves the map stage — each doc
    splits and hashes its lines in whole-stage codegen (xxhash64), a
    per-row ``array_distinct`` makes the slim (id, hash) stream
    doc-distinct WITHOUT a shuffle, so ``count(*)`` per hash IS the
    distinct-doc count (map-side partial agg applies). Banned hashes
    join back against slim (id, idx, hash) rows; only the final
    doc-keyed join sees full rows, where the banned-positions side is
    |docs with ≥1 banned line| — AQE broadcasts it when small; at
    corpus scale it degrades to one doc_id-keyed exchange, the same
    contract as ``q68``'s dedup-apply anti-join. Reassembly is a
    codegen index-filter + array_join, no Python worker anywhere.

    Hash caveat: 64-bit line hashes, same collision exposure as every
    other dedup operator here (~N²/2⁶⁵). Null ``text_col`` rows pass
    through with null outputs."""
    lines = F.split(F.col(text_col), "\n")
    hashes = F.transform(lines, lambda x: F.xxhash64(x))

    pairs = df.select(id_col, F.explode(F.array_distinct(hashes)).alias("h"))
    banned = (
        pairs.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= int(min_docs))
        .select("h")
    )
    pos = df.select(id_col, F.posexplode(hashes).alias("idx", "h"))
    bad = pos.join(banned, "h").groupBy(id_col).agg(
        F.collect_set("idx").alias("__bad")
    )

    out = df.join(bad, id_col, "left")
    keep_line = lambda x, i: F.coalesce(  # noqa: E731
        ~F.array_contains(F.col("__bad"), i), F.lit(True)
    )
    kept = F.filter(lines, keep_line)
    others = [c for c in df.columns if c != text_col]
    return out.select(
        *others,
        F.size(kept).cast("long").alias("n_kept"),
        (F.size(lines) - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, "\n").alias(text_col),
    )


def substring_dedup(
    df: DataFrame,
    n: int = 6,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): remove every token
    that lies inside an exact word n-gram occurring in at least
    ``min_docs`` DISTINCT documents corpus-wide. Unlike ``line_dedup``
    (whole identical lines only), this catches boilerplate that CROSSES
    line boundaries or carries per-document suffixes — injected
    templates, license headers with serial numbers — because newline is
    just whitespace to the tokenizer. Returns the input schema with
    ``text_col`` rewritten plus (n_tokens, n_removed): UNTOUCHED docs
    pass through byte-identical (original whitespace preserved); docs
    that lost tokens come back as the space-joined survivors
    (whitespace-normalized on the rewritten docs only).

    Beyond-reference operator (the pandas reference has no curation
    surface); the suffix-array formulation of the paper is inherently
    sequential, so the distributed shape is the bucketed n-gram-run
    form: mark every position whose n-gram is corpus-duplicated and
    excise the union of marked windows — equivalent to removing all
    duplicated substrings of length >= n at n-token resolution.

    Scale shape (mirrors ``dup_ngram_stats``'s one-pass trick): an
    Arrow map pass emits slim per-occurrence (id, pos, h) rows — text
    never fans out; ONE exchange hash-partitions them on h, so a
    partition-LOCAL distinct-doc count per h IS the global count and
    banned occurrences are flagged with zero joins against a frequency
    table; only banned (id, pos) starts (boilerplate-bounded, way
    smaller than the occurrence stream) shuffle to a per-doc
    collect_set; reassembly is one doc-keyed join where the covered
    index set expands Column-side (sequence/flatten/filter — no Python
    worker touches text again). Docs shorter than ``n`` tokens emit no
    occurrences and pass through untouched; null text passes through
    as an empty rewrite. Hash caveat: 60-bit md5 shingle space, same
    collision exposure as every dedup operator here."""
    id_type = df.schema[id_col].dataType.simpleString()
    md = int(min_docs)

    def _occ(batches):
        for pdf in batches:
            ids, poss, hs = [], [], []
            for i, t in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                occ = _py_shingle_occurrences(t, n)
                if not occ:
                    continue
                ids.extend([i] * len(occ))
                poss.extend(p for p, _ in occ)
                hs.extend(h for _, h in occ)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "pos": np.array(poss, dtype=np.int32),
                    "h": np.array(hs, dtype=np.int64),
                }
            )

    occ = df.select(id_col, text_col).mapInPandas(
        _occ, f"{id_col} {id_type}, pos int, h long"
    )
    rep = occ.repartition(F.col("h"))

    def _flag(batches):
        ids_p, pos_p, hs_p = [], [], []
        for pdf in batches:
            if len(pdf):
                ids_p.append(pdf[id_col].to_numpy())
                pos_p.append(pdf["pos"].to_numpy(dtype=np.int32))
                hs_p.append(pdf["h"].to_numpy(dtype=np.int64))
        if not ids_p:
            return
        ids = np.concatenate(ids_p)
        pos = np.concatenate(pos_p)
        hs = np.concatenate(hs_p)
        # distinct-doc count per h, partition-locally (h-colocated):
        # sort by (h, id), count boundary rows per h group
        order = np.lexsort((ids, hs))
        hs_s, ids_s = hs[order], ids[order]
        new_pair = np.empty(len(hs_s), dtype=bool)
        new_pair[0] = True
        new_pair[1:] = (hs_s[1:] != hs_s[:-1]) | (ids_s[1:] != ids_s[:-1])
        _, inv = np.unique(hs_s, return_inverse=True)
        nd = np.bincount(inv, weights=new_pair.astype(np.float64))
        banned_sorted = nd[inv] >= md
        mask = np.empty(len(hs_s), dtype=bool)
        mask[order] = banned_sorted
        yield pd.DataFrame({id_col: ids[mask], "pos": pos[mask]})

    bad = (
        rep.mapInPandas(_flag, f"{id_col} {id_type}, pos int")
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("__starts"))
    )

    out = df.join(bad, id_col, "left")
    toks = whitespace_tokens(F.coalesce(F.col(text_col), F.lit("")))
    covered = F.array_distinct(
        F.flatten(F.transform("__starts", lambda s: F.sequence(s, s + (n - 1))))
    )
    # kept indices via ONE hash-based array_except — O(tokens+covered)
    # per doc; the first cut's per-token array_contains filter was
    # O(tokens x covered) interpreted, a real cost at boilerplate
    # density. array_except preserves left-operand order.
    idx = F.when(
        F.size(toks) > 0, F.sequence(F.lit(0), F.size(toks) - 1)
    ).otherwise(F.array().cast("array<int>"))
    kept_idx = F.array_except(idx, covered)
    clean = F.col("__starts").isNull()
    others = [c for c in df.columns if c != text_col]
    return out.select(
        *others,
        F.size(toks).cast("long").alias("n_tokens"),
        F.when(clean, F.lit(0).cast("long"))
        .otherwise((F.size(toks) - F.size(kept_idx)).cast("long"))
        .alias("n_removed"),
        # untouched docs PASS THROUGH byte-identical (original
        # whitespace preserved — the property a curation pipeline
        # wants); only docs that lost tokens are re-joined with
        # single spaces
        F.when(clean, F.col(text_col))
        .otherwise(
            F.array_join(
                F.transform(kept_idx, lambda j: F.element_at(toks, j + 1)), " "
            )
        )
        .alias(text_col),
    )


# ---------------------------------------------------------------------------
# incremental dedup against a persisted index (q93)
# ---------------------------------------------------------------------------

def minhash_band_rows(
    df: DataFrame,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Slim (id, band, band_key) rows — the SAME banding convention as
    ``lsh_candidate_pairs`` (concat_ws of r = k/bands consecutive
    signature slots), factored out so a persisted dedup index and the
    batch pair generator can never drift. Docs with no shingles (null
    signatures) emit NOTHING: they have no content to collide on, and
    dropping them keeps the join semantics identical across engines
    (Spark's concat_ws would fold null sigs to "" while SQL string
    concat yields NULL). Map-only — one Arrow signature pass, no
    exchange."""
    sigs = minhash_signatures(
        df, k=k, shingle_n=shingle_n, text_col=text_col, id_col=id_col
    )
    r = k // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_", *[F.col(f"sig_{b * r + j}") for j in range(r)]
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return (
        sigs.filter(F.col("sig_0").isNotNull())
        .select(F.col(id_col), F.explode(band_structs).alias("bk"))
        .select(id_col, "bk.band", "bk.band_key")
    )


def dedup_index_write(
    df: DataFrame,
    path: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
    partition: int | None = None,
) -> None:
    """Persist the corpus-side dedup index under ``path``: two slim
    parquet tables — ``{path}/bands`` (band, band_key, id) MinHash band
    buckets and ``{path}/digests`` (text_hash, id) exact md5 digests.
    This is the write-once artifact production curation dedups each
    day's crawl against: signatures for the history are computed ONCE,
    here, never again (the closed-world batch entries q21/q23/q68
    recompute them per run). Each table is one map-only Arrow/codegen
    pass over ``df`` plus the parquet write; ``mode="append"`` is the
    survivor-append path (see ``dedup_index_append``).

    Scale note: at 100 TB the bands table is (corpus docs × bands)
    slim rows. ``dedup_incremental`` probes it with a join on (band,
    band_key); re-writing it bucketed on those keys (sources/
    bucketed.write_bucketed) removes even that exchange, leaving the
    index side scan-only.

    ``partition``: write into hive-style ``chunk=<partition>``
    subdirectories of the two tables instead of their roots — the
    at-least-once layout (see ``dedup_index_append``): a writer that
    owns one partition can make its write IDEMPOTENT by overwriting
    exactly its own subdirectory on replay. Readers are unchanged
    (partition discovery adds a ``chunk`` column the probes never
    select); a given index must use ONE layout throughout — mixing
    root files with partition dirs breaks discovery, so the day-zero
    write of a partitioned index passes a partition too."""
    sub = "" if partition is None else f"/chunk={int(partition)}"
    minhash_band_rows(df, k, bands, shingle_n, text_col, id_col).write.mode(
        mode
    ).parquet(f"{path}/bands{sub}")
    df.select(
        F.md5(F.col(text_col).cast("binary")).alias("text_hash"), F.col(id_col)
    ).write.mode(mode).parquet(f"{path}/digests{sub}")


def dedup_index_write_bucketed(
    spark,
    df: DataFrame,
    table: str,
    path: str,
    n_buckets: int = 64,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """``dedup_index_write`` for the BIG-delta regime: persist the two
    index tables as EXTERNAL BUCKETED catalog tables
    (``{table}_bands`` bucketed+sorted on band_key at ``{path}/bands``,
    ``{table}_digests`` on text_hash) so the semi-join fallback in
    ``dedup_incremental`` never shuffles the index either — the
    bucketed scan's HashPartitioning(key, n_buckets) already satisfies
    the join's clustered distribution, and only the delta side
    exchanges (to the bucket count). Combined with the broadcast-delta
    path this makes the index shuffle-free in BOTH regimes:
    broadcast when the delta is small, bucket-aligned semi when it is
    not. Bucket metadata lives in the session catalog (that is what
    records it — sources/bucketed.py), so a new application re-creates
    the table entries over the same external ``path``;
    ``mode="append"`` appends with the identical bucket spec (the
    survivor-append path)."""
    (
        minhash_band_rows(df, k, bands, shingle_n, text_col, id_col)
        .write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, "band_key")
        .sortBy("band_key")
        .option("path", f"{path}/bands")
        .saveAsTable(f"{table}_bands")
    )
    (
        df.select(
            F.md5(F.col(text_col).cast("binary")).alias("text_hash"),
            F.col(id_col),
        )
        .write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, "text_hash")
        .sortBy("text_hash")
        .option("path", f"{path}/digests")
        .saveAsTable(f"{table}_digests")
    )


class ProbeRows(NamedTuple):
    """``delta_probe_rows``'s product: the delta's slim probe tables
    plus the signature parameters they were built with — consumers
    (``dedup_incremental``, ``dedup_index_append``) REFUSE a probe
    whose parameters disagree with their own, so a probe built under
    one banding convention can never silently write or query a
    different-convention index."""

    digests: DataFrame
    band_rows: DataFrame
    k: int
    bands: int
    shingle_n: int
    text_col: str
    id_col: str


def _check_probe_params(
    probe: "ProbeRows", k: int, bands: int, shingle_n: int,
    text_col: str, id_col: str, caller: str,
) -> None:
    mine = (k, bands, shingle_n, text_col, id_col)
    theirs = (probe.k, probe.bands, probe.shingle_n, probe.text_col, probe.id_col)
    if mine != theirs:
        raise ValueError(
            f"{caller}: probe_rows built with (k, bands, shingle_n, "
            f"text_col, id_col)={theirs} but the call asks for {mine} — "
            "mixed banding conventions would silently corrupt the index"
        )


def delta_probe_rows(
    delta: DataFrame,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    digests: DataFrame | None = None,
) -> ProbeRows:
    """The delta's slim probe rows — digests (text_hash, id) and band
    rows (id, band, band_key) — computed ONCE and localCheckpointed,
    for callers that consume them more than once in a single job. The
    MinHash signature pass (Arrow hashlib over the text) is the
    dominant cost of incremental dedup; a foreachBatch that runs
    ``dedup_incremental`` and then ``dedup_index_append`` would
    otherwise pay it twice per micro-batch (exchange reuse does NOT
    fire across PythonUDF subtrees — the r7 LSH finding — so only an
    explicit checkpoint makes the pass single). Pass the result to
    both via their ``probe_rows`` parameter; the embedded parameters
    are verified there.

    ``digests``: a caller that already materialized md5-over-text
    rows (e.g. the q100 loop's scrub_hash) passes them as
    (text_hash, ``id_col``) and skips this function's own md5 scan —
    the caller owns the claim that they hash the SAME text column
    with the SAME convention (md5 of the utf-8 bytes: any other hash
    written into an index silently breaks every future exact-dup
    probe against it, which is why the column shape is checked here
    and the convention requirement is spelled out — it cannot be
    checked without re-hashing, which would defeat the point).
    Caller-supplied digests are localCheckpointed here too, so the
    single-pass guarantee holds regardless of what plan produced
    them (ADVICE r11)."""
    if digests is None:
        digests = delta.select(
            F.md5(F.col(text_col).cast("binary")).alias("text_hash"),
            F.col(id_col),
        ).localCheckpoint()
    else:
        if set(digests.columns) != {"text_hash", id_col}:
            raise ValueError(
                "delta_probe_rows: caller-supplied digests must have "
                f"exactly columns ('text_hash', {id_col!r}); got "
                f"{digests.columns} — and text_hash MUST be "
                f"md5(cast({text_col} as binary)), the index's digest "
                "convention"
            )
        digests = digests.select("text_hash", id_col).localCheckpoint()
    band_rows = minhash_band_rows(
        delta, k, bands, shingle_n, text_col, id_col
    ).localCheckpoint()
    return ProbeRows(digests, band_rows, k, bands, shingle_n, text_col, id_col)


def dedup_index_append(
    delta: DataFrame,
    verdicts: DataFrame,
    path: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_rows: ProbeRows | None = None,
    partition: int | None = None,
) -> None:
    """Register a delta's SURVIVORS (verdict == 'kept') in the index:
    append their band rows + digests. After this, a future delta that
    duplicates one of today's survivors is dropped by the index probe
    alone — the incremental invariant. Dropped docs are NOT appended:
    their content is (near-)covered by what the index already holds,
    so appending them would only grow the index without changing any
    future verdict.

    ``probe_rows`` (from ``delta_probe_rows``): reuse the delta's
    already-computed digests + band rows instead of re-shingling the
    survivors' text — the verdict pass just computed them; appending
    is then two kept-filtered slim writes with NO text scan at all.
    The probe's embedded parameters must match this call's, or the
    append would register a different banding convention than the
    index's other writers (checked, ValueError).

    ``partition``: the at-least-once path (r12 verdict item 2) for a
    batch writer that may be REPLAYED after a crash (production
    foreachBatch delivers exactly this). A plain append run twice
    leaves duplicate index rows; with ``partition`` set the delta's
    rows land in ``chunk=<partition>`` subdirectories with
    mode=overwrite, so a replay replaces its own prior (possibly
    partial) append byte-for-byte instead of doubling it. The index
    must have been created with the same layout
    (``dedup_index_write(..., partition=...)``)."""
    kept_ids = verdicts.filter(F.col("verdict") == "kept").select(id_col)
    sub = "" if partition is None else f"/chunk={int(partition)}"
    mode = "append" if partition is None else "overwrite"
    if probe_rows is not None:
        _check_probe_params(
            probe_rows, k, bands, shingle_n, text_col, id_col,
            "dedup_index_append",
        )
        # canonical column order of dedup_index_write's two tables
        probe_rows.band_rows.join(kept_ids, id_col, "left_semi").select(
            id_col, "band", "band_key"
        ).write.mode(mode).parquet(f"{path}/bands{sub}")
        probe_rows.digests.join(kept_ids, id_col, "left_semi").select(
            "text_hash", id_col
        ).write.mode(mode).parquet(f"{path}/digests{sub}")
        return
    kept = delta.join(kept_ids, id_col, "left_semi")
    dedup_index_write(
        kept, path, k, bands, shingle_n, text_col, id_col,
        mode=mode, partition=partition,
    )


def compacted_chunks(path: str) -> set[int]:
    """Chunk ids that ``dedup_index_compact`` has folded into a base
    partition of the index at ``path`` — read from the sidecar the
    compactor maintains (``_compacted_chunks.json``; the underscore
    prefix keeps it out of Spark's partition discovery). An empty set
    for a never-compacted index. At-least-once writers consult this
    before choosing their replay guard: a replayed batch whose chunk
    is in this set can no longer exclude its prior append by partition
    prune (the rows moved into the base), so it must fall back to the
    id anti-join (``dedup_incremental(exclude_index_ids=...)``). The
    sidecar may OVERSTATE after a mid-compaction crash (ids recorded
    before the fold commits) — safe: the fallback guard is correct for
    never-folded chunks too, just not free."""
    import json
    import os

    p = os.path.join(path, "_compacted_chunks.json")
    if not os.path.isfile(p):
        return set()
    with open(p) as f:
        return {int(c) for c in json.load(f)["compacted"]}


def _record_compacted(path: str, new_ids: set[int]) -> None:
    import json
    import os

    ids = sorted(compacted_chunks(path) | {int(c) for c in new_ids})
    tmp = os.path.join(path, "._compacted_chunks.tmp")
    with open(tmp, "w") as f:
        json.dump({"compacted": ids}, f)
    os.replace(tmp, os.path.join(path, "_compacted_chunks.json"))


def _chunk_dir_ids(table_dir: str) -> set[int]:
    import os
    import re as _re

    if not os.path.isdir(table_dir):
        return set()
    out = set()
    for d in os.listdir(table_dir):
        m = _re.fullmatch(r"chunk=(-?\d+)", d)
        if m and os.path.isdir(os.path.join(table_dir, d)):
            out.add(int(m.group(1)))
    return out


def _parquet_file_count(root: str) -> int:
    import os

    n = 0
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        n += sum(f.endswith(".parquet") for f in files)
    return n


def dedup_index_compact(
    spark,
    path: str,
    exclude_chunks=(),
    into: int = -1,
    target_files: int | None = None,
) -> dict:
    """Fold the accumulated per-batch ``chunk=<k>`` partitions of a
    chunk-partitioned dedup index (``dedup_index_write/append``
    ``partition=`` layout) into ONE consolidated partition
    ``chunk=<into>`` — the maintenance pass that keeps a long-horizon
    at-least-once ingest from drowning in files and partitions (the
    loop writes one partition per micro-batch forever; a year of
    hourly batches is ~9k partitions x 2 tables of small files, and
    both partition discovery and the per-batch probe scan degrade
    with file count). Verdict-preserving: the fold is a row-level
    union + DISTINCT, and every probe in ``dedup_incremental`` has
    existence semantics, so moving rows between partitions (and
    deduplicating re-folded replays) changes no verdict — pinned by
    tests/test_pipeline_ops.py::test_dedup_index_compact_*.

    REPLAY INTERACTION (defined here, tested): the loop's free replay
    guard prunes ``chunk != k``. Once chunk ``k`` is folded, that
    prune no longer removes its rows (they live in ``chunk=<into>``),
    so the compactor records every folded id in a sidecar
    (:func:`compacted_chunks`) BEFORE the fold commits, and an
    at-least-once writer whose chunk is in the sidecar must use
    ``dedup_incremental(exclude_index_ids=<its own ids>)`` instead —
    ``streaming_curation_loop`` does exactly this. A replay's
    re-append then recreates ``chunk=k`` next to the folded copy;
    the duplicate rows are verdict-harmless (existence semantics) and
    the NEXT compaction's distinct removes them. Callers should still
    pass possibly-in-flight chunks via ``exclude_chunks`` — folding a
    chunk that later replays is safe but forfeits the free prune for
    that chunk forever.

    Crash contract: single compactor, no concurrent readers (run it
    in the ingest's idle window — the same single-writer regime the
    module's index writers document). Any mid-compaction crash is
    repaired by RE-RUNNING: the fold is staged in hidden dirs
    (``.compact_tmp``, invisible to readers), the base swap goes
    through ``.pre_compact_base``, and the recovery preamble completes
    or rolls back from whichever window the crash left; source chunk
    dirs are deleted LAST, so no committed row is ever lost (at worst
    duplicated, which distinct folds away).

    ``into``: target partition id — MUST be negative (batch chunks
    are >= 0). The default -1 matches the loop's day-zero base.
    Tiered (LSM-style) compaction at 100 TB: fold each month into its
    own ``into=-2, -3, ...`` so a compaction pass rewrites one tier,
    not the whole history. ``target_files``: repartition the folded
    output to a fixed file count (small-file control); None keeps the
    shuffle's partitioning.

    Returns a stats dict: folded chunk ids, per-table row counts, and
    parquet file counts before/after (the receipt's metric)."""
    import os
    import shutil

    if int(into) >= 0:
        raise ValueError(
            f"dedup_index_compact: into={into} collides with batch chunk "
            "ids (>= 0); fold targets must be negative"
        )
    excl = {int(c) for c in exclude_chunks}
    tables = [f"{path}/bands", f"{path}/digests"]

    # ---- recovery preamble: resolve a crashed prior compaction ----
    for t in tables:
        tmp = os.path.join(t, ".compact_tmp")
        pre = os.path.join(t, ".pre_compact_base")
        base = os.path.join(t, f"chunk={int(into)}")
        committed = os.path.isfile(os.path.join(tmp, "_SUCCESS"))
        if os.path.isdir(tmp) and not committed:
            shutil.rmtree(tmp)  # partial stage: roll back
        elif committed:
            # stage complete: finish the swap (tmp holds base ∪
            # candidates; sidecar was updated before staging)
            if os.path.isdir(base) and not os.path.isdir(pre):
                # pre-swap crash — old base still live; replace it
                os.rename(base, pre)
            if not os.path.isdir(base):
                os.rename(tmp, base)
            else:
                shutil.rmtree(tmp)  # swap already completed
        if os.path.isdir(pre):
            if not os.path.isdir(base):
                os.rename(pre, base)  # mid-swap crash: restore
            else:
                shutil.rmtree(pre)
        # stale source dirs whose rows are already in the folded base
        # (crash before the final deletion) are re-folded + distinct'd
        # by the pass below — no special handling needed.

    candidates = sorted(
        c
        for c in (_chunk_dir_ids(tables[0]) | _chunk_dir_ids(tables[1]))
        if c >= 0 and c not in excl
    )
    stats: dict = {
        "folded_chunks": candidates,
        "files_before": _parquet_file_count(path),
    }
    if not candidates:
        stats.update(files_after=stats["files_before"], rows={})
        return stats

    # ---- sidecar FIRST, before any fold state exists: the recovery
    # preamble completes a committed stage unconditionally, so the
    # folded ids must already be recorded by then (overstating after a
    # crash-before-stage is safe — the anti-join guard is correct for
    # never-folded chunks too; understating means a replay prunes
    # chunk=k while its rows sit in the base: a wrong verdict) ----
    _record_compacted(path, set(candidates))

    # ---- stage: write base ∪ candidates (distinct) to hidden tmp ----
    rows: dict = {}
    for t in tables:
        base = os.path.join(t, f"chunk={int(into)}")
        srcs = [
            os.path.join(t, f"chunk={c}")
            for c in candidates
            if os.path.isdir(os.path.join(t, f"chunk={c}"))
        ]
        if os.path.isdir(base):
            srcs.append(base)
        folded = spark.read.parquet(*srcs).distinct()
        if target_files is not None:
            folded = folded.repartition(int(target_files))
        folded.write.mode("overwrite").parquet(os.path.join(t, ".compact_tmp"))
        rows[os.path.basename(t)] = spark.read.parquet(
            os.path.join(t, ".compact_tmp")
        ).count()
    stats["rows"] = rows

    # ---- commit: swap the base through .pre_compact_base, then drop
    # the source chunk dirs (last — no committed row is ever lost) ----
    for t in tables:
        tmp = os.path.join(t, ".compact_tmp")
        pre = os.path.join(t, ".pre_compact_base")
        base = os.path.join(t, f"chunk={int(into)}")
        if os.path.isdir(base):
            os.rename(base, pre)
        os.rename(tmp, base)
        shutil.rmtree(pre, ignore_errors=True)
        for c in candidates:
            shutil.rmtree(os.path.join(t, f"chunk={c}"), ignore_errors=True)
    stats["files_after"] = _parquet_file_count(path)
    return stats


# Broadcast the delta's probe rows into the index scan when the delta
# has at most this many docs. Band rows are docs x bands and digests
# are docs x 1; at 2M docs / 4 bands that is ~8M slim rows (~300 MB
# broadcast) — inside executor budgets, and the daily-crawl regime is
# orders of magnitude below it. Above the gate the semi-join fallback
# keeps both sides distributed (path-equivalence unit pins the two
# plans to identical verdicts).
DELTA_BROADCAST_MAX_DOCS = 2_000_000


def dedup_incremental(
    spark,
    delta: DataFrame,
    index_path: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_delta: bool | None = None,
    index_table: str | None = None,
    probe_rows: ProbeRows | None = None,
    exclude_index_ids: DataFrame | None = None,
    index_filter: str | None = None,
) -> DataFrame:
    """Incremental dedup of a delta batch against a persisted index
    (``dedup_index_write``): one verdict row per delta doc —
    (id, verdict) with verdict ∈ ('dup_exact', 'dup_near', 'kept').

    Semantics (priority dedup — the index outranks the delta, smaller
    id outranks within the delta; a doc is judged against every
    higher-priority doc REGARDLESS of that doc's own verdict, so no
    recursive admission chain is needed and the contract is exactly
    SQL-expressible):

    - ``dup_exact``  — md5(text) matches an index digest, or a
      smaller-id delta doc's digest;
    - ``dup_near``   — any of the doc's MinHash band keys matches an
      index band bucket, or a smaller-id delta doc's band key
      (exact dups also collide on every band; the exact check wins by
      precedence);
    - ``kept``       — neither.

    Equivalence (the q93 oracle's spine): for a corpus split into
    index ∪ delta, ``dedup_incremental`` drops exactly the delta docs
    that the SAME priority dedup run batch over the whole union would
    drop — verified as a property test in tests/test_pipeline_ops.py
    (incremental against an index built from the first half ≡
    empty-index incremental over the union, restricted to the delta).

    Scale shape — cost tracks the DELTA, not the index:
    - signatures (the dominant cost: hashlib shingles, ~87 s for 10M
      docs at the r9 rung) are computed for DELTA docs only; the
      index contributes pre-computed slim rows;
    - the index probes are joins on 16-byte digests / short band keys.
      When the delta is small (≤ ``DELTA_BROADCAST_MAX_DOCS``, or
      ``broadcast_delta=True``), the delta's probe rows are BROADCAST
      into an inner join with the index as the streamed side — the
      index is SCANNED, never shuffled, never sorted, which is the
      only shape that survives a 100 TB index (a left-semi cannot
      broadcast its probe side, so the semi formulation necessarily
      exchanged the index). Above the gate the semi-join fallback
      keeps both sides distributed; plan ratchet + path-equivalence
      unit in tests. ``broadcast_delta=None`` auto-picks via one
      ``delta.count()`` (trivial next to the signature pass);
    - within-delta priority is a window min over the delta's own band
      rows — a shuffle of (id, band, band_key) sized by the delta.
    - delta text never shuffles anywhere.

    ``index_table`` (from ``dedup_index_write_bucketed``) switches the
    index side to the bucketed catalog tables: in the semi fallback
    the index scan then arrives pre-partitioned on the join key and
    ONLY the delta exchanges — the big-delta complement of the
    broadcast path (plan-ratcheted in tests/test_plans.py).

    ``probe_rows`` (from ``delta_probe_rows``): reuse precomputed
    digests + band rows so a caller that also appends survivors to
    the index (``dedup_index_append``) pays the signature pass once
    per micro-batch, not twice. The probe's embedded parameters must
    match this call's (checked, ValueError).

    ``exclude_index_ids`` (the at-least-once replay guard, r12
    verdict item 2): a slim (``id_col``) frame of ids whose index
    rows must be IGNORED by both probes — pass the delta's own ids
    when a crashed-and-replayed batch may have already appended part
    of itself to the index, otherwise the replay judges the batch
    against its own prior append (its docs as dup_exact of
    themselves, smaller ids as dup_near of same-batch survivors) and
    diverges from the uninterrupted run. In normal operation a delta
    id never pre-exists in the index, so the anti-join is a semantic
    no-op; it follows the same broadcast regime as the delta probes
    (the exclude set is delta-sized by construction). Cost note: in
    the big-delta regime the exclude set cannot broadcast, so the
    anti-join exchanges the INDEX on ``id_col`` — a price paid every
    batch for protection only a replay needs; a CHUNK-PARTITIONED
    index (``dedup_index_append(partition=...)``) should prefer
    ``index_filter`` below, which is free.

    ``index_filter``: a SQL predicate applied to both index tables
    right after the scan — with the chunk-partitioned layout,
    ``"chunk != <k>"`` excludes a replayed batch's own prior append
    by PARTITION PRUNING (no join, no exchange, no per-batch cost:
    only this batch ever writes ``chunk=<k>``, so the prune removes
    exactly its prior partial append and nothing else).
    """
    if probe_rows is not None:
        _check_probe_params(
            probe_rows, k, bands, shingle_n, text_col, id_col,
            "dedup_incremental",
        )
    if index_table is not None:
        idx_digests = spark.table(f"{index_table}_digests")
        idx_bands = spark.table(f"{index_table}_bands")
    else:
        idx_digests = spark.read.parquet(f"{index_path}/digests")
        idx_bands = spark.read.parquet(f"{index_path}/bands")
    if index_filter is not None:
        # targeted failure for the common layout mismatch (r13 verdict
        # item 7): a chunk predicate against an index written WITHOUT
        # partition= has no chunk column, and Spark's unresolved-column
        # error would not name the real problem (wrong index layout)
        if "chunk" in index_filter and (
            "chunk" not in idx_digests.columns
            or "chunk" not in idx_bands.columns
        ):
            where = index_table or index_path
            raise ValueError(
                f"dedup_incremental: index_filter={index_filter!r} "
                f"references 'chunk' but the index at {where!r} is not "
                "chunk-partitioned (no chunk column on "
                f"digests={idx_digests.columns} / bands={idx_bands.columns}) "
                "— write it with dedup_index_write(..., partition=...) / "
                "dedup_index_append(..., partition=...) to get the "
                "replay-prunable layout"
            )
        idx_digests = idx_digests.filter(index_filter)
        idx_bands = idx_bands.filter(index_filter)
    if broadcast_delta is None:
        gate_df = probe_rows.digests if probe_rows is not None else delta
        broadcast_delta = gate_df.count() <= DELTA_BROADCAST_MAX_DOCS
    if exclude_index_ids is not None:
        # the index side must stay shuffle-free: broadcast the exclude
        # set into the anti-join whenever the delta regime broadcasts
        # (it is the delta's own ids); in the big-delta regime both
        # sides are distributed anyway
        excl = exclude_index_ids.select(id_col)
        if broadcast_delta:
            excl = F.broadcast(excl)
        idx_digests = idx_digests.join(excl, id_col, "left_anti")
        idx_bands = idx_bands.join(excl, id_col, "left_anti")

    digs = (
        probe_rows.digests
        if probe_rows is not None
        else delta.select(
            F.md5(F.col(text_col).cast("binary")).alias("text_hash"),
            F.col(id_col),
        )
    )
    if broadcast_delta:
        exact_vs_index = idx_digests.select("text_hash").join(
            F.broadcast(digs), "text_hash", "inner"
        ).select(id_col)
    else:
        exact_vs_index = digs.join(
            idx_digests.select("text_hash"), "text_hash", "left_semi"
        ).select(id_col)
    # md5(NULL text) is NULL and Spark windows group NULLs into ONE
    # partition — without this filter every null-text delta doc but
    # the min-id one would be flagged dup_exact, diverging from the
    # pinned contract (content-less docs are kept: the index probes
    # drop nulls via equi-join semantics and the near path's band
    # rows never emit for null signatures).
    wh = Window.partitionBy("text_hash")
    exact_within = (
        digs.filter(F.col("text_hash").isNotNull())
        .withColumn("__min_id", F.min(id_col).over(wh))
        .filter(F.col(id_col) > F.col("__min_id"))
        .select(id_col)
    )
    exact_dup = exact_vs_index.unionByName(exact_within).distinct()

    dbands = (
        probe_rows.band_rows
        if probe_rows is not None
        else minhash_band_rows(delta, k, bands, shingle_n, text_col, id_col)
    )
    if broadcast_delta:
        near_vs_index = idx_bands.select("band", "band_key").join(
            F.broadcast(dbands), ["band", "band_key"], "inner"
        ).select(id_col)
    else:
        near_vs_index = dbands.join(
            idx_bands.select("band", "band_key"),
            ["band", "band_key"],
            "left_semi",
        ).select(id_col)
    wb = Window.partitionBy("band", "band_key")
    near_within = (
        dbands.withColumn("__min_id", F.min(id_col).over(wb))
        .filter(F.col(id_col) > F.col("__min_id"))
        .select(id_col)
    )
    near_dup = near_vs_index.unionByName(near_within).distinct()

    return (
        delta.select(id_col)
        .join(exact_dup.withColumn("__e", F.lit(1)), id_col, "left")
        .join(near_dup.withColumn("__n", F.lit(1)), id_col, "left")
        .select(
            id_col,
            F.when(F.col("__e") == 1, F.lit("dup_exact"))
            .when(F.col("__n") == 1, F.lit("dup_near"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
        )
    )


# ---------------------------------------------------------------------------
# generic banded-Hamming pairs over a precomputed hash column (q94)
# ---------------------------------------------------------------------------

def hash_neardup_pairs(
    hashed: DataFrame,
    hash_col: str = "phash",
    bits: int = 64,
    bands: int = 8,
    max_hamming: int = 4,
    max_bucket_size: int = 2000,
    id_col: str = "doc_id",
    hot_literal_cap: int = _HOT_LITERAL_CAP,
) -> DataFrame:
    """``simhash_neardup_pairs``' banded-Hamming join generalized to a
    PRECOMPUTED ``bits``-bit hash column (perceptual image hashes,
    audio fingerprints — anything where the hash comes from a decode
    stage, not from text). Same pigeonhole guarantee: a pair within
    Hamming ``bands - 1`` shares at least one exact band slice; same
    first-surviving-band-wins JVM predicate instead of a pair-stream
    distinct; same hot-bucket cap, with the same join-based fallback
    past ``hot_literal_cap`` over-cap buckets. One shuffle on
    (band, band_value); payloads never ride past the hash column.

    Negative hashes (bit 63 set, stored in a signed long) band
    correctly: arithmetic shiftright's low ``width`` bits equal the
    logical shift's for every band, and the top band's mask strips the
    sign extension.

    Size ``bands`` so the band-value SPACE stays sparse:
    ``2^(bits/bands)`` must be ≫ ``n_docs / max_bucket_size``, or
    every bucket saturates at the cap and the candidate join
    degenerates (measured at the 500k rung: 8-bit slices give 256
    values/band, so a uniform 500k corpus averages ~1950 rows/bucket
    — half the buckets blow the cap and the rest emit ~2000²
    candidates each; bands=4 → 65k values/band restores sparse
    buckets at identical recall radius 3). The sparsest safe choice
    is ``bands = max_hamming + 1`` — the pigeonhole minimum (q94/q95
    run 5 bands for radius 4). When ``bands`` does not divide
    ``bits``, the top ``bits - bands*(bits//bands)`` bits are simply
    not banded: the recall guarantee is UNAFFECTED (an uncovered
    differing bit never consumes a clean band; pairs differing only
    in uncovered bits collide in every band and are exact-filtered
    like any other candidate)."""
    width = bits // bands
    mask = (1 << width) - 1
    sh = hashed.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("__h")
    ).localCheckpoint()
    banded = sh.select(
        "id",
        "__h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.shiftright(F.col("__h"), j * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for j in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "__h", "bk.band", "bk.band_val")
    # ONE aggregate pass: the collected over-cap set drives BOTH the
    # cap filter (a literal NOT-isin predicate — no second count
    # window over the banded stream) and the first-band-wins chain's
    # hot-band exclusion below. Driver-bounded by the over-cap bucket
    # count, not the corpus (r10 verdict's fold); None = saturated,
    # take the join-based fallback instead of a driver-sized collect.
    capped_by_band = _collect_capped_buckets(banded, max_bucket_size, hot_literal_cap)
    if capped_by_band is None:
        return _banded_hamming_pairs_saturated(
            banded, "__h", max_bucket_size, max_hamming
        )
    banded = _drop_hot_buckets(banded, capped_by_band)
    a = banded.select(
        "band", "band_val", F.col("id").alias("id_a"), F.col("__h").alias("h_a")
    )
    b = banded.select(
        "band", "band_val", F.col("id").alias("id_b"), F.col("__h").alias("h_b")
    )

    def _slice(col: str, j: int) -> Column:
        return F.shiftright(F.col(col), j * width).bitwiseAND(F.lit(mask))

    chain = None
    for j in range(bands):
        m = _slice("h_a", j) == _slice("h_b", j)
        hot = capped_by_band.get(j)
        if hot:
            m = m & ~_slice("h_a", j).isin([int(x) for x in hot])
        chain = F.when(m, F.lit(j)) if chain is None else chain.when(m, F.lit(j))

    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(chain == F.col("band"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )

"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Query side is broadcast (queries ≪ corpus); the corpus scan is
  map-only + per-partition top-k heaps (window row_number ≤ k after a
  shuffle only on the small query-id key space).
- ``hyperplane_lsh_buckets`` / ``ann_topk``: the scale path — random-
  hyperplane LSH with deterministic integer weights (engine-portable,
  see functions/hashing.py): sign bits of w·v bucket the corpus; ANN
  search probes only the query's bucket. At 100 TB the bucket column
  becomes the partition key, so a query touches one partition instead
  of the full corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from strat_backtest_spark.functions.numeric import round_half_up


def _norm(a: Column) -> Column:
    # Column-expression L2 norm for PER-VECTOR / low-volume contexts
    # (e.g. the avg_norm aggregate). NOT for pair streams: the fold
    # runs on the interpreted expression path, and every per-PAIR hot
    # path scores via block BLAS matmul instead
    # (_rounded_cosine_block / _bucket_rerank_pairs below). Within
    # Column-land the fold is still the right form — an unrolled
    # 64-term element_at expression measured 2.7x slower (generated
    # method blows past JIT limits).
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _rounded_cosine_block(Vc, Vq) -> "np.ndarray":
    """(n_corpus, n_query) cosine matrix, rounded HALF_UP to 6 dp —
    the one scoring kernel every similarity path shares (and the exact
    math the gate-proven ``embedding_neardup_pairs`` block scorer
    uses): BLAS matmul for the pair term, numpy row norms, IEEE-stable
    rounding. The SQL oracles compute the same quantity with list
    folds; 6-dp rounding absorbs the op-order ULP difference (hash-
    verified across rounds on q47, and on q30/q31/q51 after this
    rewrite)."""
    nc = np.sqrt((Vc * Vc).sum(axis=1))
    nq = np.sqrt((Vq * Vq).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        return round_half_up((Vc @ Vq.T) / np.outer(nc, nq), 6)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: (query_id, neighbor_id, cos_sim, rank).
    Self-matches excluded. Deterministic rank tiebreak on neighbor id.

    Scale shape: the query matrix is collected (queries ≪ corpus by
    contract — same assumption the previous broadcast crossJoin made)
    and rides into a mapInPandas scan of the corpus; each Arrow batch
    scores against ALL queries in one BLAS matmul and emits only its
    LOCAL top-k per query. The global window then ranks |batches|·k
    candidates per query instead of |corpus| — the all-pairs stream
    never exists outside a worker's registers, and the shuffle carries
    O(k · batches) rows. Per-pair interpreted HOF cosine (the previous
    plan) measured ~7× slower at the 200k-vec rung.

    NaN policy (uniform across cosine_topk / ann_topk / ivf_topk):
    zero-norm vectors have undefined cosine; NaN-scored pairs are
    DROPPED (the ``> -inf`` mask below is False for NaN), never
    emitted or ranked."""
    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).collect()
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {id_type}, neighbor_id {id_type}, cos_sim double"
    if not qrows:
        return (
            corpus.sparkSession.createDataFrame([], out_schema + ", rank int")
        )
    qids = np.array([r["query_id"] for r in qrows])
    Vq = np.array([r["qvec"] for r in qrows], dtype=np.float64)
    kk = int(k)

    def _score(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ids = pdf[id_col].to_numpy()
            Vc = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            sim = _rounded_cosine_block(Vc, Vq)  # (n, nq)
            # self-matches excluded before the local top-k
            sim[ids[:, None] == qids[None, :]] = -np.inf
            frames = []
            for j in range(len(qids)):
                col = sim[:, j]
                m = min(kk, n)
                # local top-k by (sim desc, id asc): lexsort on (-sim, id)
                idx = np.lexsort((ids, -col))[:m]
                keep = col[idx] > -np.inf
                idx = idx[keep]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.repeat(qids[j], len(idx)),
                            "neighbor_id": ids[idx],
                            "cos_sim": col[idx],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
                {"query_id": qids[:0], "neighbor_id": ids[:0], "cos_sim": np.empty(0)}
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(_score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# deterministic integer hyperplane weights: w[p][d] in [-8, 8]
def _plane_weight(p: int, d: int) -> int:
    return ((p * 7_919 + d * 104_729 + 12_345) % 17) - 8


def _plane_matrix(n_planes: int, dim: int, plane_offset: int) -> "np.ndarray":
    import numpy as np

    return np.array(
        [
            [_plane_weight(p, d) for d in range(dim)]
            for p in range(plane_offset, plane_offset + n_planes)
        ],
        dtype=np.float64,
    )


def hyperplane_lsh_buckets(
    df: DataFrame,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_offset: int = 0,
) -> DataFrame:
    """Bucket id = sign-bit string of ``n_planes`` fixed integer
    hyperplanes (family indices ``plane_offset..plane_offset+n_planes``
    — distinct offsets give independent hash tables). Map-only;
    deterministic across engines.

    Implemented as an Arrow-batched pandas UDF (one ``V @ W.T``
    matmul per batch) rather than an unrolled Catalyst expression: the
    expression form is n_planes x dim ``element_at`` terms (~384 per
    table, >1k with OR-amplification), which blows the generated
    method past JIT limits — measured as multi-MiB task binaries and
    ~10 s of compile-dominated runtime on a 2k-row input. The UDF cuts
    q47 from 11.7 s to well under 1 s at sf0.1 with identical output
    (same weights, double math; sign flips need |w.v| ~ 1e-13)."""
    W_T = _plane_matrix(n_planes, dim, plane_offset).T  # (dim, n_planes)
    pow2 = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("long")
    def _bucket(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        V = np.vstack(vecs.to_numpy()).astype(np.float64)
        return pd.Series(((V @ W_T) > 0.0).astype(np.int64) @ pow2)

    return df.withColumn("bucket", _bucket(F.col(vec_col)))


def _bucket_rerank_pairs(
    cb: DataFrame, qb: DataFrame, key: str, id_type: str, n_chunks: int = 1
) -> DataFrame:
    """All (query, corpus-neighbor) cosine scores WITHIN shared
    buckets: cogrouped applyInPandas — per bucket, ONE BLAS matmul
    scores every candidate pair (the q47 block-scorer pattern),
    replacing a bucket join whose per-pair O(dim) interpreted HOF fold
    was ~7× slower at the 200k-vec rung. The exchange carries each
    vector once per bucket membership (corpus: once; queries: once per
    probe) instead of once per PAIR, and the emitted rows are slim
    (ids + one double, no vectors).

    ``n_chunks`` bounds the corpus-side group a degenerate bucket can
    materialize on one executor (ADVICE r7: boilerplate/zero-ish
    vectors all hashing to one bucket OOM'd where the old broadcast
    join streamed): corpus rows are salted into
    ``pmod(hash(neighbor_id), n_chunks)`` sub-groups and the (small)
    query side is replicated to every chunk, so each cogroup holds at
    most ~|bucket|/n_chunks corpus vectors while every in-bucket pair
    is still scored exactly once — value-identical to n_chunks=1.

    NaN policy (uniform across cosine_topk / ann_topk / ivf_topk,
    ADVICE r7): zero-norm vectors have undefined cosine; NaN-scored
    pairs are DROPPED, never emitted or ranked."""
    out_schema = f"query_id {id_type}, neighbor_id {id_type}, cos_sim double"

    def _blk(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {
                    "query_id": np.empty(0, dtype=object),
                    "neighbor_id": np.empty(0, dtype=object),
                    "cos_sim": np.empty(0),
                }
            )
        nids = left["neighbor_id"].to_numpy()
        qids = right["query_id"].to_numpy()
        Vc = np.vstack(left["cvec"].to_numpy()).astype(np.float64)
        Vq = np.vstack(right["qvec"].to_numpy()).astype(np.float64)
        sim = _rounded_cosine_block(Vc, Vq)  # (n_corpus, n_query)
        iu, ju = np.nonzero(
            (nids[:, None] != qids[None, :]) & ~np.isnan(sim)
        )
        return pd.DataFrame(
            {"query_id": qids[ju], "neighbor_id": nids[iu], "cos_sim": sim[iu, ju]}
        )

    nch = max(1, int(n_chunks))
    if nch == 1:
        return (
            cb.groupBy(key)
            .cogroup(qb.groupBy(key))
            .applyInPandas(lambda l, r: _blk(l, r), out_schema)
        )
    cbc = cb.withColumn("_chunk", F.pmod(F.xxhash64("neighbor_id"), F.lit(nch)))
    qbc = qb.withColumn(
        "_chunk", F.explode(F.sequence(F.lit(0), F.lit(nch - 1)).cast("array<long>"))
    )
    return (
        cbc.groupBy(key, "_chunk")
        .cogroup(qbc.groupBy(key, "_chunk"))
        .applyInPandas(lambda l, r: _blk(l, r), out_schema)
    )


def _derive_chunks(corpus: DataFrame, max_chunk_rows: int | None) -> int:
    """Chunk count for ``_bucket_rerank_pairs``' degenerate-bucket
    guard: enough hash-salt chunks that even a bucket holding the
    ENTIRE corpus averages ≤ ``max_chunk_rows`` per cogroup. Costs one
    eager ``count()`` on the raw corpus (metadata-cheap on parquet,
    runs before any UDF column exists); pass ``None`` to skip both the
    count and the chunking."""
    if max_chunk_rows is None:
        return 1
    n = corpus.count()
    return max(1, -(-n // int(max_chunk_rows)))


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_chunk_rows: int | None = 200_000,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to the
    query's LSH bucket. The candidate structure is a bucket-key
    cogroup — at scale, with the corpus written bucket-partitioned,
    this prunes to one partition per query. ``max_chunk_rows`` bounds
    what one degenerate bucket can materialize per executor (see
    ``_bucket_rerank_pairs``); results are chunking-invariant.

    ``max_bucket`` bounds the rerank WORK a mega-bucket can cost (the
    10M-vector rung: a mass-duplicate corpus concentrates millions of
    vectors over a few thousand natural sign patterns, and the exact
    in-bucket rerank measured 177.5 s for 100 queries — memory-safe
    via chunking, but linear in bucket size). When set, each bucket
    keeps its ``max_bucket`` corpus rows with the smallest
    ``(xxhash64(id), id)`` — a deterministic uniform sample of the
    bucket. That is the RIGHT semantics for the regime that produces
    mega-buckets: bucket-mates are an ε-ball of near-duplicates whose
    cosine differences are noise, so any members serve as neighbors;
    but it is lossy for genuinely diverse overfull buckets (raise
    n_planes first — and near-dup the corpus before indexing, which is
    what the curation operators are for). None (default) keeps the
    exact-in-bucket contract; q31's gate pins that path."""
    cb = hyperplane_lsh_buckets(corpus, n_planes, dim, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        "bucket",
    )
    qb = hyperplane_lsh_buckets(queries, n_planes, dim, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        "bucket",
    )
    # queries ≪ corpus (the family's standing contract), so the query
    # bucket set is tiny: broadcast-semi-join it into the corpus side
    # BEFORE the cogroup. Without this, every corpus vector crosses
    # the cogroup exchange and the Arrow boundary only for its group
    # to be discarded against an empty query side — measured 168 s at
    # the 10M rung for 100 queries; the probed-bucket prune is what
    # makes the rerank cost track |query buckets|, not |corpus|.
    # Value-identical: pruned rows share no bucket with any query.
    cb = cb.join(F.broadcast(qb.select("bucket").distinct()), "bucket", "left_semi")
    if max_bucket is not None:
        # after the prune, so the sample window sorts only the probed
        # buckets; prune-then-cap ≡ cap-then-prune (cap is per-bucket)
        wc = Window.partitionBy("bucket").orderBy(
            F.xxhash64("neighbor_id").asc(), F.col("neighbor_id").asc()
        )
        cb = (
            cb.withColumn("__bn", F.row_number().over(wc))
            .filter(F.col("__bn") <= int(max_bucket))
            .drop("__bn")
        )
    id_type = corpus.schema[id_col].dataType.simpleString()
    scored = _bucket_rerank_pairs(
        cb, qb, "bucket", id_type, n_chunks=_derive_chunks(corpus, max_chunk_rows)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 6,
    dim: int = 64,
    max_bucket: int = 2_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cos_sim).

    The scale shape mirrors MinHash-LSH dedup (operators/dedup.py):
    candidate generation is a self-join on the LSH bucket key — never
    all-pairs — and the exact cosine check runs only inside buckets.

    ``n_tables`` is OR-amplification, the same trick as MinHash
    banding: each table hashes with an independent slice of the
    hyperplane family (plane_offset = t·n_planes), a pair is a
    candidate if it collides in ANY table, and pairs are deduped
    across tables. Single-table recall for a pair at angle θ is
    ``(1 - θ/π)^n_planes`` — e.g. ≈0.39 at cos 0.9 with 6 planes;
    L tables lift it to ``1-(1-r)^L`` (≈0.78 at L=3) at L× the
    candidate volume. Tune (n_planes, n_tables) like (rows, bands).

    ``max_bucket`` drops degenerate buckets per table (e.g. the
    all-zeros bucket a constant embedding column would create) before
    pairing — at 100 TB one hot bucket is a quadratic bomb; the cap
    turns it into a documented recall loss instead of a job-killer,
    same policy as ``lsh_candidate_pairs``.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))

    # All tables' buckets in ONE scan: a union of per-table branches
    # would scan (and, under _t's under-split repartition, shuffle)
    # the corpus once per table. One matmul against the stacked
    # hyperplane family computes every table's sign bits per batch;
    # posexplode fans out to (table, bucket) rows. Column t*n_planes+p
    # of ``V @ W_all.T`` is identical to the per-table matmul's
    # column p — same weights, same double math.
    W_all_T = _plane_matrix(n_tables * n_planes, dim, 0).T  # (dim, T*P)
    pow2 = (1 << np.arange(n_planes)).astype(np.int64)
    nt, npl = n_tables, n_planes

    @F.pandas_udf("array<long>")
    def _buckets_all(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack(vecs.to_numpy()).astype(np.float64)
        bits = ((V @ W_all_T) > 0.0).astype(np.int64).reshape(len(V), nt, npl)
        return pd.Series(list(bits @ pow2))

    b = base.select(
        "id", "vec", F.posexplode(_buckets_all(F.col("vec"))).alias("table", "bucket")
    )

    id_type = base.schema["id"].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cos_sim double"
    thr = float(threshold)
    cap = int(max_bucket)

    # Within-bucket scoring is ONE numpy matmul per group instead of a
    # bucket self-join + per-pair O(dim) fold: the group IS the
    # candidate set, so applyInPandas turns the quadratic term into
    # BLAS. The hot-bucket cap is a group-size check here — semantics
    # identical to the former broadcast size-filter join (and to the
    # oracle's QUALIFY count(*) <= cap), one fewer scan + shuffle.
    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        n = len(ids)
        if n < 2 or n > cap:
            return pd.DataFrame(
                {"id_a": ids[:0], "id_b": ids[:0], "cos_sim": np.empty(0)}
            )
        order = np.argsort(ids)
        ids = ids[order]
        V = np.vstack(pdf["vec"].to_numpy()[order]).astype(np.float64)
        nrm = np.sqrt((V * V).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = round_half_up((V @ V.T) / np.outer(nrm, nrm), 6)
        iu, ju = np.triu_indices(n, k=1)
        keep = sim[iu, ju] >= thr
        iu, ju = iu[keep], ju[keep]
        return pd.DataFrame(
            {"id_a": ids[iu], "id_b": ids[ju], "cos_sim": sim[iu, ju]}
        )

    pairs = b.groupBy("table", "bucket").applyInPandas(_bucket_pairs, out_schema)
    if n_tables > 1:
        # a pair can collide in several tables — keep it once
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return pairs


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the partition-pruning scale path
# ---------------------------------------------------------------------------

def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
) -> DataFrame:
    """Assign each vector to its nearest centroid (L2², deterministic
    tiebreak on centroid id) — the IVF coarse quantizer as a map-only
    projection. ``centroids`` is a small driver-side list (the IVF
    codebook is KB-scale even for thousands of lists), baked into the
    plan as literals: no join, no shuffle, broadcast-free.

    At 100 TB the corpus is written ``partitionBy(centroid_id)``; a
    query then scans only its ``nprobe`` partitions — partition
    pruning does the index lookup.

    Vectorized as a pandas UDF for the same reason as
    ``hyperplane_lsh_buckets``: K centroids x dim unrolled literal
    terms is a codegen bomb. Distances round to 9 dp before comparison
    (both engines agree there) and ties break on the smaller centroid
    id."""
    cids = np.array([int(c) for c, _ in centroids], dtype=np.int64)
    C = np.array([v for _, v in centroids], dtype=np.float64)  # (K, dim)

    @F.pandas_udf("long")
    def _assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        V = np.vstack(vecs.to_numpy()).astype(np.float64)  # (N, dim)
        rows, ks = _l2_candidates(V, C, 1)
        Dex = _l2_exact(V, C, rows, ks)
        # per row, the (distance, cid)-lexicographic minimum: smallest
        # cid wins among equal rounded distances
        order = np.lexsort((cids[ks], Dex, rows))
        first = np.unique(rows[order], return_index=True)[1]
        return pd.Series(cids[ks[order[first]]])

    return df.withColumn(out_col, _assign(F.col(vec_col)))


def _l2_candidates(V: "np.ndarray", C: "np.ndarray", n_keep: int):
    """(rows, ks) index pairs of every centroid that could be among a
    row's ``n_keep`` nearest under the ROUNDED-exact comparison.

    Two-phase hybrid that keeps the oracle-exact semantics at BLAS
    speed (the naive ``((V[:,None,:]-C[None,:,:])**2).sum(axis=2)``
    materializes an N*K*dim temp — ~330 MB per 10k-row batch at K=64
    — and a per-centroid loop scales linearly with K: 44 s for the
    1M-vec assign at K=256):

    1. PRUNE with the matmul expansion ``|v|^2 - 2 v.c + |c|^2`` —
       fast but in a different IEEE op order, so only used to bound.
    2. Candidates = centroids within ``margin`` of the row's
       ``n_keep``-th smallest approximate distance. The margin has
       three terms: 1e-6 covers the 9-dp rounding tie window,
       1e-9·|thresh| covers relative error proportional to the
       distance itself, and 8·eps·(|v|² + max|c|²) covers the
       expansion's CANCELLATION error — for nearly-identical
       large-magnitude vectors the true distance is tiny while the
       matmul expansion subtracts huge intermediates, so its absolute
       error scales with the operand magnitudes, not the distance
       (ADVICE r7: without this term, coordinates ~1e5+ near a
       centroid could prune the true nearest list). The caller
       recomputes the EXACT per-element ``(v-c)^2`` sum (identical op
       order to the naive form, so the q51 gate stays bit-exact) only
       on this ~n_keep-sized set."""
    x2 = (V * V).sum(axis=1)
    c2 = (C * C).sum(axis=1)
    Dap = x2[:, None] - 2.0 * (V @ C.T) + c2[None, :]
    kk = min(n_keep, C.shape[0])
    thresh = np.partition(Dap, kk - 1, axis=1)[:, kk - 1]
    eps = np.finfo(np.float64).eps
    margin = 1e-6 + 1e-9 * np.abs(thresh) + 8.0 * eps * (x2 + (c2.max() if len(c2) else 0.0))
    return np.nonzero(Dap <= (thresh + margin)[:, None])


def _l2_exact(V: "np.ndarray", C: "np.ndarray", rows, ks) -> "np.ndarray":
    """Exact 9-dp-rounded squared L2 for the gathered (row, centroid)
    pairs — the same per-element op order as the naive broadcast form
    (last-axis pairwise sum), so values are bit-identical to it."""
    return round_half_up(((V[rows] - C[ks]) ** 2).sum(axis=1), 9)


def ivf_probes(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """One row per (vector, probed centroid): the query's ``nprobe``
    nearest codebook entries, nearest first. Vectorized pandas UDF
    (see ``ivf_assign``); (distance rounded to 9 dp, cid) lexicographic
    order matches the former struct array_sort."""
    cids = np.array([int(c) for c, _ in centroids], dtype=np.int64)
    C = np.array([v for _, v in centroids], dtype=np.float64)
    npr = int(nprobe)

    @F.pandas_udf("array<long>")
    def _probes(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack(vecs.to_numpy()).astype(np.float64)
        rows, ks = _l2_candidates(V, C, npr)
        Dex = _l2_exact(V, C, rows, ks)
        # per row: candidates sorted by (distance, cid), first nprobe
        order = np.lexsort((cids[ks], Dex, rows))
        rows_o, k_o = rows[order], ks[order]
        counts = np.bincount(rows_o, minlength=len(V))
        grp_start = np.concatenate(([0], np.cumsum(counts)[:-1]))
        pos = np.arange(len(rows_o)) - grp_start[rows_o]
        sel = pos < npr
        # rows_o is row-sorted, so per-row slices are positional
        out_cids = cids[k_o[sel]]
        split_at = np.cumsum(np.minimum(counts, npr))[:-1]
        return pd.Series(list(np.split(out_cids, split_at)))

    return df.withColumn("probe", F.explode(_probes(F.col(vec_col))))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_chunk_rows: int | None = 200_000,
    max_list: int | None = None,
    pre_assigned: bool = False,
) -> DataFrame:
    """IVF-flat ANN: coarse-quantize the corpus into inverted lists,
    probe the query's ``nprobe`` nearest lists, exact cosine rerank
    inside them. Same output contract as ``ann_topk``; recall is
    governed by (n_centroids, nprobe) instead of hyperplane count.

    ``pre_assigned=True`` takes a corpus that already carries a
    ``centroid_id`` column — the persisted-index path (q97): the
    assignment ran ONCE at write time and the corpus lives
    ``partitionBy(centroid_id)``, so a probe's ``isin`` filter on it
    becomes a PartitionFilter and un-probed lists are never even
    scanned (path-equivalent to assigning on the fly; unit-pinned).

    The codebook here is caller-supplied; ``train_centroids_kmeans``
    learns one (better recall), while any deterministic seed set (e.g.
    the first K corpus vectors) keeps the whole structure reproducible
    across engines — the plan shape is identical either way.

    ``max_list`` mirrors ``ann_topk``'s ``max_bucket`` (the r9 10M-vec
    rung: family-of-5 near-dup corpora concentrate millions of vectors
    in a few inverted lists, and rerank cost — 39-98 s of host-variant
    BLAS over mega-lists — is linear in list size). When set, each
    PROBED list keeps its ``max_list`` corpus rows with the smallest
    ``(xxhash64(id), id)`` — a deterministic uniform sample of the
    list. Right semantics for the mega-list regime (list-mates are
    near-duplicates; any members serve as neighbors), lossy for
    genuinely diverse overfull lists — grow the codebook first, and
    near-dup the corpus before indexing. None (default) keeps the
    exact-in-list contract; q51's gate pins that path."""
    assigned = corpus if pre_assigned else ivf_assign(corpus, centroids, vec_col)
    cb = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col("centroid_id").cast("long").alias("probe"),
    )
    qb = ivf_probes(queries, centroids, nprobe, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        "probe",
    )
    # prune un-probed inverted lists before the cogroup (same
    # queries ≪ corpus rationale as ann_topk's bucket prune): only
    # vectors in some query's nprobe lists cross the exchange
    cb = cb.join(F.broadcast(qb.select("probe").distinct()), "probe", "left_semi")
    if max_list is not None:
        # after the prune, so the sample window sorts only probed
        # lists; prune-then-cap ≡ cap-then-prune (cap is per-list)
        wl = Window.partitionBy("probe").orderBy(
            F.xxhash64("neighbor_id").asc(), F.col("neighbor_id").asc()
        )
        cb = (
            cb.withColumn("__ln", F.row_number().over(wl))
            .filter(F.col("__ln") <= int(max_list))
            .drop("__ln")
        )
    id_type = corpus.schema[id_col].dataType.simpleString()
    scored = _bucket_rerank_pairs(
        cb, qb, "probe", id_type, n_chunks=_derive_chunks(corpus, max_chunk_rows)
    ).dropDuplicates(
        # a (query, neighbor) pair can appear once per shared probe
        # list, always with the same rounded score
        ["query_id", "neighbor_id"]
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def train_centroids_kmeans(
    corpus: DataFrame,
    n_centroids: int = 16,
    seed: int = 7,
    sample_fraction: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Learn an IVF codebook with MLlib KMeans (fixed seed), optionally
    on a sample — at 100 TB you train on ~1M sampled vectors, never the
    full corpus. Returns the same (cid, vector) list ``ivf_topk``
    consumes; swap in for seed centroids when recall matters more than
    cross-engine reproducibility."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    df = corpus if sample_fraction is None else corpus.sample(sample_fraction, seed=seed)
    feats = df.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=n_centroids, seed=seed, maxIter=20).fit(feats)
    return [(i, list(map(float, c))) for i, c in enumerate(model.clusterCenters())]


def ann_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k evaluation of the hyperplane-LSH ANN against the exact
    brute-force ranking — the index-tuning harness (the 1M-vector rung
    showed WHY it must be first-class: 6 planes at 1M vecs "succeeds"
    with near-zero recall; this op is how that's caught before a
    training run consumes the neighbors).

    Per query: n_true = exact top-k size (< k only when the corpus is
    small), n_hit = |approx ∩ exact|, recall = n_hit / n_true. Both
    sides reuse the gated operators (``cosine_topk`` / ``ann_topk``)
    unchanged, so this is pure composition: a slim (query, neighbor)
    id join — intersection via inner join on the two id columns, then
    one tiny per-query aggregate. Queries ≪ corpus by the family's
    standing contract, so every post-topk table is k·|queries| rows."""
    truth = cosine_topk(corpus, queries, k, id_col, vec_col).select(
        "query_id", "neighbor_id"
    )
    approx = ann_topk(
        corpus, queries, k, n_planes, dim, id_col, vec_col
    ).select("query_id", "neighbor_id")
    n_true = truth.groupBy("query_id").agg(F.count("*").alias("n_true"))
    n_hit = (
        truth.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        n_true.join(n_hit, "query_id", "left")
        .select(
            "query_id",
            "n_true",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_true"), 6
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# persisted-IVF index maintenance (q99): append + drift gate
# ---------------------------------------------------------------------------

# Below this many sampled rows, a drift baseline/measurement falls
# back to the full scan: the mean-distance estimator's standard error
# on a few dozen rows is large enough to swing the drift ratio across
# the re-train threshold on pure noise (a 20-row baseline under the
# 5% default tripped the gate on a just-rebuilt 400-row unit index).
# At production scale the floor never binds — 5% of 10M rows is 500k.
DRIFT_MIN_SAMPLE_ROWS = 10_000


def _assigned_mean_dist(
    assigned: DataFrame, centroids, vec_col: str
) -> tuple[float | None, int]:
    """(mean L2 distance-to-assigned-centroid, row count) over
    ``assigned`` rows — the assignment-quality scalar the drift gate
    compares, plus the sample size backing it. JVM-side (broadcast
    codebook join + an array fold), one aggregate job; at 100 TB run
    it on a sample (``ivf_index_drift`` does). The mean is ``None``
    when ``assigned`` has no rows (a Bernoulli sample can come back
    empty on a small index) — callers must fall back to the unsampled
    scan rather than persist a 0.0 baseline, which would pin the
    drift ratio at inf and trip the re-train gate forever; the count
    lets them also reject too-small samples (DRIFT_MIN_SAMPLE_ROWS)."""
    spark = assigned.sparkSession
    cents = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        "centroid_id long, cvec array<double>",
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("cvec"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    row = (
        assigned.join(F.broadcast(cents), "centroid_id")
        .agg(
            F.avg(F.sqrt(d2)).alias("mean_dist"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    mean = float(row["mean_dist"]) if row["mean_dist"] is not None else None
    return mean, int(row["n"])


def ivf_index_write(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    path: str,
    vec_col: str = "embedding",
    mode: str = "overwrite",
    drift_sample: float | None = 0.05,
    n_files: int = 64,
) -> None:
    """Persist the q97 partitioned-IVF layout: assign ONCE, land
    ``partitionBy(centroid_id)`` so probe-time ``isin`` filters become
    literal INSET PartitionFilters (plans/catalog_pipeline.py q97).
    Also records the write-time assignment quality (mean
    distance-to-centroid) at ``{path}/_drift_baseline`` — the
    denominator of the drift gate. ``drift_sample`` bounds that
    measurement to a fraction of the just-written corpus — the
    DEFAULT, because at 100 TB the baseline must not cost a second
    full read-back scan at write time (r11 verdict item 5); an empty
    sample falls back to the full scan, and ``drift_sample=None``
    forces it. The baseline is write-time FROZEN on purpose: appends
    must not move the denominator they are measured against.
    The codebook itself is persisted at ``{path}/_centroids`` so a
    reader never depends on the caller re-supplying it."""
    spark = corpus.sparkSession
    assigned = ivf_assign(corpus, centroids, vec_col)
    # repartition ON the partition column first: without it every
    # write task emits a file into every list's directory (tasks x
    # lists files — the r10 probe-layout trap); with it files-per-dir
    # stays ~n_files/n_lists
    assigned.repartition(n_files, F.col("centroid_id")).write.mode(
        mode
    ).partitionBy("centroid_id").parquet(f"{path}/vectors")
    persisted = spark.read.parquet(f"{path}/vectors")
    sample = persisted if drift_sample is None else persisted.sample(
        drift_sample, seed=7
    )
    base, n = _assigned_mean_dist(sample, centroids, vec_col)
    if base is None or (sample is not persisted and n < DRIFT_MIN_SAMPLE_ROWS):
        # empty or too-small sample — fall back to the full scan
        base, _ = _assigned_mean_dist(persisted, centroids, vec_col)
        base = base or 0.0
    spark.createDataFrame(
        [(base,)], "mean_dist double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_drift_baseline")
    spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        "centroid_id long, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_centroids")


def ivf_index_append(
    delta: DataFrame,
    path: str,
    vec_col: str = "embedding",
    n_files: int = 64,
) -> None:
    """Register newly-embedded vectors in a persisted IVF layout — the
    similarity analog of ``dedup_index_append`` (operators/dedup.py):
    assign the DELTA against the index's OWN persisted codebook and
    append into the same ``partitionBy(centroid_id)`` directories.
    Cost tracks the delta (one assign pass + append writes into the
    touched lists); the existing index is never read, rewritten, or
    shuffled. Centroids do NOT move on append — that is the point
    (moving them would orphan every previously-assigned vector); when
    accumulated drift degrades assignment quality past the gate
    (``ivf_index_needs_retrain``), re-train and rebuild instead.

    Concurrency contract (r11 verdict item 5): SINGLE WRITER, and the
    append is NOT atomic — parquet files land per task, so a
    concurrent probe-pruned reader can observe a partially-appended
    list (fewer candidates in a touched partition than after commit;
    never corrupt rows, parquet files are whole-or-absent). That is
    the same contract ``streaming_incremental_dedup`` documents for
    the dedup index: one maintenance job owns the index path;
    readers needing a consistent cut read a path that is not being
    appended, or gate on their own completion marker. Making appends
    atomic at 100 TB means a manifest (Delta/Iceberg-style log) —
    out of scope for the plain-directory layout, stated here so
    nobody assumes otherwise. ``_drift_baseline`` is intentionally
    not touched by appends (write-time frozen — the gate's
    denominator)."""
    spark = delta.sparkSession
    centroids = [
        (int(r["centroid_id"]), [float(x) for x in r["cvec"]])
        for r in spark.read.parquet(f"{path}/_centroids").collect()
    ]
    ivf_assign(delta, centroids, vec_col).repartition(
        n_files, F.col("centroid_id")
    ).write.mode("append").partitionBy("centroid_id").parquet(
        f"{path}/vectors"
    )


def ivf_index_drift(
    spark,
    path: str,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> dict:
    """Assignment-quality drift of a persisted IVF index: current mean
    distance-to-assigned-centroid (over a ``sample_fraction`` when
    given — at 100 TB you never measure drift on the full corpus)
    relative to the write-time baseline. Returns ``{"mean_dist",
    "baseline", "ratio"}``; ratio grows past 1.0 as appended vectors
    land ever farther from the frozen codebook."""
    centroids = [
        (int(r["centroid_id"]), [float(x) for x in r["cvec"]])
        for r in spark.read.parquet(f"{path}/_centroids").collect()
    ]
    cur = spark.read.parquet(f"{path}/vectors")
    sampled = cur if sample_fraction is None else cur.sample(sample_fraction, seed=7)
    mean_dist, n = _assigned_mean_dist(sampled, centroids, vec_col)
    if mean_dist is None or (
        sampled is not cur and n < DRIFT_MIN_SAMPLE_ROWS
    ):
        # empty or too-small sample — fall back to the full scan
        mean_dist, _ = _assigned_mean_dist(cur, centroids, vec_col)
        mean_dist = mean_dist or 0.0
    base = float(
        spark.read.parquet(f"{path}/_drift_baseline").collect()[0]["mean_dist"]
    )
    ratio = mean_dist / base if base > 0 else float("inf") if mean_dist else 1.0
    return {"mean_dist": mean_dist, "baseline": base, "ratio": ratio}


def ivf_index_needs_retrain(
    spark,
    path: str,
    threshold: float = 1.25,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> bool:
    """The drift GATE: True when the index's mean distance-to-centroid
    has grown past ``threshold`` × the write-time baseline — the
    signal to re-train the codebook (``train_centroids_kmeans`` on a
    sample) and rebuild via ``ivf_index_write``. A daily-embedding
    pipeline calls this after ``ivf_index_append``; rebuilds are
    RARE-cadence batch jobs, appends are the steady state. Rebuild
    into a FRESH path and swap (Spark scans lazily — an in-place
    overwrite whose source is the index itself deletes files
    mid-scan; pinned by the drift-gate unit)."""
    return (
        ivf_index_drift(spark, path, vec_col, sample_fraction)["ratio"]
        > threshold
    )

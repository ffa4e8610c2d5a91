"""Catalog batch 2 — large-scale data-pipeline operators (dedup,
text analysis, similarity search) as oracle-checked queries over the
``documents`` / ``embeddings`` tables.

Oracle SQL for the hash-based operators is GENERATED from the same
parameters as the Spark expressions (functions/hashing.py), so both
engines compute identical integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from strat_backtest_spark.functions.hashing import P, md5_hash_sql, perm_params
from strat_backtest_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from strat_backtest_spark.operators.similarity import ann_topk, cosine_topk, _plane_weight
from strat_backtest_spark.operators.text_analysis import (
    LANG_MARKERS,
    STOPWORDS,
    predict_language,
    quality_score,
    with_token_counts,
)
from strat_backtest_spark.plans.catalog import _t, query

# ---------------------------------------------------------------------------
# shared SQL fragments (must mirror the Spark operators exactly)
# ---------------------------------------------------------------------------

def _ws_split_sql(expr: str) -> str:
    """DuckDB mirror of ``whitespace_tokens`` / ``ascii_tokens``: split
    on Java's ASCII ``\\s`` set. RE2's ``\\s`` leaves out the vertical
    tab (U+000B) that Java and Python ``re.ASCII`` split on, hence the
    explicit ``\\v``."""
    return f"list_filter(string_split_regex({expr}, '[\\s\\v]+'), t -> t <> '')"


_TOKS = _ws_split_sql("text")
_TOKS_LOWER = _ws_split_sql("lower(text)")


def _shingle_hashes_sql(n: int = 3) -> str:
    """DuckDB mirror of operators.dedup._py_shingle_hashes."""
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return (
        f"list_distinct(list_transform("
        f"CASE WHEN len(toks) >= {n} THEN range(1, len(toks) - {n - 2}) "
        f"ELSE [] END, i -> {md5_hash_sql(parts)}))"
    )


# ===========================================================================
# Deduplication
# ===========================================================================

@query(
    "q21_dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id, count(*) AS dup_count
    FROM documents GROUP BY md5(text)
    """,
)
def q21_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_t(spark, sf_dir, "documents"))


_MINHASH_K = 8


def _minhash_sigs_cte() -> str:
    sig_cols = ", ".join(
        f"list_min(list_transform(sh, x -> (x * {a} + {b}) % {P})) AS sig_{i}"
        for i, (a, b) in enumerate(perm_params(_MINHASH_K))
    )
    return f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    shing AS (SELECT doc_id, {_shingle_hashes_sql(3)} AS sh FROM tok),
    sigs AS (SELECT doc_id, {sig_cols} FROM shing)
    """


@query(
    "q22_minhash_signatures",
    oracle=_minhash_sigs_cte() + "SELECT * FROM sigs",
)
def q22_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=8) over word-3-shingles — map-only."""
    return minhash_signatures(_t(spark, sf_dir, "documents"), k=_MINHASH_K)


@query(
    "q23_minhash_lsh_pairs",
    oracle=_minhash_sigs_cte()
    + f"""
    , banded AS (
      SELECT doc_id, [sig_0, sig_1, sig_2, sig_3, sig_4, sig_5, sig_6, sig_7] AS sig,
             b.band,
             CASE b.band
               WHEN 0 THEN sig_0::VARCHAR || '_' || sig_1::VARCHAR
               WHEN 1 THEN sig_2::VARCHAR || '_' || sig_3::VARCHAR
               WHEN 2 THEN sig_4::VARCHAR || '_' || sig_5::VARCHAR
               ELSE        sig_6::VARCHAR || '_' || sig_7::VARCHAR
             END AS band_key
      FROM sigs, (SELECT unnest(range(4)) AS band) b
      QUALIFY count(*) OVER (PARTITION BY band, band_key) <= 2000
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) / 8.0, 6) AS est_jaccard
    FROM banded a JOIN banded b USING (band, band_key)
    WHERE a.doc_id < b.doc_id
    """,
)
def q23_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding (4 bands × 2 rows) → near-dup candidate pairs with
    signature-estimated Jaccard. Degenerate buckets beyond 2000 docs
    are dropped on both engines (QUALIFY mirror in the oracle)."""
    sigs = minhash_signatures(_t(spark, sf_dir, "documents"), k=_MINHASH_K)
    return lsh_candidate_pairs(sigs, k=_MINHASH_K, bands=4, max_bucket_size=2000)


def _simhash_sql(bits: int = 32) -> str:
    tok_hash = md5_hash_sql("t")
    terms = " + ".join(
        f"CASE WHEN 2 * len(list_filter(h, x -> (x >> {j}) & 1 = 1)) > n "
        f"THEN {2 ** j}::BIGINT ELSE 0::BIGINT END"
        for j in range(bits)
    )
    return f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    h AS (SELECT doc_id, list_transform(toks, t -> {tok_hash}) AS h, len(toks) AS n FROM tok)
    SELECT doc_id, ({terms}) AS simhash FROM h
    """


@query("q24_simhash", oracle=_simhash_sql(32))
def q24_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document — near-dup via Hamming distance."""
    return simhash(_t(spark, sf_dir, "documents"), bits=32)


@query(
    "q25_ngram_jaccard",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, source, {_TOKS} AS toks FROM documents),
    shing AS (SELECT doc_id, lang, source, {_shingle_hashes_sql(2)} AS sh FROM tok)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
                 THEN len(list_intersect(a.sh, b.sh))
                      / len(list_distinct(list_concat(a.sh, b.sh)))
                 ELSE 0 END, 6) AS jaccard
    FROM shing a JOIN shing b USING (lang, source)
    WHERE a.doc_id < b.doc_id
      AND round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
            THEN len(list_intersect(a.sh, b.sh))
                 / len(list_distinct(list_concat(a.sh, b.sh)))
            ELSE 0 END, 6) >= 0.05
    """,
)
def q25_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-2-gram Jaccard within (lang, source) blocks,
    thresholded — the verification stage downstream of LSH blocking."""
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        group_cols=["lang", "source"],
        n=2,
        min_jaccard=0.05,
    )


# ===========================================================================
# Text analysis
# ===========================================================================

@query(
    "q26_token_counts",
    oracle=rf"""
    SELECT doc_id,
           len({_TOKS}) AS n_tokens,
           len(regexp_extract_all(lower(text), '([a-z0-9]+|[^a-z0-9\s\v])', 1)) AS n_bpe_tokens
    FROM documents
    """,
)
def q26_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_token_counts(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "n_bpe_tokens"
    )


@query(
    "q27_quality_score",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks, length(text) AS n_chars,
             len(list_filter(string_split(text, ''), c -> regexp_matches(c, '[^\w\s\v]'))) AS n_punct
      FROM documents
    ), s AS (
      SELECT doc_id, len(toks) AS n_tokens, n_chars, n_punct,
             len(list_filter(toks, t -> list_contains({list(STOPWORDS)!r}, lower(t)))) AS n_stop
      FROM t
    )
    SELECT doc_id, n_tokens,
           round(CASE WHEN n_tokens > 0 THEN (n_chars - (n_tokens - 1)) / n_tokens END, 6) AS mean_token_len,
           round(CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0 END, 6) AS stopword_ratio,
           round(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0 END, 6) AS punct_ratio,
           round(least(n_tokens / 100.0, 1.0) * 0.4
                 + (CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0 END) * 0.3
                 + (1 - CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0 END) * 0.3, 6) AS quality_score
    FROM s
    """,
)
def q27_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        "n_tokens",
        "mean_token_len",
        "stopword_ratio",
        "punct_ratio",
        "quality_score",
    )


def _langid_sql() -> str:
    langs = list(LANG_MARKERS)
    score_cols = ", ".join(
        f"len(list_filter(toks, t -> list_contains({list(ms)!r}, t))) AS score_{lang}"
        for lang, ms in LANG_MARKERS.items()
    )
    clauses = []
    for k, lang in enumerate(langs):
        conds = [f"score_{lang} > 0"] + [
            f"score_{lang} >= score_{other}" for other in langs[k + 1 :]
        ]
        clauses.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(clauses) + " ELSE 'und' END"
    scores = ", ".join(f"score_{lang}" for lang in langs)
    return f"""
    WITH tok AS (SELECT doc_id, lang, {_TOKS_LOWER} AS toks FROM documents),
    s AS (SELECT doc_id, lang, {score_cols} FROM tok)
    SELECT doc_id, lang, {scores}, {case} AS pred_lang FROM s
    """


@query("q28_langid", oracle=_langid_sql())
def q28_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language ID with deterministic cascade-argmax."""
    return predict_language(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        "lang",
        *[f"score_{lang}" for lang in LANG_MARKERS],
        "pred_lang",
    )


@query(
    "q29_fingerprint",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           list_min(list_transform(
             CASE WHEN len(toks) >= 3 THEN range(1, len(toks) - 1) ELSE [] END,
             i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS fingerprint
    FROM tok
    """,
)
def q29_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: lexicographic min of md5 over word
    3-shingles (a 1-permutation MinHash on a cryptographic hash);
    Arrow-batched hashing (operators/text_analysis.py
    document_fingerprint — 503 s → 20 s at the 5M-doc rung)."""
    from strat_backtest_spark.operators.text_analysis import document_fingerprint

    return document_fingerprint(_t(spark, sf_dir, "documents"), n=3)


# ===========================================================================
# Similarity search
# ===========================================================================

_DOT = "list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))"
_NORM_A = "sqrt(list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))"
_NORM_B = "sqrt(list_sum(list_transform(range(1, 65), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))"


@query(
    "q30_cosine_topk",
    oracle=f"""
    WITH scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
             round({_DOT} / ({_NORM_B} * {_NORM_A}), 6) AS cos_sim
      FROM embeddings a, embeddings b
      WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q30_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for the first 10 vectors as
    queries — the ANN correctness baseline."""
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _bucket_sql(alias: str, n_planes: int = 6, dim: int = 64, plane_offset: int = 0) -> str:
    plane_terms = []
    for p in range(plane_offset, plane_offset + n_planes):
        terms = " + ".join(
            f"{alias}.embedding[{d + 1}]::DOUBLE * {float(_plane_weight(p, d))}"
            for d in range(dim)
            if _plane_weight(p, d) != 0
        )
        plane_terms.append(
            f"CASE WHEN ({terms}) > 0 THEN {2 ** (p - plane_offset)}::BIGINT ELSE 0::BIGINT END"
        )
    return " + ".join(plane_terms)


@query(
    "q31_ann_lsh_topk",
    oracle=f"""
    WITH cb AS (SELECT a.vec_id, a.embedding, {_bucket_sql('a')} AS bucket FROM embeddings a),
    scored AS (
      SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
             round({_DOT} / ({_NORM_B} * {_NORM_A}), 6) AS cos_sim
      FROM cb a JOIN cb b USING (bucket)
      WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q31_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: random-hyperplane LSH bucket restriction + exact rerank —
    the scale path (bucket becomes the partition key at 100 TB)."""
    emb = _t(spark, sf_dir, "embeddings")
    return ann_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@query(
    "q47_embedding_neardup",
    oracle=f"""
    WITH cb AS (
      SELECT 0 AS tbl, a.vec_id, a.embedding, {_bucket_sql('a', plane_offset=0)} AS bucket FROM embeddings a
      UNION ALL
      SELECT 1 AS tbl, a.vec_id, a.embedding, {_bucket_sql('a', plane_offset=6)} AS bucket FROM embeddings a
      UNION ALL
      SELECT 2 AS tbl, a.vec_id, a.embedding, {_bucket_sql('a', plane_offset=12)} AS bucket FROM embeddings a
    ), capped AS (
      SELECT * FROM cb QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= 2000
    )
    SELECT DISTINCT id_a, id_b, cos_sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS cos_sim
      FROM capped a JOIN capped b ON a.tbl = b.tbl AND a.bucket = b.bucket
      WHERE a.vec_id < b.vec_id
    ) WHERE cos_sim >= 0.18
    """,
)
def q47_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane-LSH bucketed
    self-join — the fifth dedup family (exact / MinHash-LSH / SimHash /
    n-gram Jaccard / embedding-cosine). Candidates come only from
    shared LSH buckets; exact cosine filters inside buckets.

    ``n_tables=3`` (OR-amplification) because single-table recall at
    the 0.18 threshold boundary is only a few percent (docstring math
    in ``embedding_neardup_pairs``). The oracle mirrors all three hash
    tables AND the ``max_bucket=2000`` hot-bucket cap (QUALIFY), so
    the gate cannot silently diverge when a skewed sign-bit bucket
    exceeds the cap at larger scale factors."""
    from strat_backtest_spark.operators.similarity import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, threshold=0.18, n_tables=3)


_IVF_K = 16      # seed centroids: embeddings with vec_id < 16
_IVF_NPROBE = 2

_L2_AC = "round(list_sum(list_transform(range(1, 65), i -> (a.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE) * (a.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE))), 9)"


# Shared by q51 (assign-on-the-fly) and q97 (persisted partitioned
# corpus): the IVF result is a function of (codebook, corpus, queries)
# only — where the assignment ran must not change a single value.
_IVF_ORACLE = f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {_IVF_K}
    ), dist AS (
      SELECT a.vec_id, c.cid, {_L2_AC} AS d
      FROM embeddings a, cents c
    ), ranked AS (
      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rnk
      FROM dist
    ), corpus AS (
      SELECT vec_id, cid FROM ranked WHERE rnk = 1
    ), probes AS (
      SELECT vec_id, cid FROM ranked WHERE rnk <= {_IVF_NPROBE} AND vec_id < 10
    ), scored AS (
      SELECT DISTINCT q.vec_id AS query_id, co.vec_id AS neighbor_id,
             round({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS cos_sim
      FROM probes q
      JOIN corpus co ON co.cid = q.cid AND co.vec_id <> q.vec_id
      JOIN embeddings a ON a.vec_id = co.vec_id
      JOIN embeddings b ON b.vec_id = q.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@query("q51_ivf_topk", oracle=_IVF_ORACLE)
def q51_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: deterministic seed codebook (first 16 vectors),
    corpus coarse-quantized into inverted lists (at scale: the
    partition key), queries probe their 2 nearest lists, exact cosine
    rerank. Alternative scale path to hyperplane LSH (q31); swap in
    train_centroids_kmeans for a learned codebook."""
    from strat_backtest_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    cents = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < _IVF_K).orderBy("vec_id").collect()
    ]
    return ivf_topk(emb, emb.filter(F.col("vec_id") < 10), cents, k=5, nprobe=_IVF_NPROBE)


@query(
    "q54_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE {md5_hash_sql("doc_id::VARCHAR")} % 1000000 <
          CASE lang WHEN 'en' THEN 300000 WHEN 'de' THEN 800000 ELSE 1000000 END
    """,
)
def q54_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus rebalancing: hash-gate sampling with a
    per-language rate (downsample dominant 'en' to 30%, 'de' to 80%,
    keep the tail). Decisions are a pure function of doc identity —
    stable under repartitioning/retries, recomputable by any engine;
    map-only, no shuffle."""
    from strat_backtest_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs, rates={"en": 0.3, "de": 0.8}, strata_col="lang", default_rate=1.0
    ).select("doc_id", "lang")


@query(
    "q55_curation_pipeline",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks, length(text) AS n_chars,
             len(list_filter(string_split(text, ''), c -> regexp_matches(c, '[^\w\s\v]'))) AS n_punct
      FROM documents
    ), s AS (
      SELECT doc_id, len(toks) AS n_tokens, n_chars, n_punct,
             len(list_filter(toks, t -> list_contains({list(STOPWORDS)!r}, lower(t)))) AS n_stop
      FROM t
    ), scored AS (
      SELECT doc_id,
             round(least(n_tokens / 100.0, 1.0) * 0.4
                   + (CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0 END) * 0.3
                   + (1 - CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0 END) * 0.3, 6) AS quality_score
      FROM s
    ), kept AS (
      SELECT d.doc_id, d.lang, d.text, sc.quality_score
      FROM documents d JOIN scored sc USING (doc_id)
      WHERE sc.quality_score >= 0.5
    ), dd AS (
      SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS canon FROM kept
    )
    SELECT doc_id, lang, quality_score FROM dd
    WHERE doc_id = canon
      AND {md5_hash_sql("doc_id::VARCHAR")} % 1000000 <
          CASE lang WHEN 'en' THEN 500000 ELSE 1000000 END
    """,
)
def q55_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation operators COMPOSED, the way a real corpus run
    chains them: quality gate (>= 0.5) -> exact dedup to the canonical
    (min-id) copy -> reproducible per-language rebalance (en halved).
    Each stage is map-only or one digest shuffle; the composition adds
    no driver round-trips."""
    from strat_backtest_spark.operators.sampling import stratified_sample
    from strat_backtest_spark.operators.text_analysis import quality_score

    docs = _t(spark, sf_dir, "documents")
    kept = quality_score(docs).filter(F.col("quality_score") >= 0.5)
    w = Window.partitionBy(F.md5(F.col("text").cast("binary")))
    canon = kept.withColumn("__canon", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("__canon")
    )
    out = stratified_sample(canon, rates={"en": 0.5}, strata_col="lang", default_rate=1.0)
    return out.select("doc_id", "lang", "quality_score")


def _q56_oracle() -> str:
    # reuse q23's pair generation verbatim; min-label closure on top
    pairs_sql = CATALOG["q23_minhash_lsh_pairs"].oracle
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    und AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT src, src FROM und
      UNION
      SELECT src, dst FROM und
      UNION
      SELECT reach.id, und.dst FROM reach JOIN und ON reach.r = und.src
    )
    SELECT id, min(r) AS component FROM reach GROUP BY id
    """


from strat_backtest_spark.plans.catalog import CATALOG  # noqa: E402


@query("q56_dedup_components", oracle=_q56_oracle())
def q56_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS: connected components over the MinHash-LSH
    candidate pairs by iterative min-label propagation (the genuinely
    iterative operator class; oracle = recursive-CTE transitive
    closure). Every node gets the smallest doc id in its component."""
    from strat_backtest_spark.operators.dedup import connected_components

    pairs = CATALOG["q23_minhash_lsh_pairs"].fn(spark, sf_dir)
    return connected_components(pairs)


@query(
    "q57_kmv_distinct_users",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT event_type, {md5_hash_sql("user_id::VARCHAR")} AS h
      FROM events
    ), topk AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hashed
    )
    SELECT event_type,
           CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                ELSE round(63.0 * 1000000007.0 / max(h), 4) END AS est_distinct,
           count(*) < 64 AS is_exact
    FROM topk WHERE rn <= 64 GROUP BY event_type
    """,
)
def q57_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketch (k=64) of users per event_type — an
    approximation the gate can check EXACTLY because the hash family is
    engine-portable. Production-at-scale twin: approx_count_distinct
    (HLL++); this one trades JVM-native speed for cross-engine
    reproducibility and mergeable sketch states."""
    from strat_backtest_spark.operators.sketches import kmv_distinct

    ev = _t(spark, sf_dir, "events")
    return kmv_distinct(ev, key_col="user_id", group_cols=["event_type"], k=64)


@query(
    "q58_simhash_neardup",
    oracle=f"""
    WITH sh AS (SELECT doc_id, simhash FROM ({_simhash_sql(32)})),
    banded AS (
      SELECT doc_id, simhash, j.band,
             (simhash >> (j.band * 8)) & 255 AS band_val
      FROM sh, (SELECT unnest(range(4)) AS band) j
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM banded a JOIN banded b USING (band, band_val)
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= 6
    """,
)
def q58_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the pigeonhole guarantee relaxed to
    a probabilistic radius: 4 bands of 8 bits, Hamming ≤ 6 (exact
    recall up to 3; banded recall beyond). One shuffle on
    (band, band_val); Hamming check = bit_count(xor) on longs."""
    from strat_backtest_spark.operators.dedup import hash_neardup_pairs, simhash

    docs = _t(spark, sf_dir, "documents")
    return hash_neardup_pairs(
        simhash(docs, 32), "simhash", bits=32, bands=4, max_hamming=6
    )


@query(
    "q60_decontaminate",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    shing AS (SELECT doc_id, {_shingle_hashes_sql(3)} AS sh FROM tok),
    docs AS (SELECT doc_id, unnest(sh) AS h FROM shing),
    bench AS (SELECT DISTINCT h FROM docs WHERE doc_id % 20 = 0),
    tot AS (SELECT doc_id, count(*) AS n FROM docs GROUP BY doc_id),
    hits AS (
      SELECT d.doc_id, count(*) AS nh
      FROM docs d JOIN bench USING (h) GROUP BY d.doc_id
    )
    SELECT doc_id, round(coalesce(nh, 0) / n, 6) AS contamination
    FROM tot LEFT JOIN hits USING (doc_id)
    WHERE round(coalesce(nh, 0) / n, 6) >= 0.2
    """,
)
def q60_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination screening: every 20th document stands
    in for the benchmark corpus; flag documents whose distinct
    3-shingle hashes overlap it ≥ 20%. The benchmark's distinct
    shingle set broadcasts (eval sets are tiny next to a training
    corpus); text never shuffles."""
    from strat_backtest_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return decontaminate(docs, bench, n=3, threshold=0.2)


@query(
    "q61_repetition_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
                  ELSE [] END AS grams
      FROM t
    )
    SELECT doc_id,
           CASE WHEN len(grams) > 0
                THEN round(1.0 - len(list_distinct(grams)) / len(grams), 6)
                ELSE 0.0 END AS repetition
    FROM g
    """,
)
def q61_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-2-gram fraction per document — the web-curation
    boilerplate/spam heuristic. Map-only, one tokens pass."""
    from strat_backtest_spark.operators.text_analysis import repetition_score

    return repetition_score(_t(spark, sf_dir, "documents"), n=2)


@query(
    "q62_token_quantiles",
    oracle=f"""
    WITH t AS (SELECT source, len({_TOKS}) AS n_tokens FROM documents)
    SELECT source,
           round(quantile_cont(n_tokens, 0.5), 6)  AS p50,
           round(quantile_cont(n_tokens, 0.9), 6)  AS p90,
           round(quantile_cont(n_tokens, 0.99), 6) AS p99,
           count(*) AS n_docs
    FROM t GROUP BY source
    """,
)
def q62_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length distribution (exact interpolated
    quantiles) — the profile a mixture-weighting / length-filtering
    stage reads. Spark's exact `percentile` matches DuckDB's
    quantile_cont interpolation; at 100 TB swap in approx_percentile
    and a documented error bound."""
    docs = _t(spark, sf_dir, "documents")
    from strat_backtest_spark.operators.text_analysis import tokens_col

    t = docs.select("source", F.size(tokens_col("text")).alias("n_tokens"))
    return t.groupBy("source").agg(
        F.round(F.expr("percentile(n_tokens, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_tokens, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(n_tokens, 0.99)"), 6).alias("p99"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "q63_stream_dedup",
    oracle="SELECT DISTINCT md5(text) AS text_hash FROM documents",
)
def q63_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the documents STREAM via Structured Streaming's
    native dropDuplicates state (digests only — text never enters
    state or shuffle). Equals batch DISTINCT on the finite replay."""
    from strat_backtest_spark.streaming.documents_stream import (
        streaming_exact_dedup,
    )

    return streaming_exact_dedup(spark, sf_dir)


@query(
    "q66_chunking",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    n AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) <= 64 THEN 1
                  ELSE ceil((len(toks) - 64) / 48.0)::INT + 1 END AS nc
      FROM t
    ), ex AS (
      SELECT doc_id, toks, unnest(range(nc)) AS chunk_id FROM n
    )
    SELECT doc_id, chunk_id::INT AS chunk_id,
           array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ') AS chunk_text,
           len(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS n_tokens
    FROM ex
    """,
)
def q66_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 64-token windows, 16-token overlap
    (stride 48), ragged last window — map-only explode of chunk
    indices over one tokens pass."""
    from strat_backtest_spark.operators.text_analysis import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    )


@query(
    "q67_embedding_profile",
    oracle="""
    SELECT label,
           count(*) AS n_vectors,
           round(avg(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))), 6) AS avg_norm,
           round(avg(embedding[1]::DOUBLE), 6) AS avg_dim0
    FROM embeddings GROUP BY label
    """,
)
def q67_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-corpus profile (count, mean L2 norm, mean
    first component) — the sanity stage before ANN index build or
    class-balanced sampling. One map-side-combining agg; the norm is
    the same HOF fold the similarity operators use."""
    from strat_backtest_spark.operators.similarity import _norm

    emb = _t(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg(_norm(F.col("embedding"))), 6).alias("avg_norm"),
        F.round(F.avg(F.element_at("embedding", 1).cast("double")), 6).alias("avg_dim0"),
    )


@query(
    "q68_dedup_apply",
    oracle=f"""
    WITH cc AS ({_q56_oracle()})
    SELECT d.doc_id FROM documents d
    LEFT JOIN cc ON d.doc_id = cc.id AND cc.id <> cc.component
    WHERE cc.id IS NULL
    """,
)
def q68_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply near-dup groups to the corpus: drop every non-canonical
    member of a connected component (the smallest doc id survives),
    keep all untouched documents — the step that actually emits the
    deduplicated training corpus. Anti-join on doc ids only; document
    text moves nowhere."""
    cc = CATALOG["q56_dedup_components"].fn(spark, sf_dir)
    removed = cc.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias("doc_id")
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # no broadcast hint: the removed set is CORPUS-PROPORTIONAL (every
    # non-canonical duplicate), so forcing a broadcast would OOM at
    # scale — AQE still picks broadcast while it is actually small
    return docs.join(removed, "doc_id", "left_anti")


@query(
    "q69_curation_end_to_end",
    oracle=f"""
    WITH cc AS ({_q56_oracle()}),
    surv AS (
      SELECT d.doc_id, d.text FROM documents d
      LEFT JOIN cc ON d.doc_id = cc.id AND cc.id <> cc.component
      WHERE cc.id IS NULL
    ),
    tok_all AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh_all AS (SELECT doc_id, {_shingle_hashes_sql(3)} AS sh FROM tok_all),
    docs_h AS (SELECT doc_id, unnest(sh) AS h FROM sh_all),
    bench AS (SELECT DISTINCT h FROM docs_h WHERE doc_id % 20 = 0),
    tot AS (SELECT doc_id, count(*) AS n FROM docs_h GROUP BY doc_id),
    hits AS (
      SELECT d.doc_id, count(*) AS nh FROM docs_h d JOIN bench USING (h)
      GROUP BY d.doc_id
    ),
    contaminated AS (
      SELECT doc_id FROM tot LEFT JOIN hits USING (doc_id)
      WHERE round(coalesce(nh, 0) / n, 6) >= 0.5
    ),
    kept AS (
      SELECT s.doc_id, s.text FROM surv s
      LEFT JOIN contaminated c USING (doc_id) WHERE c.doc_id IS NULL
    ),
    kt AS (SELECT doc_id, {_TOKS} AS toks FROM kept),
    kn AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) <= 64 THEN 1
                  ELSE ceil((len(toks) - 64) / 48.0)::INT + 1 END AS nc
      FROM kt
    ), ex AS (
      SELECT doc_id, toks, unnest(range(nc)) AS chunk_id FROM kn
    )
    SELECT doc_id, chunk_id::INT AS chunk_id,
           len(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS n_tokens
    FROM ex
    """,
)
def q69_curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE lazy plan: near-dup groups →
    drop non-canonical members → drop benchmark-contaminated docs
    (≥50% shingle overlap with the stand-in eval set) → chunk the
    survivors into 64-token context windows. Every stage is the
    already-oracled operator; the value here is that the composition
    stays a single Catalyst plan — no driver round-trips between
    stages — and the chained DuckDB mirror still hash-matches."""
    from strat_backtest_spark.operators.dedup import decontaminate
    from strat_backtest_spark.operators.text_analysis import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    cc = CATALOG["q56_dedup_components"].fn(spark, sf_dir)
    removed = cc.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias("doc_id")
    )
    # no broadcast hints: removed/contaminated are corpus-proportional
    # (see q68) — AQE broadcasts them while they are genuinely small
    surv = docs.join(removed, "doc_id", "left_anti")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    contaminated = decontaminate(docs, bench, n=3, threshold=0.5).select("doc_id")
    kept = surv.join(contaminated, "doc_id", "left_anti")
    return chunk_documents(kept, chunk_tokens=64, overlap=16).select(
        "doc_id", "chunk_id", "n_tokens"
    )


@query(
    "q70_dup_rate_by_source",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_unique,
           round(1.0 - count(DISTINCT md5(text)) / count(*), 6) AS dup_rate
    FROM documents GROUP BY source
    """,
)
def q70_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication profile per source — the report a curation operator
    reads to decide which feeds need aggressive dedup. Digest-only
    distinct (16-byte md5), one aggregation."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(F.col("text").cast("binary"))).alias("n_unique"),
        F.round(
            F.lit(1.0)
            - F.countDistinct(F.md5(F.col("text").cast("binary"))) / F.count(F.lit(1)),
            6,
        ).alias("dup_rate"),
    )


# ===========================================================================
# Round-8 additions: PII scrub, corpus-wide dup-n-gram profile,
# semantic dedup apply
# ===========================================================================

# Deterministic PII augmentation shared by the Spark entry and its
# mirror: the synthetic documents carry no PII, so every third doc gets
# an email + phone + IPv4 appended — derived from doc_id on BOTH
# engines — and the scrub operator is exercised against text that
# actually contains each pattern class (and against untouched docs,
# which must pass through byte-identical).
_PII_AUG_SQL = """
    CASE WHEN doc_id % 3 = 0 THEN
      text || ' contact user' || doc_id::VARCHAR || '@example.com'
           || ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-1234'
           || ' host 10.0.' || (doc_id % 256)::VARCHAR || '.7'
    ELSE text END
"""


_PII_ORACLE = f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents),
    s1 AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_emails,
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g') AS text
      FROM aug
    ), s2 AS (
      SELECT doc_id, n_emails,
             len(regexp_extract_all(text, '\\d{{3}}-\\d{{3}}-\\d{{4}}')) AS n_phones,
             regexp_replace(text, '\\d{{3}}-\\d{{3}}-\\d{{4}}', '<PHONE>', 'g') AS text
      FROM s1
    )
    SELECT doc_id, n_emails, n_phones,
           len(regexp_extract_all(text, '\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}')) AS n_ips,
           md5(regexp_replace(text, '\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}', '<IP>', 'g')) AS scrub_hash
    FROM s2
    """


@query(
    "q74_pii_scrub",
    oracle=_PII_ORACLE,
)
def q74_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction as a pure-codegen map stage (operators/pii.py):
    emails → phones → IPv4 scrubbed sequentially with per-class
    counts; result proven by the md5 of the fully scrubbed text. The
    patterns are restricted to the Java/RE2-identical regex subset so
    the DuckDB mirror is verbatim."""
    from strat_backtest_spark.operators.pii import pii_scrub

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.select(
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
    scrubbed = pii_scrub(aug)
    return scrubbed.select(
        "doc_id", "n_emails", "n_phones", "n_ips",
        F.md5(F.col("text").cast("binary")).alias("scrub_hash"),
    )


@query(
    "q75_dup_ngram_fraction",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_shingle_hashes_sql(3)} AS sh FROM tok),
    docs_h AS (SELECT doc_id, unnest(sh) AS h FROM sh),
    freq AS (SELECT h, count(*) AS nd FROM docs_h GROUP BY h)
    SELECT doc_id, count(*) AS n_shingles,
           round(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) / count(*), 6) AS dup_fraction
    FROM docs_h JOIN freq USING (h)
    GROUP BY doc_id
    """,
)
def q75_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-3-gram fraction per doc (the C4-style
    boilerplate signal): one Arrow shingle pass, hash-keyed frequency
    agg, ids/hashes-only join back — document text never shuffles
    (operators/dedup.dup_ngram_stats)."""
    from strat_backtest_spark.operators.dedup import dup_ngram_stats

    docs = _t(spark, sf_dir, "documents")
    return dup_ngram_stats(docs, n=3, min_docs=2)


def _q76_pairs_sql(threshold: float) -> str:
    """q47's three-table capped-bucket near-dup pair SQL at an
    arbitrary cosine threshold (q47 pins 0.18; semantic dedup wants a
    tighter 0.35 so components stay dedup-sized)."""
    return f"""
    WITH cb AS (
      SELECT 0 AS tbl, a.vec_id, a.embedding, {_bucket_sql('a', plane_offset=0)} AS bucket FROM embeddings a
      UNION ALL
      SELECT 1 AS tbl, a.vec_id, a.embedding, {_bucket_sql('a', plane_offset=6)} AS bucket FROM embeddings a
      UNION ALL
      SELECT 2 AS tbl, a.vec_id, a.embedding, {_bucket_sql('a', plane_offset=12)} AS bucket FROM embeddings a
    ), capped AS (
      SELECT * FROM cb QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= 2000
    )
    SELECT DISTINCT id_a, id_b FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS cos_sim
      FROM capped a JOIN capped b ON a.tbl = b.tbl AND a.bucket = b.bucket
      WHERE a.vec_id < b.vec_id
    ) WHERE cos_sim >= {threshold}
    """


@query(
    "q76_semantic_dedup_apply",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_q76_pairs_sql(0.35)}),
    und AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT src, src FROM und
      UNION
      SELECT src, dst FROM und
      UNION
      SELECT reach.id, und.dst FROM reach JOIN und ON reach.r = und.src
    ),
    cc AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
    SELECT e.vec_id FROM embeddings e
    LEFT JOIN cc ON e.vec_id = cc.id AND cc.id <> cc.component
    WHERE cc.id IS NULL
    """,
)
def q76_semantic_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication applied to the corpus:
    embedding-cosine near-dup pairs (three LSH tables, capped buckets,
    cos ≥ 0.35) → connected components → keep each component's
    smallest vec_id plus every untouched vector. Ids only past the
    pair stage; embeddings never shuffle after bucketing."""
    from strat_backtest_spark.operators.dedup import connected_components
    from strat_backtest_spark.operators.similarity import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(emb, threshold=0.35, n_tables=3)
    cc = connected_components(pairs)
    removed = cc.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias("vec_id")
    )
    return emb.select("vec_id").join(removed, "vec_id", "left_anti")


@query(
    "q77_line_dedup",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 2 = 0
                          THEN chr(10) || 'subscribe to our newsletter today'
                          ELSE '' END
                  || chr(10) || 'ref-' || doc_id::VARCHAR AS text
      FROM documents
    ),
    l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM aug),
    lines AS (
      SELECT doc_id, unnest(range(len(ls))) AS idx, unnest(ls) AS line FROM l
    ),
    dl AS (SELECT DISTINCT doc_id, line FROM lines),
    freq AS (SELECT line, count(*) AS nd FROM dl GROUP BY line),
    marked AS (
      SELECT doc_id, idx, line,
             line IN (SELECT line FROM freq WHERE nd >= 2) AS bad
      FROM lines
    )
    SELECT doc_id,
      sum(CASE WHEN NOT bad THEN 1 ELSE 0 END)::BIGINT AS n_kept,
      sum(CASE WHEN bad THEN 1 ELSE 0 END)::BIGINT AS n_removed,
      md5(coalesce(string_agg(CASE WHEN NOT bad THEN line END, chr(10) ORDER BY idx), '')) AS new_text_hash
    FROM marked GROUP BY doc_id
    """,
)
def q77_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level dedup (operators/dedup.line_dedup): every
    line occurring in ≥2 distinct documents corpus-wide is deleted,
    survivors keep their order. The synthetic docs are single-line, so
    both engines deterministically append a shared boilerplate line to
    every even doc (must die) and a per-doc unique ref line (must
    survive); the original first line dies exactly when the document
    text is an exact corpus duplicate. Proven by the md5 of the
    rebuilt text. Line text never shuffles — only xxhash64 values and
    (id, idx) ints (plan-ratcheted)."""
    from strat_backtest_spark.operators.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("\nsubscribe to our newsletter today"),
            ).otherwise(F.lit("")),
            F.lit("\nref-"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    out = line_dedup(aug, min_docs=2)
    return out.select(
        "doc_id",
        "n_kept",
        "n_removed",
        F.md5(F.col("text").cast("binary")).alias("new_text_hash"),
    )


@query(
    "q78_stream_pii_scrub",
    oracle=_PII_ORACLE,
)
def q78_stream_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q74's PII scrub applied through Structured Streaming
    (streaming/documents_stream.streaming_pii_scrub): a stateless
    codegen map stage composes into the stream with no state store and
    no shuffle; the drained replay equals the batch scrub row-for-row,
    gated by the SAME oracle SQL as q74."""
    from strat_backtest_spark.streaming.documents_stream import (
        streaming_pii_scrub,
    )

    return streaming_pii_scrub(spark, sf_dir)


# ===========================================================================
# Training-data layout: deterministic shuffle, sequence packing,
# keyword extraction, embedding quantization
# ===========================================================================

@query(
    "q79_pack_sequences",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, len({_TOKS})::INT AS n_tokens FROM documents
    ),
    sh AS (
      SELECT doc_id, n_tokens,
             ({md5_hash_sql("doc_id::VARCHAR")} % 8)::INT AS shard
      FROM tok
    ),
    cum AS (
      SELECT *,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS start_offset
      FROM sh
    )
    SELECT doc_id, n_tokens, shard, start_offset,
           (start_offset // 96)::BIGINT AS seq_id,
           (row_number() OVER (
              PARTITION BY shard, start_offset // 96 ORDER BY doc_id
            ) - 1)::INT AS seq_pos
    FROM cum
    """,
)
def q79_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-budget sequence packing over the documents table
    (budget 96, 8 shards): the causal-LM batch-layout stage. One
    exchange on the md5 shard key; cumulative offsets and in-sequence
    ranks are two window passes over the same partitioning
    (operators/packing.pack_sequences)."""
    from strat_backtest_spark.operators.packing import pack_sequences
    from strat_backtest_spark.operators.text_analysis import tokens_col

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens_col("text")).alias("n_tokens")
    )
    return pack_sequences(docs, budget=96, n_shards=8)


@query(
    "q80_shard_shuffle",
    oracle=f"""
    WITH k AS (
      SELECT doc_id,
             {md5_hash_sql("'42:' || doc_id::VARCHAR")} AS key
      FROM documents
    )
    SELECT doc_id, (key % 16)::INT AS shard,
           (row_number() OVER (
              PARTITION BY key % 16 ORDER BY key, doc_id) - 1)::INT AS pos
    FROM k
    """,
)
def q80_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into 16 training shards (seed 42):
    every row gets a pseudorandom shard and a dense position, so
    reading shards in (shard, pos) order is an unbiased, reproducible
    permutation of the corpus (operators/packing.shard_shuffle)."""
    from strat_backtest_spark.operators.packing import shard_shuffle

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return shard_shuffle(docs, n_shards=16, seed=42)


@query(
    "q81_tfidf_topk",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    terms AS (SELECT doc_id, lower(unnest(toks)) AS term FROM tok),
    tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
           FROM terms GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term, tf * ln((n_docs + 1.0) / (df + 1.0)) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term,
           (row_number() OVER (
              PARTITION BY doc_id ORDER BY tfidf DESC, term ASC))::INT AS rank,
           round(tfidf, 6) AS tfidf
    FROM scored
    QUALIFY rank <= 3
    """,
)
def q81_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — keyword extraction for
    corpus exploration. One (doc, term) aggregate with map-side
    combine; the doc-frequency side is vocabulary-sized and derives
    from the same aggregate; N is a broadcast 1-row aggregate
    (operators/text_analysis.tfidf_topk)."""
    from strat_backtest_spark.operators.text_analysis import tfidf_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_topk(docs, k=3)


@query(
    "q82_quantize_embeddings",
    oracle="""
    WITH flat AS (
      SELECT unnest(embedding)::DOUBLE AS v,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings
    ),
    dims AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM flat GROUP BY dim),
    stats AS (
      SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
      FROM dims
    )
    SELECT vec_id,
           array_to_string(list_transform(range(1, len(embedding) + 1), i ->
             CASE WHEN mxs[i] = mns[i] THEN 0
                  ELSE round((embedding[i]::DOUBLE - mns[i]) * 255
                             / (mxs[i] - mns[i]))::INT END), ',') AS codes
    FROM embeddings CROSS JOIN stats
    """,
)
def q82_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension scalar quantization of the embedding corpus to
    255-level integer codes (int8-style compression for ANN shipping).
    Pass 1 reduces to dim-count stat rows via partial aggregation;
    pass 2 is a map-only projection with the stats folded in as
    literals — zero joins, embeddings shuffle never
    (operators/packing.quantize_embeddings)."""
    from strat_backtest_spark.operators.packing import quantize_embeddings

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = quantize_embeddings(emb)
    # The gate's value hash compares scalar columns; serialize the
    # code vector (q22's sig_i convention, but dims here are wider).
    return q.select(
        "vec_id", F.concat_ws(",", F.col("codes").cast("array<string>")).alias("codes")
    )


@query(
    "q83_unigram_logprob",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    terms AS (SELECT doc_id, lower(unnest(toks)) AS term FROM tok),
    counts AS (SELECT term, count(*)::BIGINT AS c FROM terms GROUP BY term),
    total AS (SELECT count(*)::BIGINT AS T FROM terms)
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           round(avg(ln(c / T)), 6) AS logprob
    FROM terms JOIN counts USING (term) CROSS JOIN total
    GROUP BY doc_id
    """,
)
def q83_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document under the corpus's
    own empirical distribution — the cheap LM quality filter (CCNet's
    KenLM stage without the external model). One explode, one
    vocabulary-sized count aggregate joined back on the term stream,
    broadcast 1-row total (operators/text_analysis.unigram_logprob)."""
    from strat_backtest_spark.operators.text_analysis import unigram_logprob

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_logprob(docs)


@query(
    "q84_split_assign",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             {md5_hash_sql("'7:' || doc_id::VARCHAR")} % 1000000 AS b
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN b < 800000 THEN 'train'
                WHEN b < 900000 THEN 'val'
                ELSE 'test' END AS split
    FROM h
    """,
)
def q84_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test membership (80/10/10, seed 7):
    identity-keyed md5 gate, map-only — split membership is stable
    under repartitioning and reproducible on any engine
    (operators/sampling.split_assign)."""
    from strat_backtest_spark.operators.sampling import split_assign

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return split_assign(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, seed=7
    )


@query(
    "q85_quota_sample",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT doc_id, lang, source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {md5_hash_sql("'0:' || doc_id::VARCHAR")}, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 15
    """,
)
def q85_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard per-source quota: at most 15 docs per source, selected by
    the identity-keyed md5 rank — the dominant-domain bounding move a
    keep-rate can't promise. Salted two-level top-cap on a slim id
    stream; document text never shuffles
    (operators/sampling.quota_sample)."""
    from strat_backtest_spark.operators.sampling import quota_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return quota_sample(docs, cap=15, group_col="source")


@query(
    "q86_ngram_topk",
    oracle=f"""
    WITH tok AS (SELECT {_TOKS_LOWER} AS toks FROM documents),
    g AS (
      SELECT unnest(list_transform(range(1, len(toks) - 1), i ->
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS ngram
      FROM tok WHERE len(toks) >= 3
    ),
    c AS (SELECT ngram, count(*)::BIGINT AS cnt FROM g GROUP BY ngram)
    SELECT ngram, cnt,
           (row_number() OVER (ORDER BY cnt DESC, ngram ASC))::INT AS rank
    FROM c QUALIFY rank <= 20
    """,
)
def q86_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 trigrams — the boilerplate/template profiler
    run first on any new crawl. Arrow partial-count combiner, one slim
    (term, c) exchange, global top-k via TakeOrderedAndProject
    (operators/text_analysis.ngram_topk)."""
    from strat_backtest_spark.operators.text_analysis import ngram_topk

    return ngram_topk(_t(spark, sf_dir, "documents"), n=3, k=20)


@query(
    "q87_bigram_logprob",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOKS_LOWER} AS toks FROM documents),
    uni AS (SELECT unnest(toks) AS w1 FROM tok),
    c1t AS (SELECT w1, count(*)::BIGINT AS c1 FROM uni GROUP BY w1),
    big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)), i ->
               toks[i] || ' ' || toks[i+1])) AS bg
      FROM tok WHERE len(toks) >= 2
    ),
    c2t AS (SELECT bg, count(*)::BIGINT AS c2 FROM big GROUP BY bg)
    SELECT doc_id, count(*)::BIGINT AS n_bigrams,
           round(avg(ln(c2 / c1)), 6) AS logprob
    FROM big
    JOIN c2t USING (bg)
    JOIN c1t ON split_part(bg, ' ', 1) = c1t.w1
    GROUP BY doc_id
    """,
)
def q87_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM quality score: mean ln(c(w1 w2)/c(w1)) per document
    under the corpus's own counts — one Markov order past q83,
    catching word salad whose unigrams are common. Broadcast-vocab
    Arrow scorer with distributed join fallback
    (operators/text_analysis.bigram_logprob)."""
    from strat_backtest_spark.operators.text_analysis import bigram_logprob

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_logprob(docs)


@query(
    "q88_ann_recall",
    oracle=f"""
    WITH cb AS (SELECT a.vec_id, a.embedding, {_bucket_sql('a')} AS bucket FROM embeddings a),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY round({_DOT} / ({_NORM_B} * {_NORM_A}), 6) DESC,
                          a.vec_id ASC) AS rank
        FROM embeddings a, embeddings b
        WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
      ) WHERE rank <= 5
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY round({_DOT} / ({_NORM_B} * {_NORM_A}), 6) DESC,
                          a.vec_id ASC) AS rank
        FROM cb a JOIN cb b USING (bucket)
        WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id
      ) WHERE rank <= 5
    ),
    nt AS (SELECT query_id, count(*)::BIGINT AS n_true FROM truth GROUP BY query_id),
    nh AS (SELECT t.query_id, count(*)::BIGINT AS n_hit
           FROM truth t JOIN approx USING (query_id, neighbor_id)
           GROUP BY t.query_id)
    SELECT query_id, n_true,
           coalesce(n_hit, 0)::BIGINT AS n_hit,
           round(coalesce(n_hit, 0) / n_true, 6) AS recall
    FROM nt LEFT JOIN nh USING (query_id)
    """,
)
def q88_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the hyperplane-LSH ANN vs the exact brute-force
    ranking for the first-10-vector query set — the index-evaluation
    harness that catches recall collapse (1M-vec rung: 6 planes
    "succeed" with near-zero recall) before neighbors feed training
    (operators/similarity.ann_recall)."""
    from strat_backtest_spark.operators.similarity import ann_recall

    emb = _t(spark, sf_dir, "embeddings")
    return ann_recall(emb, emb.filter(F.col("vec_id") < 10), k=5)


@query(
    "q89_profile_columns",
    oracle="""
    WITH s AS (
      SELECT count(*)::BIGINT AS n,
             count(o_totalprice)::BIGINT AS nn_tp,
             count(DISTINCT o_totalprice)::BIGINT AS nd_tp,
             min(o_totalprice)::DOUBLE AS mn_tp, max(o_totalprice)::DOUBLE AS mx_tp,
             count(o_custkey)::BIGINT AS nn_ck,
             count(DISTINCT o_custkey)::BIGINT AS nd_ck,
             min(o_custkey)::DOUBLE AS mn_ck, max(o_custkey)::DOUBLE AS mx_ck,
             count(o_orderpriority)::BIGINT AS nn_op,
             count(DISTINCT o_orderpriority)::BIGINT AS nd_op,
             min(o_orderpriority) AS mn_op, max(o_orderpriority) AS mx_op,
             count(o_orderdate)::BIGINT AS nn_od,
             count(DISTINCT o_orderdate)::BIGINT AS nd_od,
             min(o_orderdate::VARCHAR) AS mn_od, max(o_orderdate::VARCHAR) AS mx_od
      FROM orders
    )
    SELECT 'o_totalprice' AS column, n AS n_rows, n - nn_tp AS n_nulls,
           nd_tp AS n_distinct, mn_tp AS min_num, mx_tp AS max_num,
           NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str FROM s
    UNION ALL
    SELECT 'o_custkey', n, n - nn_ck, nd_ck, mn_ck, mx_ck, NULL, NULL FROM s
    UNION ALL
    SELECT 'o_orderpriority', n, n - nn_op, nd_op, NULL::DOUBLE, NULL::DOUBLE,
           mn_op, mx_op FROM s
    UNION ALL
    SELECT 'o_orderdate', n, n - nn_od, nd_od, NULL::DOUBLE, NULL::DOUBLE,
           mn_od, mx_od FROM s
    """,
)
def q89_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profile (nulls / exact distinct / extrema)
    of the orders table — numeric, string, and date columns through
    one aggregate job (operators/profile.profile_columns)."""
    from strat_backtest_spark.operators.profile import profile_columns

    orders = _t(spark, sf_dir, "orders")
    return profile_columns(
        orders, ["o_totalprice", "o_custkey", "o_orderpriority", "o_orderdate"]
    )


@query(
    "q90_stream_quota_admission",
    oracle=f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY doc_id % 3,
                        {md5_hash_sql("'0:' || doc_id::VARCHAR")},
                        doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 15
    """,
)
def q90_stream_quota_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota admission on the documents STREAM (cap 15):
    each source admits its best-(md5, id)-ranked docs per micro-batch
    until the cap is hit, with ONE long of state per source. The
    3-chunk doc_id%3 replay makes admission cross batch boundaries;
    the drained result equals one SQL window over (arrival_batch,
    md5, doc_id) — the oracle
    (streaming/documents_stream.streaming_quota_admission)."""
    from strat_backtest_spark.streaming.documents_stream import (
        streaming_quota_admission,
    )

    return streaming_quota_admission(spark, sf_dir, cap=15, n_chunks=3)


@query(
    "q91_stream_simhash_neardup",
    oracle=f"""
    WITH sh AS ({_simhash_sql(32)}),
    b AS (
      SELECT s.doc_id, t.band,
             (s.simhash >> (t.band * 8)) & 255 AS band_val
      FROM sh s, (SELECT unnest(range(4))::INT AS band) t
    ),
    f AS (
      SELECT doc_id,
             (row_number() OVER (
               PARTITION BY band, band_val
               ORDER BY doc_id % 3, doc_id
             ) = 1) AS first
      FROM b
    )
    SELECT doc_id, bool_and(first)::INT AS novel
    FROM f GROUP BY doc_id
    """,
)
def q91_stream_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup admission on the documents STREAM: per-doc
    novelty verdict — novel iff first arrival in EVERY (band,
    band_val) bucket of its 32-bit simhash (4 bands × 8 bits, the q58
    batch convention). Stateful streaming with state bounded by the
    band-value SPACE (≤ 4·256 longs), not corpus size; the 3-chunk
    doc_id%3 replay makes claims cross micro-batch boundaries
    (streaming/documents_stream.streaming_simhash_neardup)."""
    from strat_backtest_spark.streaming.documents_stream import (
        streaming_simhash_neardup,
    )

    return streaming_simhash_neardup(spark, sf_dir, bits=32, bands=4, n_chunks=3)


def _q92_shingle6_sql() -> str:
    """md5 hash of the 6-token shingle starting at 1-based index i."""
    parts = " || ' ' || ".join(f"toks[i + {j}]" for j in range(6))
    return md5_hash_sql(parts)


@query(
    "q92_substring_dedup",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 2 = 0
                          THEN chr(10) || 'special offer free shipping applies to'
                            || chr(10) || 'all orders placed today ref-' || doc_id::VARCHAR
                          ELSE '' END AS text
      FROM documents
    ),
    tok AS (
      SELECT doc_id, {_ws_split_sql("coalesce(text, '')")} AS toks
      FROM aug
    ),
    occh AS (
      SELECT doc_id, i - 1 AS pos, {_q92_shingle6_sql()} AS h
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 4)) AS i FROM tok)
    ),
    banned AS (SELECT h FROM occh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    cov AS (
      SELECT DISTINCT o.doc_id, o.pos + u.d AS j
      FROM occh o JOIN banned USING (h)
      CROSS JOIN (SELECT unnest(range(0, 6)) AS d) u
    ),
    tokidx AS (
      SELECT doc_id, unnest(toks) AS tok,
             unnest(range(0, len(toks))) AS j
      FROM tok
    ),
    fin AS (
      SELECT ti.doc_id,
             count(*) AS n_tokens,
             count(cov.j) AS n_removed,
             coalesce(string_agg(ti.tok, ' ' ORDER BY ti.j)
                      FILTER (WHERE cov.j IS NULL), '') AS kept
      FROM tokidx ti
      LEFT JOIN cov ON ti.doc_id = cov.doc_id AND ti.j = cov.j
      GROUP BY ti.doc_id
    )
    SELECT a.doc_id,
           coalesce(f.n_tokens, 0)::BIGINT AS n_tokens,
           coalesce(f.n_removed, 0)::BIGINT AS n_removed,
           md5(CASE WHEN coalesce(f.n_removed, 0) = 0
                    THEN a.text ELSE f.kept END) AS kept_hash
    FROM aug a LEFT JOIN fin f ON a.doc_id = f.doc_id
    """,
)
def q92_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2021): excise every token
    inside a word 6-gram shared by >= 2 distinct documents. The
    deterministic augmentation appends a 10-token template CROSSING a
    line boundary with a per-doc unique ref token — the exact
    boilerplate class q77's whole-line dedup cannot catch (second line
    differs per doc) but this operator removes
    (operators/dedup.substring_dedup)."""
    from strat_backtest_spark.operators.dedup import substring_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(
                        "\nspecial offer free shipping applies to"
                        "\nall orders placed today ref-"
                    ),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = substring_dedup(aug, n=6, min_docs=2)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5(F.col("text").cast("binary")).alias("kept_hash"),
    )


@query(
    "q93_incremental_dedup",
    oracle=_minhash_sigs_cte()
    + """
    , banded AS (
      SELECT doc_id, b.band,
             CASE b.band
               WHEN 0 THEN sig_0::VARCHAR || '_' || sig_1::VARCHAR
               WHEN 1 THEN sig_2::VARCHAR || '_' || sig_3::VARCHAR
               WHEN 2 THEN sig_4::VARCHAR || '_' || sig_5::VARCHAR
               ELSE        sig_6::VARCHAR || '_' || sig_7::VARCHAR
             END AS band_key
      FROM sigs, (SELECT unnest(range(4)) AS band) b
      WHERE sig_0 IS NOT NULL
    ),
    ex AS (SELECT doc_id, md5(text) AS h FROM documents WHERE text IS NOT NULL),
    exact_dup AS (
      SELECT DISTINCT a.doc_id
      FROM ex a JOIN ex b ON a.h = b.h
      WHERE a.doc_id % 2 = 1 AND (b.doc_id % 2 = 0 OR b.doc_id < a.doc_id)
    ),
    near_dup AS (
      SELECT DISTINCT a.doc_id
      FROM banded a JOIN banded b USING (band, band_key)
      WHERE a.doc_id % 2 = 1 AND (b.doc_id % 2 = 0 OR b.doc_id < a.doc_id)
    )
    SELECT d.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'dup_exact'
                WHEN nr.doc_id IS NOT NULL THEN 'dup_near'
                ELSE 'kept' END AS verdict
    FROM documents d
    LEFT JOIN exact_dup e ON d.doc_id = e.doc_id
    LEFT JOIN near_dup nr ON d.doc_id = nr.doc_id
    WHERE d.doc_id % 2 = 1
    """,
)
def q93_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a PERSISTED index — the open-world
    operator the batch entries (q21/q23/q68) lack: even doc_ids stand
    in for yesterday's curated corpus (their band buckets + digests are
    written once to a parquet index), odd doc_ids are today's crawl,
    and each delta doc gets a verdict (dup_exact / dup_near / kept)
    from index probes + within-delta priority — signatures are
    computed for the DELTA ONLY, once (``delta_probe_rows``). The
    index write and the delta's signature pass at construction time
    are the operator's contract (the decontaminate precedent for eager
    stages); the index lives in a per-process scratch dir
    (``streaming.scratch_dir``) at its day-zero ``chunk=-1``; the
    oracle mirrors the priority semantics exactly
    (operators/dedup.dedup_incremental)."""
    from strat_backtest_spark.operators.dedup import (
        dedup_incremental,
        dedup_index_write,
        delta_probe_rows,
    )
    from strat_backtest_spark.streaming import scratch_dir

    docs = _t(spark, sf_dir, "documents")
    index_docs = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    path = scratch_dir("q93_index_")
    dedup_index_write(delta_probe_rows(index_docs), path)
    return dedup_incremental(spark, delta_probe_rows(delta), path)


def _q94_oracle(sf_dir: str) -> str:
    """Expected dHash per doc, recomputed INDEPENDENTLY of the engine
    path (direct pixel formula → exact-block pooling → gradient bits —
    no PNG encode/decode round trip, no shared pooling code), pinned
    as a VALUES table; banding + Hamming pairing mirror the Spark join
    in SQL. A q94 hash match therefore proves encode → real PNG decode
    → pool → hash lands on the pure-math fixture value."""
    import duckdb
    import numpy as np

    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
        ).fetchall()
    ]

    def _pix(seed: int) -> "np.ndarray":
        y, x = np.mgrid[0:24, 0:18]
        v = (
            np.uint64(seed) * np.uint64(1_000_003)
            + y.astype(np.uint64) * np.uint64(8_191)
            + x.astype(np.uint64) * np.uint64(131)
        )
        v = (v * np.uint64(2_654_435_761)) & np.uint64(0xFFFFFFFF)
        v ^= v >> np.uint64(15)
        return ((v >> np.uint64(8)) & np.uint64(0xFF)).astype(np.int64)

    def _dh(pix: "np.ndarray") -> int:
        # 24x18 splits exactly into an 8x9 grid of 3x2 blocks
        pooled = pix.reshape(8, 3, 9, 2).sum(axis=(1, 3))
        bits = pooled[:, :-1] > pooled[:, 1:]
        v = 0
        for i, b in enumerate(bits.ravel().tolist()):
            if b:
                v |= 1 << i
        return v - (1 << 64) if v >= 1 << 63 else v

    memo: dict[int, int] = {}
    rows = []
    for d in ids:
        s = d // 2
        if s not in memo:
            memo[s] = _dh(_pix(s))
        rows.append(f"({d}, {memo[s]}::BIGINT)")
    values = ", ".join(rows)
    return f"""
    WITH ph(doc_id, phash) AS (VALUES {values}),
    banded AS (
      SELECT doc_id, phash, j.band, (phash >> (j.band * 12)) & 4095 AS band_val
      FROM ph, (SELECT unnest(range(5)) AS band) j
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.phash, b.phash)) AS hamming
    FROM banded a JOIN banded b USING (band, band_val)
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.phash, b.phash)) <= 4
    """


@query("q94_image_neardup", oracle_builder=_q94_oracle)
def q94_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup: synthesize one PNG per document
    (pixels keyed by doc_id // 2, so consecutive ids are
    pixel-identical but RE-ENCODED with a different filter + zlib
    level — byte-different payloads exact dedup cannot pair), decode
    through the REAL pure-zlib PNG path, dHash the pixels, and band
    the 64-bit hashes through the generic banded-Hamming join
    (operators/multimodal.perceptual_hash +
    operators/dedup.hash_neardup_pairs). Payload bytes never shuffle —
    only (id, long) rows ride the exchange."""
    import pandas as pd

    from strat_backtest_spark.operators.dedup import hash_neardup_pairs
    from strat_backtest_spark.operators.multimodal import (
        encode_png,
        perceptual_hash,
        real_decoder,
        synthetic_pixels,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def _ingest(batches):
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            payloads = [
                encode_png(
                    synthetic_pixels(i // 2),
                    *((0, 9) if i % 2 == 0 else (2, 1)),
                )
                for i in ids
            ]
            yield pd.DataFrame(
                {"doc_id": ids, "media_type": "image", "payload": payloads}
            )

    media = docs.mapInPandas(
        _ingest, "doc_id long, media_type string, payload binary"
    )
    hashed = perceptual_hash(media, real_decoder)
    # bands=5 (12-bit slices): the minimum band count that keeps the
    # pigeonhole recall guarantee at max_hamming=4 — and 4096 values
    # per band instead of 8-bit banding's 256, so buckets stay sparse
    # on ~uniform million-image corpora (the r11 cap-fold A/B measured
    # 8-bit banding saturating every bucket at 500k docs). The pair
    # SET is identical either way: candidates are exact-Hamming
    # filtered.
    return hash_neardup_pairs(
        hashed, "phash", bits=64, bands=5, max_hamming=4, max_bucket_size=2000
    )


def _q95_oracle(sf_dir: str) -> str:
    """Expected envelope fingerprint per doc, recomputed INDEPENDENTLY
    of the engine path (waveform formula → pinned quantization →
    decode normalization → plain frame-energy sums — no WAV container
    encode/decode round trip, no shared fingerprint code), pinned as a
    VALUES table; banding + Hamming pairing mirror the Spark join in
    SQL. A q95 hash match therefore proves encode_wav → stdlib wave
    decode → envelope fingerprint lands on the pure-math fixture
    value for BOTH re-encodes (16-bit full volume / 8-bit at 0.8×)."""
    import duckdb
    import numpy as np

    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
        ).fetchall()
    ]

    def _wave(seed: int) -> "np.ndarray":
        j = np.arange(72, dtype=np.uint64)
        v = (
            np.uint64(seed) * np.uint64(1_000_003)
            + j * np.uint64(8_191)
            + np.uint64(131)
        )
        v = (v * np.uint64(2_654_435_761)) & np.uint64(0xFFFFFFFF)
        v ^= v >> np.uint64(15)
        amp = (
            0.25
            + 0.7 * (((v >> np.uint64(8)) & np.uint64(0xFF)).astype(np.float32) / 255.0)
        ).astype(np.float32)
        k = np.arange(16, dtype=np.float32)
        saw = (k - 7.5) / 7.5
        return (amp[:, None] * saw[None, :]).astype(np.float32).ravel()

    def _fp(decoded: "np.ndarray") -> int:
        e = np.abs(decoded.astype(np.float64)).reshape(8, 9, 16).sum(axis=2)
        bits = e[:, :-1] > e[:, 1:]
        v = 0
        for i, b in enumerate(bits.ravel().tolist()):
            if b:
                v |= 1 << i
        return v - (1 << 64) if v >= 1 << 63 else v

    memo: dict[tuple[int, int], int] = {}
    rows = []
    for d in ids:
        key = (d // 2, d % 2)
        if key not in memo:
            w = _wave(key[0])
            if key[1] == 0:  # 16-bit, full volume
                q = np.clip(np.round(w * 32767.0), -32768, 32767)
                dec = q.astype(np.float32) / 32768.0
            else:  # 8-bit, 0.8x volume
                w8 = (np.float32(0.8) * w).astype(np.float32)
                q = np.clip(np.round(w8 * 127.0), -128, 127)
                dec = q.astype(np.float32) / 128.0
            memo[key] = _fp(dec)
        rows.append(f"({d}, {memo[key]}::BIGINT)")
    values = ", ".join(rows)
    return f"""
    WITH fp(doc_id, afp) AS (VALUES {values}),
    banded AS (
      SELECT doc_id, afp, j.band, (afp >> (j.band * 12)) & 4095 AS band_val
      FROM fp, (SELECT unnest(range(5)) AS band) j
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.afp, b.afp)) AS hamming
    FROM banded a JOIN banded b USING (band, band_val)
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.afp, b.afp)) <= 4
    """


@query("q95_audio_neardup", oracle_builder=_q95_oracle)
def q95_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-fingerprint near-dup: synthesize one WAV per document
    (waveform keyed by doc_id // 2, so consecutive ids carry the SAME
    recording but RE-ENCODED — even ids 16-bit PCM at full volume, odd
    ids 8-bit PCM at 0.8× volume: byte-different payloads, different
    sample values, that byte-level dedup cannot pair), decode through
    the REAL stdlib-wave path, fingerprint the envelope (amplitude-
    scale-invariant by construction), and band the 64-bit fingerprints
    through the generic banded-Hamming join
    (operators/multimodal.audio_fingerprint +
    operators/dedup.hash_neardup_pairs — the same machinery as the
    image path, proving the near-dup core is modality-agnostic).
    Payload bytes never shuffle — only (id, long) rows ride the
    exchange."""
    import pandas as pd

    from strat_backtest_spark.operators.dedup import hash_neardup_pairs
    from strat_backtest_spark.operators.multimodal import (
        audio_fingerprint,
        encode_wav,
        real_decoder,
        synthetic_waveform,
    )
    import numpy as np

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def _ingest(batches):
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            payloads = []
            for i in ids:
                w = synthetic_waveform(i // 2)
                if i % 2 == 0:
                    payloads.append(encode_wav(w, 2))
                else:
                    payloads.append(
                        encode_wav((np.float32(0.8) * w).astype(np.float32), 1)
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "media_type": "audio", "payload": payloads}
            )

    media = docs.mapInPandas(
        _ingest, "doc_id long, media_type string, payload binary"
    )
    hashed = audio_fingerprint(media, real_decoder)
    # bands=5: same regime note as q94 — minimum bands for the
    # max_hamming=4 pigeonhole guarantee, 16× sparser band space
    return hash_neardup_pairs(
        hashed, "afp", bits=64, bands=5, max_hamming=4, max_bucket_size=2000
    )


def _q96_oracle_sql(n_chunks: int = 3) -> str:
    """The survivor-only index recursion UNROLLED per chunk: chunk k's
    exact/near dup sets join against (kept docs of chunks < k) — built
    iteratively from the previous v_* CTEs — plus same-chunk
    smaller-id priority; the union of per-chunk verdict CTEs is the
    whole stream's output. Mirrors streaming_incremental_dedup's
    composition of dedup_incremental + dedup_index_append exactly
    (docstring there spells out why cross-chunk collisions see only
    KEPT docs while within-chunk priority ignores verdicts)."""
    parts = [
        """
    , banded AS (
      SELECT doc_id, b.band,
             CASE b.band
               WHEN 0 THEN sig_0::VARCHAR || '_' || sig_1::VARCHAR
               WHEN 1 THEN sig_2::VARCHAR || '_' || sig_3::VARCHAR
               WHEN 2 THEN sig_4::VARCHAR || '_' || sig_5::VARCHAR
               ELSE        sig_6::VARCHAR || '_' || sig_7::VARCHAR
             END AS band_key
      FROM sigs, (SELECT unnest(range(4)) AS band) b
      WHERE sig_0 IS NOT NULL
    ),
    ex AS (SELECT doc_id, md5(text) AS h FROM documents WHERE text IS NOT NULL)
    """
    ]
    for k in range(n_chunks):
        if k == 0:
            idx_cond = "FALSE"
        else:
            kept_union = " UNION ALL ".join(
                f"SELECT doc_id FROM v_{j} WHERE verdict = 'kept'"
                for j in range(k)
            )
            idx_cond = f"b.doc_id IN ({kept_union})"
        parts.append(
            f"""
    , exact_{k} AS (
      SELECT DISTINCT a.doc_id
      FROM ex a JOIN ex b ON a.h = b.h
      WHERE a.doc_id % {n_chunks} = {k}
        AND ({idx_cond}
             OR (b.doc_id % {n_chunks} = {k} AND b.doc_id < a.doc_id))
    ),
    near_{k} AS (
      SELECT DISTINCT a.doc_id
      FROM banded a JOIN banded b USING (band, band_key)
      WHERE a.doc_id % {n_chunks} = {k}
        AND ({idx_cond}
             OR (b.doc_id % {n_chunks} = {k} AND b.doc_id < a.doc_id))
    ),
    v_{k} AS (
      SELECT d.doc_id,
             CASE WHEN e.doc_id IS NOT NULL THEN 'dup_exact'
                  WHEN nr.doc_id IS NOT NULL THEN 'dup_near'
                  ELSE 'kept' END AS verdict
      FROM (SELECT doc_id FROM documents WHERE doc_id % {n_chunks} = {k}) d
      LEFT JOIN exact_{k} e ON d.doc_id = e.doc_id
      LEFT JOIN near_{k} nr ON d.doc_id = nr.doc_id
    )
    """
        )
    final = " UNION ALL ".join(
        f"SELECT doc_id, verdict FROM v_{k}" for k in range(n_chunks)
    )
    return _minhash_sigs_cte() + "".join(parts) + final


@query("q96_stream_incremental_dedup", oracle=_q96_oracle_sql())
def q96_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental dedup: the q93 operator driven by
    foreachBatch over a chunked replay, survivors appended to the
    persisted index between micro-batches — the full production
    crawl-ingest loop from an empty day-zero index
    (streaming/documents_stream.streaming_incremental_dedup)."""
    from strat_backtest_spark.streaming.documents_stream import (
        streaming_incremental_dedup,
    )

    return streaming_incremental_dedup(spark, sf_dir)


@query("q97_ivf_persisted_topk", oracle=_IVF_ORACLE)
def q97_ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN against a PERSISTED partitioned corpus — the similarity
    analog of q93's persisted dedup index: ``ivf_assign`` runs ONCE at
    write time and the corpus lands ``partitionBy(centroid_id)``; each
    query batch then collects its tiny probe-list set (queries x
    nprobe ids — the same queries ≪ corpus contract as the grid spec
    collect) and reads ONLY those lists' directories, a literal
    PartitionFilter that prunes at planning time
    (tests/test_plans.py::test_q97_partition_pruning). Values are
    identical to q51's assign-on-the-fly path — same oracle, pinned by
    the shared _IVF_ORACLE and a path-equivalence unit."""
    import hashlib as _hl

    from strat_backtest_spark.operators.similarity import ivf_probes, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    cents = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < _IVF_K).orderBy("vec_id").collect()
    ]
    path = "/tmp/spark_graft_q97_ivf_" + _hl.md5(sf_dir.encode()).hexdigest()[:10]
    from strat_backtest_spark.operators.similarity import ivf_assign

    ivf_assign(emb, cents).write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(path)

    queries = emb.filter(F.col("vec_id") < 10)
    probe_ids = sorted(
        r["probe"]
        for r in ivf_probes(queries, cents, _IVF_NPROBE)
        .select("probe")
        .distinct()
        .collect()
    )
    corpus = spark.read.parquet(path).filter(
        F.col("centroid_id").isin(probe_ids)
    )
    return ivf_topk(
        corpus, queries, cents, k=5, nprobe=_IVF_NPROBE, pre_assigned=True
    )


_Q98_DIM = 4096


_Q98_DIM2 = 2048  # hashed-bigram feature table (fastText-style)
_BIGRAM_T = "toks[i] || ' ' || toks[i+1]"  # single-space joiner (engine parity)


def _fixture_weight_sql(ix: str) -> str:
    """DuckDB mirror of text_analysis.fixture_weights[ix]."""
    return f"((({ix}) * 2654435761 + 12345) % 2000001) - 1000000"


@query(
    "q98_quality_classifier",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    scored AS (
      SELECT doc_id,
             coalesce(list_sum(list_transform(toks,
               t -> {_fixture_weight_sql(f"{md5_hash_sql('t')} % {_Q98_DIM}")}
             )), 0)::BIGINT -- list_sum promotes to HUGEINT (the q53 trap)
             + coalesce(list_sum(list_transform(
                 CASE WHEN len(toks) >= 2 THEN range(1, len(toks)) ELSE [] END,
                 i -> {_fixture_weight_sql(f"{md5_hash_sql(_BIGRAM_T)} % {_Q98_DIM2}")}
             )), 0)::BIGINT AS logit
      FROM tok
    )
    SELECT doc_id, logit, logit > 0 AS keep FROM scored
    """,
)
def q98_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: hashed-feature linear classifier
    (the fastText/CCNet-style gate) scoring every document in one
    map-only Arrow pass — integer micro-unit weights make the logit an
    exact, order-free sum, so the oracle regenerates weights AND
    feature hashing in pure SQL and the verdicts pin value-exactly.
    Round 11 adds the fastText bigram half: hashed adjacent-pair
    features over the same filtered token sequence, mirrored in SQL as
    ``toks[i] || ' ' || toks[i+1]`` over a separate {_Q98_DIM2}-slot
    table (operators/text_analysis.quality_classifier; weights are
    the injection slot — fixture_weights stands in for a trained
    export)."""
    from strat_backtest_spark.operators.text_analysis import (
        fixture_weights,
        quality_classifier,
    )

    docs = _t(spark, sf_dir, "documents")
    return quality_classifier(
        docs,
        fixture_weights(_Q98_DIM),
        bigram_weights=fixture_weights(_Q98_DIM2),
    )


@query("q99_ivf_index_append", oracle=_IVF_ORACLE)
def q99_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-IVF index MAINTENANCE — the open-world half q97
    lacks, mirroring q93's dedup-index append: even vec_ids are
    yesterday's index (ivf_index_write: assign once, land
    partitionBy(centroid_id), record the drift baseline + codebook),
    odd vec_ids are today's embedding run appended with
    ivf_index_append (assigned against the index's own persisted
    codebook — the index is never read or rewritten), then the same
    probe-pruned partition-filtered read as q97 answers the queries.
    The union equals the full corpus, so the shared _IVF_ORACLE pins
    append-then-query ≡ rebuild-then-query value-exactly (also a
    direct unit: tests/test_pipeline_ops.py::
    test_ivf_index_append_equals_rebuild). The drift gate
    (ivf_index_needs_retrain) is the re-train trigger a
    daily-embedding pipeline polls after each append
    (operators/similarity.py)."""
    import hashlib as _hl

    from strat_backtest_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_write,
        ivf_probes,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < _IVF_K).orderBy("vec_id").collect()
    ]
    path = "/tmp/spark_graft_q99_ivf_" + _hl.md5(sf_dir.encode()).hexdigest()[:10]
    ivf_index_write(emb.filter(F.col("vec_id") % 2 == 0), cents, path)
    ivf_index_append(emb.filter(F.col("vec_id") % 2 == 1), path)

    queries = emb.filter(F.col("vec_id") < 10)
    probe_ids = sorted(
        r["probe"]
        for r in ivf_probes(queries, cents, _IVF_NPROBE)
        .select("probe")
        .distinct()
        .collect()
    )
    corpus = spark.read.parquet(f"{path}/vectors").filter(
        F.col("centroid_id").isin(probe_ids)
    )
    return ivf_topk(
        corpus, queries, cents, k=5, nprobe=_IVF_NPROBE, pre_assigned=True
    )


def _q100_oracle_sql(n_chunks: int = 3, cap: int = 18) -> str:
    """The whole one-job curation loop unrolled per chunk in SQL —
    scrub (verbatim q74 regex mirror over the FIXED suffix
    augmentation), quota (ONE window over (chunk, doc_id): earlier
    chunks' admissions are unaffected by later arrivals, so cumulative
    per-batch admission telescopes, the q90 argument), incremental
    dedup (the q96 survivor-only recursion, b-side restricted to
    ADMITTED docs because quota-rejected docs never enter the dedup
    stage or the index), classifier (the q98 unigram+bigram logit over
    the SCRUBBED text). Survivors feeding chunk k's index condition
    are v_j rows with status kept OR low_quality: classifier-rejected
    docs are dedup survivors and ARE appended
    (streaming/documents_stream.streaming_curation_loop)."""
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\d{3}-\d{3}-\d{4}"
    ip = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
    aug = (
        "CASE WHEN doc_id % 2 = 0 THEN text || "
        "' contact admin@example.com call 555-123-4567 host 10.0.0.7' "
        "ELSE text END"
    )
    scrub_expr = (
        "regexp_replace(regexp_replace(regexp_replace(" + aug + ", '"
        + email + "', '<EMAIL>', 'g'), '"
        + phone + "', '<PHONE>', 'g'), '"
        + ip + "', '<IP>', 'g')"
    )
    sig_cols = ", ".join(
        f"list_min(list_transform(sh, x -> (x * {a} + {b}) % {P})) AS sig_{i}"
        for i, (a, b) in enumerate(perm_params(_MINHASH_K))
    )
    uni = (
        f"coalesce(list_sum(list_transform(toks, "
        f"t -> {_fixture_weight_sql(f'{md5_hash_sql(chr(116))} % {_Q98_DIM}')}"
        f")), 0)::BIGINT"
    )
    big = (
        f"coalesce(list_sum(list_transform("
        f"CASE WHEN len(toks) >= 2 THEN range(1, len(toks)) ELSE [] END, "
        f"i -> {_fixture_weight_sql(f'{md5_hash_sql(_BIGRAM_T)} % {_Q98_DIM2}')}"
        f")), 0)::BIGINT"
    )
    head = f"""
    WITH scrub AS (
      SELECT doc_id, source, {scrub_expr} AS text FROM documents
    ),
    tok AS (SELECT doc_id, {_TOKS} AS toks FROM scrub),
    shing AS (SELECT doc_id, {_shingle_hashes_sql(3)} AS sh FROM tok),
    sigs AS (SELECT doc_id, {sig_cols} FROM shing),
    banded AS (
      SELECT doc_id, b.band,
             CASE b.band
               WHEN 0 THEN sig_0::VARCHAR || '_' || sig_1::VARCHAR
               WHEN 1 THEN sig_2::VARCHAR || '_' || sig_3::VARCHAR
               WHEN 2 THEN sig_4::VARCHAR || '_' || sig_5::VARCHAR
               ELSE        sig_6::VARCHAR || '_' || sig_7::VARCHAR
             END AS band_key
      FROM sigs, (SELECT unnest(range(4)) AS band) b
      WHERE sig_0 IS NOT NULL
    ),
    ex AS (SELECT doc_id, md5(text) AS h FROM scrub WHERE text IS NOT NULL),
    adm AS (
      SELECT doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY doc_id % {n_chunks}, doc_id
             ) AS rn
      FROM scrub
    ),
    admitted AS (SELECT doc_id FROM adm WHERE rn <= {cap}),
    logits AS (SELECT doc_id, {uni} + {big} AS logit FROM tok)
    """
    parts = [head]
    for k in range(n_chunks):
        if k == 0:
            idx_cond = "FALSE"
        else:
            surv_union = " UNION ALL ".join(
                f"SELECT doc_id FROM v_{j} WHERE status IN ('kept', 'low_quality')"
                for j in range(k)
            )
            idx_cond = f"b.doc_id IN ({surv_union})"
        parts.append(
            f"""
    , exact_{k} AS (
      SELECT DISTINCT a.doc_id
      FROM ex a JOIN ex b ON a.h = b.h
      WHERE a.doc_id % {n_chunks} = {k}
        AND a.doc_id IN (SELECT doc_id FROM admitted)
        AND ({idx_cond}
             OR (b.doc_id % {n_chunks} = {k}
                 AND b.doc_id IN (SELECT doc_id FROM admitted)
                 AND b.doc_id < a.doc_id))
    ),
    near_{k} AS (
      SELECT DISTINCT a.doc_id
      FROM banded a JOIN banded b USING (band, band_key)
      WHERE a.doc_id % {n_chunks} = {k}
        AND a.doc_id IN (SELECT doc_id FROM admitted)
        AND ({idx_cond}
             OR (b.doc_id % {n_chunks} = {k}
                 AND b.doc_id IN (SELECT doc_id FROM admitted)
                 AND b.doc_id < a.doc_id))
    ),
    v_{k} AS (
      SELECT s.doc_id, s.scrub_hash,
             CASE WHEN ad.doc_id IS NULL THEN 'quota_rejected'
                  WHEN e.doc_id IS NOT NULL THEN 'dup_exact'
                  WHEN nr.doc_id IS NOT NULL THEN 'dup_near'
                  WHEN lg.logit > 0 THEN 'kept'
                  ELSE 'low_quality' END AS status,
             CASE WHEN ad.doc_id IS NOT NULL
                       AND e.doc_id IS NULL AND nr.doc_id IS NULL
                  THEN lg.logit END AS logit
      FROM (SELECT doc_id, md5(text) AS scrub_hash FROM scrub
            WHERE doc_id % {n_chunks} = {k}) s
      LEFT JOIN admitted ad ON s.doc_id = ad.doc_id
      LEFT JOIN exact_{k} e ON s.doc_id = e.doc_id
      LEFT JOIN near_{k} nr ON s.doc_id = nr.doc_id
      LEFT JOIN logits lg ON s.doc_id = lg.doc_id
    )
    """
        )
    final = " UNION ALL ".join(
        f"SELECT doc_id, scrub_hash, status, logit FROM v_{k}"
        for k in range(n_chunks)
    )
    return "".join(parts) + final


@query("q100_stream_curation_loop", oracle=_q100_oracle_sql())
def q100_stream_curation_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ingest shape as ONE streaming job: every
    micro-batch composes PII scrub → per-source quota admission →
    incremental dedup vs the persisted index → quality classifier
    inside a single foreachBatch, survivors appended to the index
    between triggers — the one-job composition of q74/q90/q93/q98
    that q69 proves for batch and q96 for dedup alone
    (streaming/documents_stream.streaming_curation_loop)."""
    from strat_backtest_spark.streaming.documents_stream import (
        streaming_curation_loop,
    )

    return streaming_curation_loop(spark, sf_dir)

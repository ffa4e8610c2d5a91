"""Text-analysis operators for large-scale document pipelines:
language ID, quality scoring, token counting, fingerprinting.

These generalize the reference's text mining (SURVEY.md §2.1 S7,
§2.4 A7-A8, §2.8 F10-F12) into the operators an LLM-data pipeline
needs. Cheap per-token features are Column expressions (JVM regex +
array lambdas); per-shingle hashing and n-gram work runs as one
Arrow-batched Python pass per operator, on the shared tokenizer
(``functions.text.ascii_tokens``) and hash
(``functions.hashing.md5_hash_py``).
"""

from __future__ import annotations

import hashlib
import itertools
import re

import numpy as np
import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window, functions as F

from strat_backtest_spark.functions.hashing import md5_hash_py
from strat_backtest_spark.functions.text import ASCII_WS, ascii_tokens, whitespace_tokens

# Per-worker-process memo for broadcast-vocabulary khash indexes
# (same pattern as operators/dedup.py's _BENCH_INDEX_MEMO): the
# pd.Index builds once per worker, not once per task. Keys carry a
# DRIVER-assigned sequence number, not id(value): CPython recycles
# addresses, and a later equal-size vocabulary landing on a freed
# array's address would silently reuse a stale index.
_VOCAB_INDEX_MEMO: dict = {}
_VOCAB_SEQ = itertools.count()

# Small per-language marker lexicons for the n-gram/stopword heuristic
# language identifier. Deterministic and SQL-portable.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "with"),
    "de": ("der", "die", "das", "und", "nicht", "ist", "mit", "ein"),
    "fr": ("le", "la", "les", "et", "des", "est", "une", "dans"),
    "es": ("el", "la", "los", "las", "es", "una", "con", "por"),
    "zh": ("的", "是", "不", "了", "在", "人", "有", "我"),
}

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def tokens_col(col: str | Column = "text") -> Column:
    return whitespace_tokens(col)


def with_token_counts(
    df: DataFrame, col: str = "text", tokenizer=None
) -> DataFrame:
    """Token counting: whitespace tokens and a BPE-ish word/symbol
    count (runs of alphanumerics or single punctuation marks).

    ``tokenizer`` is the injection point for a REAL subword tokenizer
    (same pattern as multimodal's codec injection,
    operators/multimodal.py): pass ``fn(batch: pd.Series[str]) ->
    pd.Series[int]`` — e.g. a tiktoken/HF-tokenizers count — and it
    runs as an Arrow-batched pandas UDF in place of the regex
    approximation. The libraries are not in this container, so the
    default stays the oracle-mirrorable JVM expression; the Spark-side
    plumbing (batching, schema, column contract) is identical either
    way.

    Precondition: ``df`` must not already carry ``n_tokens`` /
    ``n_bpe_tokens`` columns — the single-select append (one plan
    analysis instead of one per withColumn) would yield duplicate
    names and ambiguous references downstream."""
    toks = tokens_col(col)
    if tokenizer is not None:
        _bpe_count = F.pandas_udf(
            lambda texts: tokenizer(texts).astype("int32"), "int"
        )
        bpe_count = _bpe_count(F.col(col))
    else:
        bpe_count = F.size(
            F.regexp_extract_all(
                F.lower(F.col(col)), F.lit(r"([a-z0-9]+|[^a-z0-9\s])"), 1
            )
        )
    return df.select(
        "*", F.size(toks).alias("n_tokens"), bpe_count.alias("n_bpe_tokens")
    )


def quality_score(df: DataFrame, col: str = "text") -> DataFrame:
    """Document quality features: length, mean token length, stopword
    ratio, punctuation ratio, and a composite score — the standard
    cheap pre-filters before expensive dedup/training steps.

    Precondition: ``df`` must not already carry any of the five output
    feature columns (``n_tokens`` … ``quality_score``) — the
    single-select append would duplicate the names."""
    toks = tokens_col(col)
    n_tok = F.size(toks)
    n_chars = F.length(col)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    # native length-difference, not a per-character HOF filter: the
    # split('')+rlike form evaluated an interpreted lambda per CHAR
    # (15.4 s vs 2.3 s at the 5M-doc rung, counts identical — one
    # unanchored single-char rlike match ⟺ the char is removed by the
    # same-pattern regexp_replace)
    n_punct = F.length(col) - F.length(F.regexp_replace(F.col(col), r"[^\w\s]", ""))
    mean_tok_len = F.when(n_tok > 0, (n_chars - (n_tok - 1)) / n_tok)
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    score = (
        F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.4
        + stop_ratio * 0.3
        + (1 - punct_ratio) * 0.3
    )
    # ONE select, not five chained withColumn: each withColumn copies
    # and re-analyzes the whole plan driver-side (~5 py4j round-trips
    # plus analysis per call) — same output columns in the same order
    return df.select(
        "*",
        n_tok.alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def predict_language(df: DataFrame, col: str = "text") -> DataFrame:
    """Heuristic language ID: cascade-argmax of marker-lexicon hits
    with a fixed preference order (list order of LANG_MARKERS), 'und'
    when no marker hits at all. The cascade — clause k requires
    score_k > 0 and score_k >= every LATER language — is a
    deterministic argmax that ports verbatim to SQL.

    Plan shape: ALL languages' counts come from ONE fold over ONE
    tokenization (zip_with accumulator), and the fold is materialized
    behind a Generate (explode of a one-element array) before the
    cascade reads it. Without the barrier CollapseProject inlines the
    per-language score expressions into every CASE reference and the
    document is re-tokenized ~20× per row — measured 35 s → one-pass
    at the 5M-doc rung. Each score is the integer count of the
    language's marker tokens in the document."""
    langs = list(LANG_MARKERS)
    toks = whitespace_tokens(F.lower(F.col(col)))
    arrs = [F.array(*[F.lit(m) for m in LANG_MARKERS[lang]]) for lang in langs]
    zeros = F.array_repeat(F.lit(0), len(langs))
    scores_fold = F.aggregate(
        toks,
        zeros,
        lambda acc, t: F.zip_with(
            acc,
            F.array(*[F.array_contains(a, t).cast("int") for a in arrs]),
            lambda x, y: x + y,
        ),
    )
    out = df.select("*", F.explode(F.array(scores_fold)).alias("__scores"))
    sc = {
        lang: F.element_at(F.col("__scores"), i + 1) for i, lang in enumerate(langs)
    }
    pred = F.lit("und")
    for k in reversed(range(len(langs))):
        lang = langs[k]
        cond = sc[lang] > 0
        for other in langs[k + 1 :]:
            cond = cond & (sc[lang] >= sc[other])
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    for lang in langs:
        out = out.withColumn(f"score_{lang}", sc[lang])
    return out.withColumn("pred_lang", pred).drop("__scores")


def document_fingerprint(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document fingerprint: lexicographic min of md5 hex over word
    ``n``-gram shingles (a 1-permutation MinHash on a cryptographic
    hash). Docs with < n tokens fingerprint as NULL.

    Shingles are built (``ascii_tokens``) and hashed in hashlib per
    Arrow batch — the Column form it replaced ran the md5 inside an
    interpreted higher-order ``transform`` (~19 µs/shingle, the
    minhash disease: 503 s vs 20 s at the 5M-doc rung). Lexicographic
    min over [0-9a-f] strings is what the DuckDB oracle's ``list_min``
    computes."""
    id_type = df.schema[id_col].dataType.simpleString()
    nn = n

    def _fp(batches):
        for pdf in batches:
            out = []
            for text in pdf[text_col].tolist():
                toks = ascii_tokens(text)
                if len(toks) < nn:
                    out.append(None)
                    continue
                out.append(
                    min(
                        hashlib.md5(
                            " ".join(toks[i:i + nn]).encode("utf-8")
                        ).hexdigest()
                        for i in range(len(toks) - nn + 1)
                    )
                )
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "fingerprint": out})

    return df.select(id_col, text_col).mapInPandas(
        _fp, f"{id_col} {id_type}, fingerprint string"
    )


def repetition_score(df: DataFrame, n: int = 2, col: str = "text") -> DataFrame:
    """Within-document repetition: 1 − |distinct n-grams| / |n-grams|
    (0 = no repeats). The duplicate-n-gram-fraction quality rule used
    by web-corpus curation pipelines; heavily repetitive documents are
    boilerplate/spam candidates. Map-only, no shuffle.

    n-gram building + set-distinct in Python per Arrow batch — the
    Column form it replaced concat_ws'd every gram inside an
    interpreted ``transform`` (422 s vs 14.6 s at the 5M-doc rung).
    Tokens cannot contain whitespace, so tuple-distinct ≡ the oracle's
    joined-string-distinct; ``1 - d/g`` rounds HALF_UP. Null and
    short docs score 0.0."""
    from strat_backtest_spark.functions.numeric import round_half_up

    id_type = df.schema["doc_id"].dataType.simpleString()
    nn = n

    def _rep(batches):
        for pdf in batches:
            out = np.zeros(len(pdf), dtype=np.float64)
            for r, text in enumerate(pdf[col].tolist()):
                toks = ascii_tokens(text)
                g = len(toks) - nn + 1
                if g <= 0:
                    continue
                d = len({tuple(toks[i:i + nn]) for i in range(g)})
                out[r] = 1.0 - d / g
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "repetition": round_half_up(out, 6),
                }
            )

    return df.select("doc_id", col).mapInPandas(
        _rep, f"doc_id {id_type}, repetition double"
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-token-window chunking with overlap — the context-window
    prep stage of a training pipeline: (doc_id, chunk_id, chunk_text,
    n_tokens), stride = chunk_tokens − overlap, last window ragged.
    Map-only: one tokens pass, chunk indices explode as ints and the
    text slices come from the same array — no shuffle, no text
    duplication beyond the overlap itself."""
    stride = int(chunk_tokens) - int(overlap)
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    toks = tokens_col(text_col)
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((n - chunk_tokens) / F.lit(float(stride))).cast("int") + 1
    )
    with_idx = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    window = F.slice(
        F.col("__toks"), F.col("chunk_id") * stride + 1, chunk_tokens
    )
    return with_idx.select(
        id_col,
        "chunk_id",
        F.concat_ws(" ", window).alias("chunk_text"),
        F.size(window).alias("n_tokens"),
    )


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_broadcast_vocab: int = 20_000_000,
) -> DataFrame:
    """Per-document top-k terms by TF-IDF — the classic keyword /
    topic-signal extractor for corpus exploration and quality
    filtering.

    Definition (mirrored verbatim in the SQL oracle so both engines
    produce the same IEEE doubles): tf = raw term count in the doc;
    idf = ln((N + 1.0) / (df + 1.0)) with df = number of docs
    containing the term; score = tf * idf; rank within doc by
    (score DESC, term ASC); keep rank <= k.

    Two physical paths, identical values (path-equivalence unit),
    chosen by the corpus's distinct-term count — the decontaminate
    pattern (operators/dedup.py):

    * broadcast path (vocabulary ≤ ``max_broadcast_vocab``, the
      normal case — vocabulary grows sublinearly in corpus size,
      Heaps' law): the doc-frequency table is vocabulary-sized, so it
      collects to the driver and rides a SparkContext broadcast as a
      lexicographically sorted term array + idf float64 array; each
      document is then scored and top-k'd LOCALLY in one Arrow map
      pass (per-worker khash term lookup, one np.unique per batch for
      the (doc, term) counts, one lexsort for the ranking). The
      exploded term stream NEVER shuffles — the only exchange anywhere
      is the slim per-doc-distinct (term) stream feeding the
      vocabulary aggregate, with map-side combine. The first plan
      (explode → (doc,term) agg → idf join → per-doc window) measured
      741 s at the 5M-doc rung; this shape removes all three of its
      corpus-sized shuffles. EAGER at construction: the vocabulary
      aggregate and an N-count run as Spark jobs before this returns,
      and the broadcast lives as long as the returned plan (same
      lifecycle note as decontaminate's docstring).
    * join path (oversized vocabulary): everything stays distributed —
      explode → (doc, term) aggregate → vocabulary join → per-doc
      window. Graceful degradation, nothing collects to the driver.

    Rounding and the final rank filter stay Column ops on both paths
    so engine-side round semantics are identical.
    """
    spark = df.sparkSession
    lowered = df.select(F.col(id_col), F.lower(F.col(text_col)).alias("__lc"))
    # Doc-frequency partials via the Arrow combiner (same move as the
    # unigram/bigram vocab builds): each batch emits one (term, df)
    # row per distinct term in the batch — per-doc dedup via Python
    # set, cross-doc counting via np.unique — so the aggregate's
    # input is distinct-terms-per-batch, not the (doc, term)-sized
    # stream the JVM array_distinct+explode produced.
    dfreq_df = (
        _partial_docfreq_counts(lowered.select("__lc"))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    dfreq_df.persist(StorageLevel.DISK_ONLY)
    try:
        vocab_n = dfreq_df.count()
        if vocab_n > int(max_broadcast_vocab):
            return _tfidf_join_path(df, k, text_col, id_col)
        vocab_pdf = dfreq_df.toPandas()
    finally:
        dfreq_df.unpersist()
    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("n")).first()["n"]

    # Sort the vocabulary lexicographically so a term's position IS its
    # ORDER BY term ASC rank (UTF-8 byte order == codepoint order ==
    # Python str order) — the per-doc tie-break then sorts int indices,
    # never strings.
    vocab_pdf = vocab_pdf.sort_values("term", kind="mergesort", ignore_index=True)
    terms_arr = vocab_pdf["term"].to_numpy(dtype=object)
    # Same IEEE expression as the join path / SQL oracle:
    # ln((N + 1.0) / (df + 1.0)) on float64.
    idf_arr = np.log(
        (float(n_docs) + 1.0) / (vocab_pdf["df"].to_numpy(dtype=np.float64) + 1.0)
    )
    bcast = spark.sparkContext.broadcast((terms_arr, idf_arr))
    bid = next(_VOCAB_SEQ)  # driver-assigned; see _VOCAB_INDEX_MEMO note
    id_type = df.schema[id_col].dataType.simpleString()
    kk = int(k)

    def _score(batches):
        terms_v, idf_v = bcast.value
        V = len(terms_v)
        index = None
        if V:
            key = ("tfidf", bid, V)
            index = _VOCAB_INDEX_MEMO.get(key)
            if index is None:
                if len(_VOCAB_INDEX_MEMO) >= 8:
                    _VOCAB_INDEX_MEMO.clear()
                index = pd.Index(terms_v)
                _VOCAB_INDEX_MEMO[key] = index
        empty = pd.DataFrame(
            {id_col: [], "term": [], "rank": [], "tfidf": []},
            columns=[id_col, "term", "rank", "tfidf"],
        )
        for pdf in batches:
            ids_arr = pdf[id_col].to_numpy()
            tok_lists = [
                ascii_tokens(x) for x in pdf["__lc"].tolist()
            ]
            lens = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
            )
            total = int(lens.sum())
            if not total or not V:
                yield empty
                continue
            flat = np.empty(total, dtype=object)
            pos = 0
            for ts in tok_lists:
                flat[pos : pos + len(ts)] = ts
                pos += len(ts)
            di = np.repeat(np.arange(len(tok_lists), dtype=np.int64), lens)
            ti = index.get_indexer(flat)  # always >= 0: vocab is this corpus's
            # (doc, term) counts in one C pass; di*V+ti fits int64 (V and
            # batch size both bounded far below 2^31.5).
            key_dt, tf = np.unique(di * np.int64(V) + ti, return_counts=True)
            di_u = key_dt // V
            ti_u = key_dt % V
            score = tf.astype(np.float64) * idf_v[ti_u]
            order = np.lexsort((ti_u, -score, di_u))
            d_sorted = di_u[order]
            seg_start = np.r_[True, d_sorted[1:] != d_sorted[:-1]]
            starts = np.flatnonzero(seg_start)
            seg_len = np.diff(np.r_[starts, len(d_sorted)])
            rank = np.arange(len(d_sorted), dtype=np.int64) - np.repeat(
                starts, seg_len
            )
            keep = rank < kk
            sel = order[keep]
            yield pd.DataFrame(
                {
                    id_col: ids_arr[di_u[sel]],
                    "term": terms_v[ti_u[sel]],
                    "rank": (rank[keep] + 1).astype(np.int32),
                    "tfidf": score[sel],
                },
                columns=[id_col, "term", "rank", "tfidf"],
            )

    out = lowered.mapInPandas(
        _score, f"{id_col} {id_type}, term string, rank int, tfidf double"
    )
    return out.select(
        id_col, "term", "rank", F.round("tfidf", 6).alias("tfidf")
    )


def _tfidf_join_path(
    df: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """``tfidf_topk``'s over-the-vocabulary-gate path: explode → ONE
    groupBy(doc, term) with map-side partial aggregation; the
    doc-frequency table derives from that same aggregate
    (vocabulary-sized) and joins back on the term hash; N is a 1-row
    broadcast aggregate; per-doc ranking is a window. Document text
    never shuffles: only (id, term, count) rows move."""
    toks = tokens_col(text_col)
    terms = df.select(
        F.col(id_col), F.explode(toks).alias("term")
    ).withColumn("term", F.lower(F.col("term")))
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).alias("n_docs")
    )
    from pyspark.sql import Window

    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "rank", F.round("tfidf", 6).alias("tfidf"))
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_broadcast_vocab: int = 20_000_000,
) -> DataFrame:
    """CCNet-style language-model quality proxy: the mean unigram
    log-probability of a document under the corpus's own empirical
    unigram distribution. Boilerplate/TLD-spam scores high (common
    tokens), gibberish scores very low — thresholding this is the
    classic cheap LM quality filter when a real KenLM isn't available.

    score(d) = avg over tokens t of ln(count(t) / T), T = corpus
    token count. Docs with zero tokens drop out (no tokens to score) —
    identical in the SQL mirror.

    Same two-path shape as ``tfidf_topk`` (vocabulary gate, broadcast
    khash + one Arrow map pass vs fully distributed join fallback):
    the unigram count table is vocabulary-sized, so by default it
    collects, broadcasts as (sorted terms, ln(c/T) float64), and every
    document scores LOCALLY — the exploded term stream never joins or
    shuffles. The corpus total T derives from the collected counts
    (exact int64 sum), costing no extra job. EAGER at construction
    (one vocabulary-aggregate job); broadcast lifecycle as documented
    on decontaminate.

    The vocabulary aggregate itself uses the Arrow partial-count
    combiner (``_partial_ngram_counts``) rather than a JVM
    explode→groupBy: the explode materializes one aggregate input row
    per TOKEN INSTANCE (266M at the 5M-doc rung — measured 141 s for
    the whole op), while the combiner collapses each Arrow batch to
    its distinct terms in one np.unique before the exchange (the
    sibling bigram op, which does strictly more work, measured 62 s
    on that shape). Counts are exact either way — sum of per-batch
    partials."""
    spark = df.sparkSession
    lowered = df.select(F.col(id_col), F.lower(F.col(text_col)).alias("__lc"))
    counts_df = (
        _partial_ngram_counts(lowered.select("__lc"), 1)
        .groupBy("term")
        .agg(F.sum("c").alias("c"))
    )
    counts_df.persist(StorageLevel.DISK_ONLY)
    try:
        vocab_n = counts_df.count()
        if vocab_n > int(max_broadcast_vocab):
            return _unigram_join_path(df, text_col, id_col)
        counts_pdf = counts_df.toPandas()
    finally:
        counts_df.unpersist()
    c_arr = counts_pdf["c"].to_numpy(dtype=np.int64)
    T = int(c_arr.sum())
    terms_arr = counts_pdf["term"].to_numpy(dtype=object)
    # Same IEEE expression as the join path / SQL oracle: ln(c / T)
    # with float64 division first, then the log.
    logp_arr = np.log(c_arr.astype(np.float64) / float(T)) if T else c_arr.astype(np.float64)
    bcast = spark.sparkContext.broadcast((terms_arr, logp_arr))
    bid = next(_VOCAB_SEQ)  # driver-assigned; see _VOCAB_INDEX_MEMO note
    id_type = df.schema[id_col].dataType.simpleString()

    def _score(batches):
        terms_v, logp_v = bcast.value
        V = len(terms_v)
        index = None
        if V:
            key = ("unigram", bid, V)
            index = _VOCAB_INDEX_MEMO.get(key)
            if index is None:
                if len(_VOCAB_INDEX_MEMO) >= 8:
                    _VOCAB_INDEX_MEMO.clear()
                index = pd.Index(terms_v)
                _VOCAB_INDEX_MEMO[key] = index
        empty = pd.DataFrame(
            {id_col: [], "n_tokens": [], "logprob": []},
            columns=[id_col, "n_tokens", "logprob"],
        )
        for pdf in batches:
            ids_arr = pdf[id_col].to_numpy()
            tok_lists = [
                ascii_tokens(x) for x in pdf["__lc"].tolist()
            ]
            lens = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
            )
            total = int(lens.sum())
            if not total or not V:
                yield empty
                continue
            flat = np.empty(total, dtype=object)
            pos = 0
            for ts in tok_lists:
                flat[pos : pos + len(ts)] = ts
                pos += len(ts)
            di = np.repeat(np.arange(len(tok_lists), dtype=np.int64), lens)
            vals = logp_v[index.get_indexer(flat)]
            sums = np.bincount(di, weights=vals, minlength=len(tok_lists))
            nz = lens > 0
            yield pd.DataFrame(
                {
                    id_col: ids_arr[nz],
                    "n_tokens": lens[nz],
                    "logprob": sums[nz] / lens[nz].astype(np.float64),
                },
                columns=[id_col, "n_tokens", "logprob"],
            )

    out = lowered.mapInPandas(
        _score, f"{id_col} {id_type}, n_tokens long, logprob double"
    )
    return out.select(
        id_col, "n_tokens", F.round("logprob", 6).alias("logprob")
    )


def _unigram_join_path(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """``unigram_logprob``'s over-the-vocabulary-gate path: one
    explode → term-count aggregate (map-side combine,
    vocabulary-sized result) joined back on the term stream, corpus
    total as a broadcast 1-row aggregate; text never shuffles."""
    toks = tokens_col(text_col)
    terms = df.select(
        F.col(id_col), F.explode(toks).alias("term")
    ).withColumn("term", F.lower(F.col("term")))
    counts = terms.groupBy("term").agg(F.count("*").alias("c"))
    total = terms.agg(F.count("*").alias("T"))
    return (
        terms.join(counts, "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("c") / F.col("T"))), 6).alias("logprob"),
        )
    )


def _partial_docfreq_counts(df_lowered: DataFrame) -> DataFrame:
    """Arrow map stage emitting per-batch PARTIAL (term, df) document
    -frequency counts over ``__lc``: per-doc dedup (Python set), then
    one np.unique across the batch's docs. The exchange that follows
    carries distinct-terms-per-batch — the combiner shape shared with
    ``_partial_ngram_counts``, specialized to count DOCUMENTS
    containing a term rather than instances."""

    def _count(batches):
        empty = pd.DataFrame({"term": [], "df": []}, columns=["term", "df"])
        for pdf in batches:
            terms: list[str] = []
            for x in pdf["__lc"].tolist():
                terms.extend(set(ascii_tokens(x)))
            if not terms:
                yield empty
                continue
            uniq, cnt = np.unique(np.asarray(terms, dtype=object), return_counts=True)
            yield pd.DataFrame({"term": uniq, "df": cnt.astype(np.int64)})

    return df_lowered.mapInPandas(_count, "term string, df long")


def _partial_ngram_counts(df_lowered: DataFrame, n: int) -> DataFrame:
    """Arrow map stage emitting per-batch PARTIAL (term, c) n-gram
    counts over the ``__lc`` column — the word-count combiner done in
    C (np.unique) BEFORE anything shuffles. The exchange that follows
    carries one row per distinct n-gram per batch, not one per token
    instance: at the 5M-doc rung that is the difference between
    shuffling ~266M shingle instances and a few million partials.

    Interpreted-HOF trap (round-7 lesson, BASELINE "MinHash signature
    stage" row): building n-grams with a Catalyst ``transform(...,
    concat_ws(slice(...)))`` evaluates INTERPRETED per position
    (~19 µs each); the Python loop below is a C-level str join plus
    one np.unique, 1-2 orders faster end-to-end."""
    nn = int(n)

    def _count(batches):
        empty = pd.DataFrame({"term": [], "c": []}, columns=["term", "c"])
        for pdf in batches:
            grams: list[str] = []
            for x in pdf["__lc"].tolist():
                if not isinstance(x, str):
                    continue
                ts = ascii_tokens(x)
                if len(ts) < nn:
                    continue
                if nn == 1:
                    grams.extend(ts)
                else:
                    grams.extend(
                        " ".join(ts[i : i + nn]) for i in range(len(ts) - nn + 1)
                    )
            if not grams:
                yield empty
                continue
            uniq, cnt = np.unique(np.asarray(grams, dtype=object), return_counts=True)
            yield pd.DataFrame({"term": uniq, "c": cnt.astype(np.int64)})

    return df_lowered.mapInPandas(_count, "term string, c long")


def ngram_topk(
    df: DataFrame,
    n: int = 3,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide top-k most frequent word n-grams — the vocabulary /
    boilerplate profiler (the first thing to run on a new crawl: the
    head of this list IS the site template noise dedup must kill).

    Rank by (count DESC, ngram ASC); returns (ngram, n_docs-agnostic
    corpus count, rank). Plan: Arrow partial-count stage → ONE slim
    (term, c) exchange with map-side combine → global top-k
    (TakeOrderedAndProject — each partition forwards only its local
    top-k, the driver merges k-sized heaps; nothing corpus-sized ever
    sorts). The k winners get ranks via a single-partition window
    over k rows."""
    if int(n) < 1 or int(k) < 1:
        raise ValueError("n and k must be positive")
    lowered = df.select(F.lower(F.col(text_col)).alias("__lc"))
    counts = (
        _partial_ngram_counts(lowered, n)
        .groupBy("term")
        .agg(F.sum("c").alias("cnt"))
    )
    topk = counts.orderBy(F.col("cnt").desc(), F.col("term").asc()).limit(int(k))
    w = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    return topk.select(
        F.col("term").alias("ngram"),
        F.col("cnt"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_broadcast_vocab: int = 20_000_000,
) -> DataFrame:
    """Bigram language-model quality proxy: the mean conditional
    log-probability ln(c(w1 w2) / c(w1)) over a document's bigrams,
    with counts from the corpus's own empirical distribution — one
    Markov order past ``unigram_logprob``, catching word-salad text
    whose unigrams are individually common. c(w1) is the TOTAL corpus
    unigram count (simple MLE denominator, identical in the SQL
    mirror). Docs with < 2 tokens drop out.

    Same two-path shape as tfidf_topk/unigram_logprob: ONE Arrow
    partial-count pass feeds both vocab tables (bigrams tagged 'b',
    unigrams 'u' — one slim exchange builds both aggregates); under
    the gate they collect, broadcast as sorted-term + log-count
    arrays, and every document scores locally in a second Arrow map
    pass — document text never shuffles. Above the gate, the fully
    distributed join plan (``_bigram_join_path``)."""
    spark = df.sparkSession
    lowered = df.select(F.col(id_col), F.lower(F.col(text_col)).alias("__lc"))
    lc_only = lowered.select("__lc")
    tagged = _partial_ngram_counts(lc_only, 1).select(
        F.concat(F.lit("u "), F.col("term")).alias("term"), "c"
    ).unionAll(
        _partial_ngram_counts(lc_only, 2).select(
            F.concat(F.lit("b "), F.col("term")).alias("term"), "c"
        )
    )
    counts_df = tagged.groupBy("term").agg(F.sum("c").alias("c"))
    counts_df.persist(StorageLevel.DISK_ONLY)
    try:
        vocab_n = counts_df.count()
        if vocab_n > int(max_broadcast_vocab):
            return _bigram_join_path(df, text_col, id_col)
        counts_pdf = counts_df.toPandas()
    finally:
        counts_df.unpersist()
    tags = counts_pdf["term"].str.slice(0, 2)
    uni = counts_pdf[tags == "u "]
    big = counts_pdf[tags == "b "]
    # Broadcast RAW counts (float64), not ln(count): the scorer must
    # evaluate ln(c2 / c1) exactly as the SQL mirror does — a
    # ln-then-exp round trip would perturb the last ulp.
    u_terms = uni["term"].str.slice(2).to_numpy(dtype=object)
    u_cnt = uni["c"].to_numpy(dtype=np.float64)
    b_terms = big["term"].str.slice(2).to_numpy(dtype=object)
    b_cnt = big["c"].to_numpy(dtype=np.float64)
    bcast = spark.sparkContext.broadcast((u_terms, u_cnt, b_terms, b_cnt))
    bid = next(_VOCAB_SEQ)  # driver-assigned; see _VOCAB_INDEX_MEMO note
    id_type = df.schema[id_col].dataType.simpleString()

    def _score(batches):
        u_t, u_v, b_t, b_v = bcast.value
        key = ("bigram", bid, len(u_t), len(b_t))
        memo = _VOCAB_INDEX_MEMO.get(key)
        if memo is None:
            if len(_VOCAB_INDEX_MEMO) >= 8:
                _VOCAB_INDEX_MEMO.clear()
            memo = (pd.Index(u_t), pd.Index(b_t))
            _VOCAB_INDEX_MEMO[key] = memo
        u_idx, b_idx = memo
        empty = pd.DataFrame(
            {id_col: [], "n_bigrams": [], "logprob": []},
            columns=[id_col, "n_bigrams", "logprob"],
        )
        for pdf in batches:
            ids_arr = pdf[id_col].to_numpy()
            bgs: list[str] = []
            w1s: list[str] = []
            lens = np.zeros(len(pdf), dtype=np.int64)
            for row_i, x in enumerate(pdf["__lc"].tolist()):
                ts = ascii_tokens(x)
                if len(ts) < 2:
                    continue
                lens[row_i] = len(ts) - 1
                w1s.extend(ts[:-1])
                bgs.extend(
                    " ".join(p) for p in zip(ts[:-1], ts[1:])
                )
            if not bgs:
                yield empty
                continue
            c2 = b_v[b_idx.get_indexer(np.asarray(bgs, dtype=object))]
            c1 = u_v[u_idx.get_indexer(np.asarray(w1s, dtype=object))]
            vals = np.log(c2 / c1)
            di = np.repeat(np.arange(len(pdf), dtype=np.int64), lens)
            sums = np.bincount(di, weights=vals, minlength=len(pdf))
            nz = lens > 0
            yield pd.DataFrame(
                {
                    id_col: ids_arr[nz],
                    "n_bigrams": lens[nz],
                    "logprob": sums[nz] / lens[nz].astype(np.float64),
                },
                columns=[id_col, "n_bigrams", "logprob"],
            )

    out = lowered.mapInPandas(
        _score, f"{id_col} {id_type}, n_bigrams long, logprob double"
    )
    return out.select(id_col, "n_bigrams", F.round("logprob", 6).alias("logprob"))


def _bigram_join_path(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """``bigram_logprob``'s over-the-gate path: explode (doc, bigram,
    w1) rows, join the bigram-count and unigram-count aggregates, one
    per-doc mean — everything distributed, text never shuffles (only
    the slim term streams move)."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    base = df.select(F.col(id_col), toks.alias("__ts")).filter(F.size("__ts") >= 2)
    pairs = base.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(F.col("__ts"), 1, F.size("__ts") - 1),
                F.slice(F.col("__ts"), 2, F.size("__ts") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bg"),
    ).withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
    unis = df.select(
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
        ).alias("w1")
    ).groupBy("w1").agg(F.count("*").alias("c1"))
    bigs = pairs.groupBy("bg").agg(F.count("*").alias("c2"))
    return (
        pairs.join(bigs, "bg")
        .join(unis, "w1")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("c2") / F.col("c1"))), 6).alias("logprob"),
        )
    )


def quality_classifier(
    docs: DataFrame,
    weights,
    bias: int = 0,
    threshold: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    bigram_weights=None,
) -> DataFrame:
    """Model-based quality filtering — the CCNet/fastText-style gate a
    production curation pipeline runs after the heuristic scores: a
    linear classifier over hashed bag-of-words features,
    ``logit = bias + Σ_tokens w[md5_hash(token) % dim]``, keep iff
    ``logit > threshold``. The WEIGHTS are injected (train the model
    offline — fastText, scikit logreg — and export integer
    micro-units); the engine's job is scoring 100 TB, which is this
    one map-only Arrow pass: no shuffle, no vocabulary table, feature
    hashing replaces the embedding lookup exactly as in the original
    fastText trick.

    Integer weights make the logit an EXACT sum — addition order
    cannot change it, so any engine computes the identical value
    (the q98 oracle reproduces weights and hash in pure SQL;
    probability needs only a driver-side sigmoid(logit/scale) and is
    deliberately NOT computed here: exp() differs across engines,
    comparisons don't). Tokenizer is the module's mirrored ASCII-\\s
    convention; the md5-prefix hash is ``functions/hashing.md5_hash``
    (byte-identical in any engine with md5).

    ``bigram_weights`` (optional) adds fastText-style hashed bigram
    features over the SAME filtered token sequence:
    ``logit += Σ_adjacent_pairs w2[md5_hash(t_i || ' ' || t_{i+1}) %
    dim2]`` — the bigram string uses a single-space joiner, so the SQL
    mirror is ``toks[i] || ' ' || toks[i+1]``. Same map-only shape:
    the feature hash replaces any pair vocabulary.

    Scoring is fully vectorized per Arrow batch. Tokenization takes
    the C fast path when it can: the batch's texts are joined into one
    mega-string with a NUL sentinel token between rows and split with
    ``str.split()`` (C loop, drops empties, splits on exactly the
    ASCII ``\\s`` set PLUS the unicode-whitespace/NUL characters the
    per-batch guard regex rules out first — any hit falls back to the
    per-row ``ASCII_WS`` split, so semantics are identical either way).
    ``pd.factorize`` over the flat token stream means md5 runs once
    per DISTINCT token per batch (memoized across batches per
    worker); bigrams factorize as INT PAIRS of unigram codes, so the
    pair string is built and hashed once per distinct pair, never per
    occurrence. Per-doc sums are int64 cumsum prefix-differences —
    exact integer arithmetic end to end, no float accumulation."""
    w = np.asarray(weights, dtype=np.int64)
    dim = len(w)
    w2 = None if bigram_weights is None else np.asarray(bigram_weights, dtype=np.int64)
    dim2 = 0 if w2 is None else len(w2)
    b, thr = int(bias), int(threshold)
    id_type = docs.schema[id_col].dataType.simpleString()

    def _hash_uniques(uniques, memo: dict, d: int) -> "np.ndarray":
        uw = np.empty(len(uniques), dtype=np.int64)
        for j, t in enumerate(uniques):
            ix = memo.get(t)
            if ix is None:
                ix = md5_hash_py(t) % d
                memo[t] = ix
            uw[j] = ix
        return uw

    def _segment_sums(vals: "np.ndarray", rows: "np.ndarray", n: int) -> "np.ndarray":
        # rows is non-decreasing (token order preserves row order);
        # exact int64 prefix sums handle empty segments for free
        cs = np.concatenate(([0], np.cumsum(vals, dtype=np.int64)))
        per_row = np.bincount(rows, minlength=n).astype(np.int64)
        ends = np.cumsum(per_row)
        return cs[ends] - cs[ends - per_row]

    # characters where str.split() and ASCII \s+ disagree: unicode
    # whitespace outside [ \t\n\r\f\v], plus the \x01 row sentinel
    # itself (NOT \x00: numpy's str-scalar coercion strips trailing
    # NULs, so an object-array == "\x00" comparison silently never
    # matches — pinned by the parity unit's sentinel-collision doc)
    _fallback_det = re.compile(
        "[\\x01\\x1c-\\x1f\\x85\\xa0\\u1680\\u2000-\\u200a"
        "\\u2028\\u2029\\u202f\\u205f\\u3000]"
    )

    def _tokens(texts: "pd.Series", n: int):
        """(token array, row index array) under the module's ASCII-\\s
        convention — C mega-split fast path, exact regex fallback."""
        joined = "\n".join(texts)
        if _fallback_det.search(joined) is None:
            flat = np.array(("\n\x01\n".join(texts)).split(), dtype=object)
            is_sep = flat == "\x01"
            return flat[~is_sep], np.cumsum(is_sep)[~is_sep]
        exploded = texts.str.split(ASCII_WS).explode()
        keep_tok = exploded.notna() & (exploded != "")
        toks = exploded[keep_tok]
        return toks.to_numpy(), toks.index.to_numpy(dtype=np.int64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo1: dict[str, int] = {}
        memo2: dict[str, int] = {}
        for pdf in batches:
            n = len(pdf)
            tarr, rows = _tokens(
                pdf[text_col].reset_index(drop=True).fillna(""), n
            )
            logits = np.full(n, b, dtype=np.int64)
            if len(tarr):
                codes, uniques = pd.factorize(tarr, sort=False)
                uw = w[_hash_uniques(uniques, memo1, dim)]
                logits += _segment_sums(uw[codes], rows, n)
                if w2 is not None and len(tarr) > 1:
                    adj = rows[:-1] == rows[1:]
                    if adj.any():
                        nu = len(uniques)
                        pair = (
                            codes[:-1].astype(np.int64) * nu + codes[1:]
                        )[adj]
                        pcodes, puniq = pd.factorize(pair, sort=False)
                        bw = np.empty(len(puniq), dtype=np.int64)
                        for j, pu in enumerate(puniq):
                            bg = uniques[pu // nu] + " " + uniques[pu % nu]
                            ix = memo2.get(bg)
                            if ix is None:
                                ix = md5_hash_py(bg) % dim2
                                memo2[bg] = ix
                            bw[j] = ix
                        logits += _segment_sums(
                            w2[bw[pcodes]], rows[:-1][adj], n
                        )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "logit": logits,
                    "keep": logits > thr,
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        run, f"{id_col} {id_type}, logit long, keep boolean"
    )


def fixture_weights(dim: int = 4096) -> list[int]:
    """Deterministic stand-in for trained classifier weights, spanning
    ±1e6 micro-units — pure integer arithmetic so the q98 oracle
    regenerates it in SQL: w[i] = ((i*2654435761 + 12345) % 2000001)
    - 1000000."""
    return [
        int((i * 2654435761 + 12345) % 2_000_001) - 1_000_000 for i in range(dim)
    ]

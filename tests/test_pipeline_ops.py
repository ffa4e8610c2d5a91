"""Edge-case units for the pipeline operators whose catalog oracles
exercise only the synthetic data's happy path."""

import datetime

import pytest

from pyspark.sql import functions as F

from conftest import SF_SMALL


def test_lookback_join_bucket_boundary(spark):
    """Matches that cross the quantization-bucket boundary must still
    be found (the probe explodes to 2 buckets), and exclusive bounds
    hold exactly."""
    from strat_backtest_spark.operators.rangejoin import lookback_join

    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def ts(mins):
        return t0 + datetime.timedelta(minutes=mins)

    probe = spark.createDataFrame(
        [(1, 100, ts(62))], "event_id long, user_id long, ts timestamp"
    )
    build = spark.createDataFrame(
        [
            (10, 100, ts(3)),    # 59 min before: in window, PREVIOUS bucket
            (11, 100, ts(61)),   # 1 min before: in window, same bucket
            (12, 100, ts(2)),    # exactly 60 min before: excluded (exclusive)
            (13, 100, ts(62)),   # same instant: excluded (strictly prior)
            (14, 999, ts(61)),   # other user: excluded
        ],
        "event_id long, user_id long, ts timestamp",
    )
    out = lookback_join(
        probe, build, key_col="user_id", time_col="ts",
        probe_id_col="event_id", lookback="1 hour",
    )
    got = sorted(r["b_event_id"] for r in out.collect())
    assert got == [10, 11]

    # a probe with zero matches keeps exactly one null row
    lonely = spark.createDataFrame(
        [(2, 777, ts(62))], "event_id long, user_id long, ts timestamp"
    )
    out2 = lookback_join(
        lonely, build, key_col="user_id", time_col="ts",
        probe_id_col="event_id", lookback="1 hour",
    )
    rows = out2.collect()
    assert len(rows) == 1 and rows[0]["b_event_id"] is None


def test_deterministic_sample_is_partition_invariant(spark):
    """The whole point vs df.sample(): identical membership no matter
    how the data is partitioned."""
    from strat_backtest_spark.operators.sampling import deterministic_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = set(r["doc_id"] for r in deterministic_sample(df.repartition(1), 0.3).collect())
    b = set(r["doc_id"] for r in deterministic_sample(df.repartition(13), 0.3).collect())
    assert a == b
    assert 0.2 < len(a) / 2000 < 0.4


def test_connected_components_chain(spark):
    """A 10-node path graph needs ~9 propagation rounds — well past the
    1-2 rounds the LSH clusters take — and must still label every node
    with the chain minimum."""
    from strat_backtest_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 19)] + [(100, 101)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert all(got[i] == 10 for i in range(10, 20))
    assert got[100] == 100 and got[101] == 100
    # same graph through the DISTRIBUTED star-contraction path
    got_d = {
        r["id"]: r["component"]
        for r in connected_components(pairs, local_threshold=0).collect()
    }
    assert got_d == got


def test_connected_components_deep_chain(spark):
    """Adversarial topology: a 60-node path (diameter 59, far past
    max_iter=25 propagation rounds) — star contraction must converge
    in O(log n) rounds and label the whole chain with its minimum.
    Edges deliberately arrive big->small and shuffled."""
    import random

    from strat_backtest_spark.operators.dedup import connected_components

    edges = [(i + 1, i) for i in range(1000, 1059)]  # reversed orientation
    random.Random(7).shuffle(edges)
    pairs = spark.createDataFrame(edges + [(7, 7)], "id_a long, id_b long")
    # local_threshold=0 forces the distributed path — the one whose
    # round count must not depend on diameter
    got = {
        r["id"]: r["component"]
        for r in connected_components(pairs, local_threshold=0).collect()
    }
    assert all(got[i] == 1000 for i in range(1000, 1060))
    assert got[7] == 7  # self-pair-only node keeps its own label


def test_connected_components_spares_foreign_persisted_state(spark):
    """The round-eviction bookkeeping must only ever unpersist the CC
    run's OWN checkpoint blocks (ADVICE r12): a DataFrame another job
    persisted on the same SparkContext — including a localCheckpointed
    one, which is UNRECOMPUTABLE if its blocks are evicted — must
    survive a full distributed star-contraction run with its blocks
    intact and its rows still readable."""
    from pyspark.storagelevel import StorageLevel

    from strat_backtest_spark.operators.dedup import connected_components

    foreign = spark.range(500).selectExpr("id", "id * 2 as y").localCheckpoint(
        storageLevel=StorageLevel.DISK_ONLY
    )
    foreign_id = int(foreign._jdf.queryExecution().analyzed().rdd().id())
    assert foreign.count() == 500

    edges = [(i + 1, i) for i in range(1000, 1059)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(pairs, local_threshold=0).collect()
    }
    assert all(got[i] == 1000 for i in range(1000, 1060))

    jsc = spark.sparkContext._jsc
    live = {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}
    assert foreign_id in live, "CC eviction unpersisted a foreign RDD"
    # and the blocks are genuinely still usable, not just registered
    assert foreign.selectExpr("sum(y)").collect()[0][0] == 2 * sum(range(500))


def test_union_find_rows_handoff(spark):
    """_union_find_local with pre-collected rows must equal the
    collect-inside path (the one-bounded-collect gate rewrite)."""
    from strat_backtest_spark.operators.dedup import _union_find_local

    p = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 5)], "u bigint, v bigint"
    )

    def rows(df):
        return sorted(tuple(r) for r in df.select("id", "component").collect())

    a = rows(_union_find_local(p))
    b = rows(_union_find_local(p, rows=p.collect()))
    assert a == b
    assert a == [(1, 1), (2, 1), (3, 1), (5, 5), (10, 10), (11, 10)]


def test_token_count_tokenizer_injection(spark):
    """A real subword tokenizer injects as an Arrow-batched pandas UDF
    in place of the regex approximation — the plumbing contract the
    docstring promises (multimodal-codec pattern)."""
    from strat_backtest_spark.operators.text_analysis import with_token_counts

    df = spark.createDataFrame([("hello, world!",), ("a b c",)], "text string")
    default = {r["text"]: r["n_bpe_tokens"] for r in with_token_counts(df).collect()}
    assert default == {"hello, world!": 4, "a b c": 3}
    fake = lambda s: s.str.len()  # deterministic stand-in "tokenizer"
    injected = {
        r["text"]: r["n_bpe_tokens"]
        for r in with_token_counts(df, tokenizer=fake).collect()
    }
    assert injected == {"hello, world!": 13, "a b c": 5}


def _simhash_text_source(spark):
    """SimHash of a clustered text corpus: 32-bit, non-negative."""
    from strat_backtest_spark.operators.dedup import simhash

    texts = [
        (
            f"d{i:02d}",
            "common shared words everywhere "
            + ("alpha" if i % 2 else "beta") * (i % 5 + 1),
        )
        for i in range(30)
    ]
    docs = spark.createDataFrame(texts, "doc_id string, text string")
    kw = dict(hash_col="simhash", bits=32, bands=4, max_hamming=10, max_bucket_size=6)
    return simhash(docs, 32), kw


def _signed_long_source(spark):
    """Precomputed 64-bit hashes, every fourth with bit 63 set (a
    negative long). Bands 1-2 are one over-cap bucket each and band 0
    is unique per hash, so every pair matches first in a CAPPED band
    and must surface in the TOP band, whose slice holds the sign bit
    (two 3-member buckets of negatives; the non-negatives' top bucket
    is over the cap)."""
    rows = []
    for i in range(24):
        h = (i % 3) * 0x0101 + (i // 3) + (0x5A5A5A5A << 16)
        if i % 4 == 0:
            h = (h | (1 << 63) | ((i % 8) << 48)) - (1 << 64)
        rows.append((f"h{i:02d}", h))
    hashed = spark.createDataFrame(rows, "doc_id string, phash long")
    kw = dict(hash_col="phash", bits=64, bands=4, max_hamming=12, max_bucket_size=3)
    return hashed, kw


@pytest.mark.parametrize("saturated", [False, True], ids=["literal", "saturated"])
@pytest.mark.parametrize("source", [_simhash_text_source, _signed_long_source],
                         ids=["simhash_text", "signed_longs"])
def test_hash_neardup_pairs_match_brute_force(spark, monkeypatch, source, saturated):
    """The banded-Hamming join must emit exactly the pairs within
    ``max_hamming`` that share at least one SURVIVING (≤ cap) band
    bucket — a brute-force Python reference over the collected hashes.
    Tiny caps make hot buckets bite, so first-surviving-band-wins must
    not drop a pair whose first matching band was capped. Both paths:
    the plan-literal chain, and the join-based saturation fallback
    (``_HOT_LITERAL_CAP`` = 0 makes any hot bucket saturate)."""
    from collections import Counter

    from strat_backtest_spark.operators import dedup

    fallback_calls = []
    real_fallback = dedup._drop_hot_buckets_join
    monkeypatch.setattr(
        dedup, "_drop_hot_buckets_join",
        lambda *a: fallback_calls.append(1) or real_fallback(*a),
    )
    if saturated:
        monkeypatch.setattr(dedup, "_HOT_LITERAL_CAP", 0)
    hashed, kw = source(spark)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.hash_neardup_pairs(hashed, **kw).collect()
    }
    assert fallback_calls == ([1] if saturated else [])

    h = {r["doc_id"]: r[kw["hash_col"]] for r in hashed.collect()}
    width = kw["bits"] // kw["bands"]
    mask = (1 << width) - 1

    def band(x, j):  # Python ints shift as infinite two's complement
        return (x >> (j * width)) & mask

    sizes = Counter((j, band(x, j)) for x in h.values() for j in range(kw["bands"]))
    want = {}
    ids = sorted(h)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            shared = any(
                band(h[a], j) == band(h[b], j)
                and sizes[(j, band(h[a], j))] <= kw["max_bucket_size"]
                for j in range(kw["bands"])
            )
            ham = bin((h[a] ^ h[b]) & ((1 << 64) - 1)).count("1")
            if shared and ham <= kw["max_hamming"]:
                want[(a, b)] = ham
    assert any(n > kw["max_bucket_size"] for n in sizes.values()), "cap never bit"
    assert want, "no pairs at all; weak fixture"
    assert got == want
    if source is _signed_long_source:
        assert any(h[a] < 0 or h[b] < 0 for a, b in want), "no negative hash paired"


@pytest.mark.parametrize(
    "fn, kwargs, arg",
    [
        pytest.param("simhash", dict(bits=65), "bits", id="simhash-bits65"),
        pytest.param("simhash", dict(bits=0), "bits", id="simhash-bits0"),
        pytest.param("band_hash", dict(hash_col="h", bits=65, bands=4), "bits",
                     id="band_hash-bits65"),
        pytest.param("band_hash", dict(hash_col="h", bits=32, bands=33), "bands",
                     id="band_hash-bands33"),
        pytest.param("band_hash", dict(hash_col="h", bits=32, bands=0), "bands",
                     id="band_hash-bands0"),
        pytest.param("lsh_candidate_pairs", dict(k=8, bands=9), "bands",
                     id="lsh_candidate_pairs-bands9"),
        pytest.param("lsh_candidate_pairs", dict(k=8, bands=0), "bands",
                     id="lsh_candidate_pairs-bands0"),
        pytest.param("minhash_band_rows", dict(k=8, bands=9), "bands",
                     id="minhash_band_rows-bands9"),
    ],
)
def test_band_parameters_out_of_range_fail_by_name(spark, fn, kwargs, arg):
    """Band layouts that cannot be built refuse by name instead of
    answering wrongly: bits past 64 used to hash like 64, and more
    MinHash bands than slots made every band key "" (all pairs)."""
    from strat_backtest_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "a b c d", 7) + tuple(range(8))],
        "doc_id long, text string, h long, "
        + ", ".join(f"sig_{i} long" for i in range(8)),
    )
    with pytest.raises(ValueError, match=rf"^{arg} must be in 1\.\."):
        getattr(dedup, fn)(df, **kwargs)


# Adversarial documents for the text-hash operators: null, empty and
# short docs, an exact duplicate (0 and 7), tab/newline runs, unicode
# content, heavy repeats, a no-break space (not whitespace to Java's
# ASCII \s), leading/trailing whitespace, and a vertical tab (Java and
# Python re.ASCII \s include it, DuckDB's RE2 \s does not).
_EDGE_DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, None),
    (2, ""),
    (3, "one two"),
    (4, "tabs\tand\nnewlines   spaced tokens here"),
    (5, "unicode naïve café 文字 text tokens"),
    (6, "a a a a a a a"),
    (7, "the quick brown fox jumps over the lazy dog"),
    (8, "a b a b a b a b"),
    (9, "one"),
    (10, "x y z w v u t s"),
    (11, "naïve café naïve café naïve"),
    (12, "nbsp\u00a0joined stays here now"),
    (13, "  \t leading and trailing whitespace \n "),
    (14, "vt\x0bsplit here or not"),
]

# query -> (doc ids that must come out empty, the empty value)
_EDGE_EMPTY = {
    "q22_minhash_signatures": ((1, 2, 3, 9), None),  # < 3 tokens
    "q24_simhash": ((1, 2), 0),                       # no tokens
    "q29_fingerprint": ((1, 2, 3, 9), None),          # < 3 tokens
    "q61_repetition_score": ((1, 2, 3, 9, 10), 0.0),  # no repeated bigram
    "q26_token_counts": ((), None),
    "q27_quality_score": ((), None),
}


@pytest.fixture(scope="module")
def edge_docs_dir(tmp_path_factory):
    import pandas as pd

    d = tmp_path_factory.mktemp("edge_docs")
    pd.DataFrame(_EDGE_DOCS, columns=["doc_id", "text"]).to_parquet(
        d / "documents.parquet"
    )
    return str(d)


@pytest.mark.parametrize("name", list(_EDGE_EMPTY))
def test_text_hash_oracles_on_edge_docs(spark, edge_docs_dir, name):
    """Each catalog entry built on the whitespace split (the four
    document hashes, token counts, quality score) equals its DuckDB
    oracle on the adversarial corpus, exact duplicates agree, and null
    or short docs give the operator's empty value."""
    import duckdb

    from oracle_utils import compare
    from strat_backtest_spark.plans.catalog import CATALOG

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM "
        f"read_parquet('{edge_docs_dir}/documents.parquet')"
    )
    out = CATALOG[name].fn(spark, edge_docs_dir)
    res = compare(out, con, CATALOG[name].oracle, name)
    assert res["ok"], res["detail"]

    rows = {
        r["doc_id"]: {k: v for k, v in r.asDict().items() if k != "doc_id"}
        for r in out.collect()
    }
    assert rows[0] == rows[7]
    empty_ids, empty = _EDGE_EMPTY[name]
    for i in empty_ids:
        assert all(v == empty for v in rows[i].values()), (i, rows[i])
    if empty_ids:
        assert any(v != empty for r in rows.values() for v in r.values())


def test_bpe_tokenizer_through_injection_point(spark):
    """A real subword tokenizer (self-contained BPE, Sennrich 2016)
    exercising with_token_counts' Arrow-batched injection path on the
    documents corpus: merges are deterministic, encoding round-trips
    the word text, and subword counts land between the word-count
    floor and the character-count ceiling."""
    from strat_backtest_spark.functions.bpe import BpeTokenizer, learn_bpe, pretokenize
    from strat_backtest_spark.operators.text_analysis import with_token_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sample = [r.text for r in docs.limit(200).collect()]
    merges = learn_bpe(sample, num_merges=150)
    assert merges == learn_bpe(sample, num_merges=150), "BPE learn must be deterministic"
    tok = BpeTokenizer(merges)

    # encoding is lossless on the pre-token stream (modulo the </w>
    # end-of-word markers merges absorb into tokens)
    t = sample[0]
    assert "".join(tok.encode(t)).replace("</w>", "") == "".join(pretokenize(t))

    out = with_token_counts(docs.limit(50), tokenizer=tok.count).collect()
    for r in out:
        pre = pretokenize(r.text)
        n_chars = sum(len(w) for w in pre)
        assert len(pre) <= r.n_bpe_tokens <= max(n_chars, 1), (
            r.n_bpe_tokens, len(pre), n_chars)


def test_lsh_first_band_wins_respects_capped_earlier_band(spark):
    """First-band-wins dedup must NOT treat a match in a CAPPED earlier
    band as 'already emitted' — that band emitted nothing. Docs 0/1
    collide in band 0 (hot, 30 members > cap 10) AND in band 1 (just
    the two of them): the pair must surface via band 1."""
    from strat_backtest_spark.operators.dedup import lsh_candidate_pairs

    rows = []
    for i in range(30):
        # band 0 = (sig_0, sig_1): identical for everyone -> hot
        # band 1 = (sig_2, sig_3): shared only by docs 0 and 1
        # bands 2-3: unique per doc
        shared23 = 777 if i < 2 else 1000 + i
        rows.append((i, 1, 2, shared23, shared23, 50 + i, 60 + i, 70 + i, 80 + i))
    sigs = spark.createDataFrame(
        rows, "doc_id long, " + ", ".join(f"sig_{j} long" for j in range(8))
    )
    got = lsh_candidate_pairs(sigs, k=8, bands=4, max_bucket_size=10).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(0, 1)]
    # 4/8 slots equal (the global sig_0/sig_1 plus shared sig_2/sig_3)
    assert abs(got[0].est_jaccard - 0.5) < 1e-12


def test_decontaminate_semijoin_matches_broadcast(spark):
    """VERDICT r7 #4: above the broadcast size gate decontaminate must
    degrade to the distributed hash semi-join — value-identically.
    Force the fallback with max_broadcast_shingles=0 and compare both
    paths row-for-row, including threshold<=0 (zero-contamination docs
    with ≥1 shingle must appear on BOTH paths) and zero-shingle docs
    (omitted on both)."""
    from strat_backtest_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox sat still all day long"),
            (3, "completely unrelated text about spark partitions here"),
            (4, "too short"),  # < n tokens: no shingles, omitted
            (5, None),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps high")], "doc_id long, text string"
    )
    for thr in (0.2, 0.0):
        b = sorted(
            (r["doc_id"], r["contamination"])
            for r in decontaminate(docs, bench, threshold=thr).collect()
        )
        s = sorted(
            (r["doc_id"], r["contamination"])
            for r in decontaminate(
                docs, bench, threshold=thr, max_broadcast_shingles=0
            ).collect()
        )
        assert b == s, (thr, b, s)
        if thr == 0.0:
            assert [d for d, _ in b] == [1, 2, 3]  # 4,5 shingle-less
        else:
            assert all(c >= thr for _, c in b) and len(b) >= 1


def test_decontaminate_precomputed_hashes(spark, tmp_path):
    """The persisted eval-set artifact: decontaminate against
    ``benchmark_shingle_hashes`` round-tripped through parquet must be
    row-identical to shingling the benchmark inline — on BOTH physical
    paths (broadcast and forced semi-join). A wrong-shaped hashes
    frame fails loudly (the caller-convention guard)."""
    import pytest

    from strat_backtest_spark.operators.dedup import (
        benchmark_shingle_hashes,
        decontaminate,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox sat still all day long"),
            (3, "completely unrelated text about spark partitions here"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps high")], "doc_id long, text string"
    )
    p = str(tmp_path / "bench_hashes")
    benchmark_shingle_hashes(bench).write.parquet(p)
    persisted = spark.read.parquet(p)

    def rows(**kw):
        return sorted(
            (r["doc_id"], r["contamination"])
            for r in decontaminate(docs, threshold=0.0, **kw).collect()
        )

    inline = rows(benchmark=bench)
    assert rows(benchmark=None, benchmark_hashes=persisted) == inline
    assert (
        rows(benchmark=None, benchmark_hashes=persisted,
             max_broadcast_shingles=0)
        == inline
    )
    with pytest.raises(ValueError, match="benchmark_hashes"):
        decontaminate(
            docs, None, benchmark_hashes=persisted.withColumnRenamed("h", "x")
        )
    with pytest.raises(ValueError, match="precomputed"):
        decontaminate(docs, None)


@pytest.mark.slow
def test_connected_components_star_rounds_match_union_find(spark):
    """The distributed path (partition-local pre-contraction, then star
    rounds) labels every node like the driver union-find, for any
    partitioning — including partitions that slice components apart
    (random repartition) and a worst case where every partition holds
    a disjoint slice of one long chain."""
    import random

    from strat_backtest_spark.operators.dedup import connected_components

    rng = random.Random(13)
    edges = [(i + 1, i) for i in range(0, 120)]  # one long chain
    edges += [(rng.randrange(200, 260), rng.randrange(200, 260)) for _ in range(150)]
    edges += [(500, 500), (601, 600)]
    rng.shuffle(edges)
    for parts in (1, 7, 32):
        pairs = spark.createDataFrame(edges, "id_a long, id_b long").repartition(parts)
        got = {
            r["id"]: r["component"]
            for r in connected_components(pairs, local_threshold=0).collect()
        }
        ref = {
            r["id"]: r["component"]
            for r in connected_components(pairs).collect()  # driver union-find
        }
        assert got == ref, parts
        assert all(got[i] == 0 for i in range(0, 121))


def test_pii_scrub_sequential_counts(spark):
    """pii_scrub semantics: emails scrubbed before phones before IPs,
    each counted on the text as left by the previous stage; docs
    without PII pass through byte-identical with zero counts."""
    from strat_backtest_spark.operators.pii import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail a@b.com and c.d-e@sub.domain.org call 555-123-4567 ip 10.0.0.1"),
            (2, "no pii here just words"),
            (3, "ips 1.2.3.4 and 255.255.255.255 only"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    r1 = got[1]
    assert (r1["n_emails"], r1["n_phones"], r1["n_ips"]) == (2, 1, 1)
    assert "<EMAIL>" in r1["text"] and "<PHONE>" in r1["text"] and "<IP>" in r1["text"]
    assert "a@b.com" not in r1["text"] and "555-123-4567" not in r1["text"]
    r2 = got[2]
    assert (r2["n_emails"], r2["n_phones"], r2["n_ips"]) == (0, 0, 0)
    assert r2["text"] == "no pii here just words"
    assert (got[3]["n_emails"], got[3]["n_phones"], got[3]["n_ips"]) == (0, 0, 2)
    assert got[4]["text"] is None


def test_dup_ngram_stats_known_fractions(spark):
    """Two docs sharing their full 3-gram set → dup_fraction 1.0 for
    both; a unique doc → 0.0; partitioning-invariant; short docs
    (< n tokens) omitted."""
    from strat_backtest_spark.operators.dedup import dup_ngram_stats

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "completely different words entirely here"),
        (4, "too short"),
    ]
    for parts in (1, 8):
        df = spark.createDataFrame(rows, "doc_id long, text string").repartition(parts)
        got = {r["doc_id"]: r for r in dup_ngram_stats(df).collect()}
        assert set(got) == {1, 2, 3}
        assert got[1]["n_shingles"] == 2 and got[1]["dup_fraction"] == 1.0
        assert got[2]["dup_fraction"] == 1.0
        assert got[3]["dup_fraction"] == 0.0 and got[3]["n_shingles"] == 3
    # string ids exercise the generic id-type path — same values
    rows_s = [(str(i), t) for i, t in rows]
    df_s = spark.createDataFrame(rows_s, "doc_id string, text string")
    got_s = {r["doc_id"]: r for r in dup_ngram_stats(df_s).collect()}
    assert {int(k): (v["n_shingles"], v["dup_fraction"]) for k, v in got_s.items()} == {
        k: (v["n_shingles"], v["dup_fraction"]) for k, v in got.items()
    }


def test_semantic_dedup_keeps_component_minimum(spark):
    """q76's apply step: within each near-dup component exactly the
    smallest vec_id survives, and vectors in no component all
    survive."""
    import numpy as np
    from pyspark.sql import functions as F

    from strat_backtest_spark.operators.dedup import connected_components
    from strat_backtest_spark.operators.similarity import embedding_neardup_pairs

    rng = np.random.default_rng(21)
    rows = []
    for g in range(10):  # 10 clusters of 3 near-identical vectors
        base = rng.normal(size=64)
        for j in range(3):
            v = base + rng.normal(scale=0.01, size=64)
            rows.append((g * 10 + j, [float(x) for x in v]))
    rows.append((990, [float(x) for x in rng.normal(size=64)]))  # loner
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_neardup_pairs(emb, threshold=0.9, n_tables=3)
    cc = connected_components(pairs)
    removed = cc.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias("vec_id")
    )
    kept = {r["vec_id"] for r in emb.select("vec_id").join(removed, "vec_id", "left_anti").collect()}
    comp = {}
    for r in cc.collect():
        comp.setdefault(r["component"], []).append(r["id"])
    for c, members in comp.items():
        assert min(members) == c
        assert set(members) & kept == {c}, (c, members, kept)
    assert 990 in kept


def test_line_dedup_known_lines(spark):
    """Lines in >=2 distinct docs die (even when repeated within one
    doc — within-doc repeats don't count toward the threshold by
    themselves); unique lines survive in order; a doc losing every
    line keeps an empty string; partitioning-invariant."""
    from strat_backtest_spark.operators.dedup import line_dedup

    rows = [
        (1, "keep me one\nshared banner\nkeep me two"),
        (2, "shared banner\nunique middle\nshared banner"),
        (3, "solo doc line"),
        (4, "shared banner"),
        (5, "twin\ntwin"),  # within-doc repeat only: must SURVIVE
    ]
    for parts in (1, 8):
        df = spark.createDataFrame(rows, "doc_id long, text string").repartition(parts)
        got = {r["doc_id"]: r for r in line_dedup(df, min_docs=2).collect()}
        assert got[1]["text"] == "keep me one\nkeep me two"
        assert (got[1]["n_kept"], got[1]["n_removed"]) == (2, 1)
        assert got[2]["text"] == "unique middle"
        assert (got[2]["n_kept"], got[2]["n_removed"]) == (1, 2)
        assert got[3]["text"] == "solo doc line"
        assert got[4]["text"] == "" and got[4]["n_kept"] == 0
        assert got[5]["text"] == "twin\ntwin" and got[5]["n_removed"] == 0


def test_pack_sequences_layout_invariants(spark):
    """Offset-based packing: within every (shard, seq) the rows are
    contiguous in id order, start offsets equal the running token sum,
    seq_id = floor(start/budget), and every row of the input appears
    exactly once. Straddling is allowed by construction (a chunk
    starting inside a sequence may run past its boundary)."""
    from strat_backtest_spark.operators.packing import pack_sequences

    rows = [(i, 10 + (i * 7) % 23) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    out = pack_sequences(df, budget=50, n_shards=4).collect()
    assert len(out) == 200
    assert {r["doc_id"] for r in out} == set(range(200))
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) <= set(range(4)) and len(by_shard) == 4
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["doc_id"])
        running = 0
        seq_pos_seen: dict = {}
        for r in rs:
            assert r["start_offset"] == running
            assert r["seq_id"] == running // 50
            p = seq_pos_seen.get(r["seq_id"], 0)
            assert r["seq_pos"] == p
            seq_pos_seen[r["seq_id"]] = p + 1
            running += r["n_tokens"]


def test_pack_sequences_single_exchange(spark):
    """Both window passes (cumulative offset, in-sequence rank) share
    the shard partitioning — the plan must contain exactly ONE
    exchange, or packing pays a second full-corpus shuffle at scale."""
    from strat_backtest_spark.operators.packing import pack_sequences

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37 + 1).cast("int").alias("n_tokens")
    )
    plan = pack_sequences(df, budget=128, n_shards=8)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_shard_shuffle_is_deterministic_permutation(spark):
    """Positions are dense 0..n_s-1 per shard; two invocations agree
    exactly; changing the seed reorders (the whole point)."""
    from strat_backtest_spark.operators.packing import shard_shuffle

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: (r["shard"], r["pos"]) for r in shard_shuffle(df, 8, seed=1).collect()}
    b = {r["doc_id"]: (r["shard"], r["pos"]) for r in shard_shuffle(df, 8, seed=1).collect()}
    assert a == b
    per_shard: dict = {}
    for s, p in a.values():
        per_shard.setdefault(s, []).append(p)
    for s, ps in per_shard.items():
        assert sorted(ps) == list(range(len(ps))), f"shard {s} positions not dense"
    c = {r["doc_id"]: (r["shard"], r["pos"]) for r in shard_shuffle(df, 8, seed=2).collect()}
    assert a != c


def test_quantize_embeddings_bounds_and_reconstruction(spark):
    """Codes live in [0, 255]; dequantized values reconstruct within
    half a quantization step; a constant dimension codes to 0."""
    import numpy as np

    from strat_backtest_spark.operators.packing import quantize_embeddings

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(50, 6)) * 3.0
    vecs[:, 4] = 2.5  # constant dim
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["codes"] for r in quantize_embeddings(df).collect()}
    mn, mx = vecs.min(axis=0), vecs.max(axis=0)
    step = np.where(mx > mn, (mx - mn) / 255.0, 1.0)
    for i in range(50):
        codes = np.array(out[i])
        assert codes.min() >= 0 and codes.max() <= 255
        assert codes[4] == 0
        recon = mn + codes * step
        err = np.abs(recon - vecs[i])
        mask = np.arange(6) != 4
        assert (err[mask] <= step[mask] / 2 + 1e-9).all()


def test_tfidf_topk_known_corpus(spark):
    """A rare term shared by few docs must outrank a ubiquitous one;
    ranks are dense 1..k with ties broken by term ascending."""
    from strat_backtest_spark.operators.text_analysis import tfidf_topk

    df = spark.createDataFrame(
        [
            (1, "alpha common common"),
            (2, "beta common"),
            (3, "common common gamma alpha"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_topk(df, k=2).collect()
    per_doc: dict = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for d, rs in per_doc.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        scores = [r["tfidf"] for r in rs]
        assert scores == sorted(scores, reverse=True) or len(set(scores)) < len(scores)
    # doc 1: 'alpha' (df=2) outranks 'common' (df=3, in every doc)
    assert per_doc[1][0]["term"] == "alpha"
    # doc 3: two 'common' (tf=2) vs one 'gamma' (df=1): gamma's idf wins
    assert per_doc[3][0]["term"] == "gamma"


def test_tfidf_text_never_shuffles(spark):
    """Only (doc_id, term) rows cross the exchanges — the raw text
    column must be pruned out before any shuffle."""
    from strat_backtest_spark.operators.text_analysis import tfidf_topk

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok"), (F.col("id") % 13).cast("string"), F.lit(" filler words here")).alias("text"),
    )
    plan = tfidf_topk(df)._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Exchange[^\n]*", plan):
        assert "text" not in m.group(0), m.group(0)


def test_split_assign_deterministic_and_partitioned(spark):
    """Every row gets exactly one split; proportions land near the
    weights; assignments are identical across invocations and stable
    under repartitioning (the identity-keyed contract)."""
    from strat_backtest_spark.operators.sampling import split_assign

    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: r["split"] for r in split_assign(df, seed=7).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in split_assign(df.repartition(13), seed=7).collect()
    }
    assert a == b
    from collections import Counter

    frac = {k: v / 5000 for k, v in Counter(a.values()).items()}
    assert abs(frac["train"] - 0.8) < 0.03
    assert abs(frac["val"] - 0.1) < 0.02
    assert abs(frac["test"] - 0.1) < 0.02


def test_unigram_logprob_orders_by_rarity(spark):
    """A doc made of corpus-common tokens must outscore a doc of
    hapaxes; scores are ≤ 0; token counts match the whitespace split."""
    from strat_backtest_spark.operators.text_analysis import unigram_logprob

    df = spark.createDataFrame(
        [
            (1, "the the the the"),
            (2, "the the rareword"),
            (3, "zzz qqq vvv"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    assert out[1]["n_tokens"] == 4 and out[3]["n_tokens"] == 3
    assert out[1]["logprob"] > out[2]["logprob"] > out[3]["logprob"]
    assert all(r["logprob"] <= 0 for r in out.values())


def test_tfidf_topk_paths_equivalent(spark):
    """The broadcast-vocabulary Arrow path and the distributed join
    fallback (forced via max_broadcast_vocab=0) must emit identical
    rows — same terms, ranks, and round-6 scores — on real testdata
    with ties, mixed case, and empty-ish docs."""
    from strat_backtest_spark.operators.text_analysis import tfidf_topk

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    key = lambda r: (r["doc_id"], r["rank"])
    fast = sorted(tfidf_topk(docs, k=3).collect(), key=key)
    slow = sorted(
        tfidf_topk(docs, k=3, max_broadcast_vocab=0).collect(), key=key
    )
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]


def test_unigram_logprob_paths_equivalent(spark):
    """Broadcast path vs forced join fallback: identical (doc,
    n_tokens, round-6 logprob) rows on real testdata."""
    from strat_backtest_spark.operators.text_analysis import unigram_logprob

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    fast = sorted(
        unigram_logprob(docs).collect(), key=lambda r: r["doc_id"]
    )
    slow = sorted(
        unigram_logprob(docs, max_broadcast_vocab=0).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]


def test_quota_sample_cap_binds_and_is_stable(spark):
    """Per-group cap: no group exceeds the cap; the selection is the
    deterministic (md5, key) rank — invariant to partitioning and to
    the salt count (level-1 pruning may only drop non-winners)."""
    from strat_backtest_spark.operators.sampling import quota_sample

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "source"
    )
    out = quota_sample(docs, cap=7, group_col="source")
    per_group = {r["source"]: r["n"] for r in
                 out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per_group and all(n <= 7 for n in per_group.values())
    ids = sorted(r["doc_id"] for r in out.collect())
    ids_repart = sorted(
        r["doc_id"]
        for r in quota_sample(docs.repartition(13), cap=7, group_col="source").collect()
    )
    ids_one_salt = sorted(
        r["doc_id"]
        for r in quota_sample(docs, cap=7, group_col="source", n_salts=1).collect()
    )
    assert ids == ids_repart == ids_one_salt


def test_ngram_topk_counts(spark):
    """Known tiny corpus: bigram counts and the (count DESC, ngram
    ASC) tie-break are exact."""
    from strat_backtest_spark.operators.text_analysis import ngram_topk

    df = spark.createDataFrame(
        [("a b a b c",), ("a b x",), ("b c a b",)], ["text"]
    )
    rows = ngram_topk(df, n=2, k=3).collect()
    got = [(r["ngram"], r["cnt"], r["rank"]) for r in rows]
    # bigrams: a b:4 (2+1+1), b a:1, b c:2, b x:1, c a:1
    assert sorted(got, key=lambda t: t[2]) == [
        ("a b", 4, 1), ("b c", 2, 2), ("b a", 1, 3)
    ]


def test_bigram_logprob_paths_equivalent(spark):
    """Broadcast-vocab Arrow scorer vs forced distributed join path:
    identical (doc, n_bigrams, round-6 logprob) rows on real
    testdata."""
    from strat_backtest_spark.operators.text_analysis import bigram_logprob

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    fast = sorted(bigram_logprob(docs).collect(), key=lambda r: r["doc_id"])
    slow = sorted(
        bigram_logprob(docs, max_broadcast_vocab=0).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]
    assert all(r["logprob"] <= 0 for r in fast)


def test_bigram_logprob_flags_word_salad(spark):
    """A scrambled-order doc scores below the repeated-phrase docs its
    unigrams came from — the signal unigram_logprob cannot see."""
    from strat_backtest_spark.operators.text_analysis import bigram_logprob

    phrase = "the quick brown fox jumps"
    salad = "fox the jumps quick brown"
    df = spark.createDataFrame(
        [(i, phrase) for i in range(9)] + [(9, salad)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["logprob"] for r in bigram_logprob(df).collect()}
    assert out[9] < out[0]


def test_ann_recall_matches_componentwise_intersection(spark):
    """Differential: ann_recall's per-query numbers must equal the
    set intersection of the two gated component operators' outputs,
    computed independently in Python — and every query (including
    zero-hit ones) must appear."""
    from strat_backtest_spark.operators.similarity import (
        ann_recall,
        ann_topk,
        cosine_topk,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    truth: dict[int, set] = {}
    for r in cosine_topk(emb, queries, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx: dict[int, set] = {}
    for r in ann_topk(emb, queries, k=5).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {r["query_id"]: r for r in ann_recall(emb, queries, k=5).collect()}
    assert set(got) == set(truth)
    for q, t in truth.items():
        hit = len(t & approx.get(q, set()))
        assert got[q]["n_true"] == len(t)
        assert got[q]["n_hit"] == hit
        assert got[q]["recall"] == round(hit / len(t), 6)


def test_quota_sample_skewed_group(spark):
    """One group holding half the corpus (the skew case the salted
    level-1 window exists for): the cap still binds exactly and the
    winner set still equals the unsalted global rank."""
    from strat_backtest_spark.operators.sampling import quota_sample

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, F.lit("mega"))
        .otherwise(F.concat(F.lit("s"), (F.col("doc_id") % 7).cast("string")))
        .alias("grp"),
    )
    out = quota_sample(docs, cap=9, group_col="grp")
    per = {r["grp"]: r["n"] for r in
           out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert per["mega"] == 9 and all(n <= 9 for n in per.values())
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in quota_sample(docs, cap=9, group_col="grp", n_salts=1).collect()
    )
    assert a == b


def test_profile_columns_nulls_and_types(spark):
    """Null counting, exact distincts, and the numeric-vs-string
    extrema split on a hand-built frame with nulls in every column."""
    from strat_backtest_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, 2.5, "b"), (2, None, "a"), (3, 7.5, None), (4, 2.5, "a")],
        "id long, x double, s string",
    )
    got = {r["column"]: r for r in profile_columns(df).collect()}
    assert got["x"]["n_rows"] == 4 and got["x"]["n_nulls"] == 1
    assert got["x"]["n_distinct"] == 2
    assert got["x"]["min_num"] == 2.5 and got["x"]["max_num"] == 7.5
    assert got["x"]["min_str"] is None
    assert got["s"]["n_nulls"] == 1 and got["s"]["n_distinct"] == 2
    assert got["s"]["min_str"] == "a" and got["s"]["max_str"] == "b"
    assert got["s"]["min_num"] is None
    assert got["id"]["n_nulls"] == 0 and got["id"]["n_distinct"] == 4


def test_streaming_quota_exhausted_state(spark):
    """cap=3 with ~8 candidates per source in batch 1: every source's
    quota fills in the first micro-batch, so batches 2-3 exercise the
    exhausted-state drop branch — per-source counts must still be
    exactly 3 and every admitted doc must come from batch 0
    (doc_id % 3 == 0, the first replayed chunk)."""
    from strat_backtest_spark.streaming.documents_stream import (
        streaming_quota_admission,
    )

    out = streaming_quota_admission(spark, SF_SMALL, cap=3, n_chunks=3).collect()
    per = {}
    for r in out:
        per.setdefault(r["source"], []).append(r["doc_id"])
    assert per and all(len(v) == 3 for v in per.values())
    assert all(d % 3 == 0 for v in per.values() for d in v)


def test_streaming_simhash_neardup_matches_batch_replay(spark):
    """Cross-impl differential (no DuckDB): the drained streaming
    verdicts must equal a batch re-derivation that ranks every (band,
    band_val) bucket by the replay's arrival order (doc_id % 3,
    doc_id) — novel iff first in ALL four buckets. Distinguishes real
    cross-batch state from a one-batch collapse: a single-batch run
    would rank by doc_id alone, flipping any bucket whose minimum
    doc_id arrives in a LATER chunk than another member."""
    from pyspark.sql import Window, functions as F

    from strat_backtest_spark.operators.dedup import simhash
    from strat_backtest_spark.streaming.documents_stream import (
        streaming_simhash_neardup,
    )

    got = {
        r["doc_id"]: r["novel"]
        for r in streaming_simhash_neardup(
            spark, SF_SMALL, bits=32, bands=4, n_chunks=3
        ).collect()
    }

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    sh = simhash(docs, bits=32)
    banded = sh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.shiftright("simhash", j * 8)
                        .bitwiseAND(F.lit(255))
                        .alias("band_val"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.band_val")
    w = Window.partitionBy("band", "band_val").orderBy(
        (F.col("doc_id") % 3).asc(), F.col("doc_id").asc()
    )
    want = {
        r["doc_id"]: r["novel"]
        for r in banded.withColumn("rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(F.min((F.col("rn") == 1).cast("int")).alias("novel"))
        .collect()
    }
    assert got == want
    n_docs = docs.count()
    assert len(got) == n_docs
    # the replay must actually demote someone: at 500 docs over 4x256
    # buckets collisions are guaranteed, so not everything is novel
    assert 0 < sum(got.values()) < n_docs


def test_chunked_replay_empty_chunk(spark):
    """_chunked_replay with a chunk that holds zero rows (every doc_id
    ≡ 0 mod 3): the replay must still drain every row, and trigger ↔
    chunk sync must not be derailed by the missing/short file groups
    (the padding branch's reason to exist)."""
    from pyspark.sql import functions as F

    from strat_backtest_spark.streaming.documents_stream import (
        _chunked_replay,
        _drain_to_parquet,
    )

    import shutil

    static = spark.range(0, 30, 3).select(F.col("id").alias("doc_id"))
    stream, replay_dir = _chunked_replay(spark, static, 3, files_per_chunk=2)
    out = _drain_to_parquet(stream, spark, "append")
    shutil.rmtree(replay_dir, ignore_errors=True)
    assert sorted(r["doc_id"] for r in out.collect()) == list(range(0, 30, 3))


def test_asof_join_fuzz_ties_and_edges(spark, tmp_path):
    """Seeded-random differential for q32's as-of join against its
    DuckDB oracle on crafted data the testdata never samples: order
    dates exactly equal to event timestamps (inclusive as-of), several
    orders sharing one (user, date) (max-key tie-break), users with no
    orders, and orders dated after every event. The union+forward-fill
    plan and the oracle's DESC/DESC row_number must agree on all of
    it."""
    import duckdb
    import numpy as np
    import pandas as pd

    from oracle_utils import compare
    from strat_backtest_spark.plans.catalog import CATALOG

    rng = np.random.default_rng(7)
    n_users, n_orders, n_events = 40, 300, 400
    # order dates on a coarse grid so (user, date) collisions are common
    dates = pd.Timestamp("2020-01-01") + pd.to_timedelta(
        rng.integers(0, 30, n_orders), unit="D"
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype="int64"),
            "o_custkey": rng.integers(0, n_users, n_orders).astype("int64"),
            "o_orderdate": dates.date,
        }
    )
    # half the events land EXACTLY on a date boundary (ties with order
    # dates); users 30+ get events but never orders
    ev_ts = pd.Series(
        pd.Timestamp("2020-01-01")
        + pd.to_timedelta(rng.integers(0, 30 * 24, n_events), unit="h")
    )
    ev_ts[: n_events // 2] = ev_ts[: n_events // 2].dt.normalize()
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype="int64"),
            "ts": ev_ts,
            "user_id": rng.integers(0, n_users + 10, n_events).astype("int64"),
        }
    )
    sf_dir = str(tmp_path)
    spark.createDataFrame(orders).write.parquet(f"{sf_dir}/orders.parquet")
    spark.createDataFrame(events).write.parquet(f"{sf_dir}/events.parquet")

    qd = CATALOG["q32_asof_join"]
    con = duckdb.connect()
    for t in ("events", "orders"):
        # Spark writes a DIRECTORY of part files; glob inside it
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet/*.parquet')"
        )
    res = compare(qd.fn(spark, sf_dir), con, qd.oracle_for(sf_dir), "q32-fuzz")
    assert res["ok"], res["detail"]


def test_lookback_join_pre_epoch_timestamps(spark):
    """Negative unix-micros regression guard: bucket quantization uses
    floor division, not cast("long") truncation — a pre-1970 probe and
    its in-window build row must land in aligned buckets and match
    (truncation toward zero would shift negative timestamps one bucket
    and silently drop the pair)."""
    import datetime

    from strat_backtest_spark.operators.rangejoin import lookback_join

    t0 = datetime.datetime(1969, 12, 31, 23, 30, 0)  # 30 min pre-epoch

    probe = spark.createDataFrame(
        [(1, 100, t0)], "event_id long, user_id long, ts timestamp"
    )
    build = spark.createDataFrame(
        [
            (10, 100, t0 - datetime.timedelta(minutes=45)),  # in window
            (11, 100, t0 - datetime.timedelta(minutes=61)),  # out (exclusive)
            (12, 100, t0),                                    # same instant: out
        ],
        "event_id long, user_id long, ts timestamp",
    )
    out = lookback_join(
        probe, build, key_col="user_id", time_col="ts",
        probe_id_col="event_id", lookback="1 hour",
    )
    assert sorted(r["b_event_id"] for r in out.collect()) == [10]


def test_streaming_simhash_state_survives_query_restart(spark, tmp_path):
    """COLD restart for the newest stateful op: incarnation 1 consumes
    two replay chunks and STOPS; a fresh query with the same durable
    checkpoint picks up chunk 3. The per-(band, band_val) claim state
    must restore from the state store — a chunk-3 doc whose buckets
    were claimed in chunks 1-2 must come back first=false — and the
    combined sink must reduce to exactly the batch arrival-rank
    replay."""
    import os
    import time

    from pyspark.sql import Window, functions as F

    from strat_backtest_spark.operators.dedup import band_hash, simhash
    from strat_backtest_spark.streaming.documents_stream import (
        novel_from_verdicts,
        simhash_claim_verdicts,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    # batch reference: arrival order (doc_id % 3, doc_id) bucket ranks
    w = Window.partitionBy("band", "band_val").orderBy(
        (F.col("doc_id") % 3).asc(), F.col("doc_id").asc()
    )
    want = {
        r["doc_id"]: r["novel"]
        for r in band_hash(simhash(docs, bits=32), "simhash", 32, 4)
        .withColumn("rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(F.min((F.col("rn") == 1).cast("int")).alias("novel"))
        .collect()
    }

    pdf = docs.toPandas()
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    base = time.time()

    def write_chunk(i):
        p = os.path.join(src, f"{i:03d}.parquet")
        pdf[pdf["doc_id"] % 3 == i].to_parquet(p, index=False)
        os.utime(p, (base + i, base + i))

    def run_incarnation():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            simhash_claim_verdicts(stream, bits=32, bands=4)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write_chunk(0)
    write_chunk(1)
    run_incarnation()  # consumes chunks 1-2, then the query DIES
    mid = spark.read.parquet(sink).count()
    assert 0 < mid < 4 * len(pdf), "first incarnation must be partial"

    write_chunk(2)
    run_incarnation()  # fresh query object, same checkpoint: resume

    got = {
        r["doc_id"]: r["novel"]
        for r in novel_from_verdicts(spark.read.parquet(sink)).collect()
    }
    assert got == want


def test_streaming_quota_state_survives_query_restart(spark, tmp_path):
    """COLD restart for streaming quota admission (parity with the
    simhash claim-state test above): incarnation 1 consumes two replay
    chunks and STOPS; a fresh query with the same durable checkpoint
    picks up chunk 3. Per-group admitted counters must restore from
    the state store — a group that filled its cap in chunks 1-2 must
    admit NOTHING from chunk 3 — and the combined sink must equal the
    uninterrupted batch window replay exactly."""
    import os
    import time

    from pyspark.sql import Window, functions as F

    from strat_backtest_spark.functions.hashing import md5_hash
    from strat_backtest_spark.streaming.documents_stream import (
        quota_admission_stream,
    )

    # 6 chunks of ~4 docs per (group, chunk): after two chunks every
    # group sits MID-quota (~8 of 15 admitted), so the restart happens
    # while counters still bind — a reset-to-zero restore would admit a
    # different (and larger) membership from chunks 3-6
    cap, seed, n_chunks = 15, 0, 6
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "source"
    )
    # batch reference: rank per group by (arrival chunk, md5, doc_id)
    w = Window.partitionBy("source").orderBy(
        (F.col("doc_id") % n_chunks).asc(), F.col("__h").asc(), F.col("doc_id").asc()
    )
    want = set(
        r["doc_id"]
        for r in docs.withColumn(
            "__h",
            md5_hash(
                F.concat_ws(":", F.lit(seed), F.col("doc_id").cast("string"))
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .collect()
    )

    pdf = docs.toPandas()
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    base = time.time()

    def write_chunk(i):
        p = os.path.join(src, f"{i:03d}.parquet")
        pdf[pdf["doc_id"] % n_chunks == i].to_parquet(p, index=False)
        os.utime(p, (base + i, base + i))

    def run_incarnation():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            quota_admission_stream(stream, cap=cap, group_col="source", seed=seed)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write_chunk(0)
    write_chunk(1)
    run_incarnation()  # admits from chunks 1-2, then the query DIES
    mid = set(r["doc_id"] for r in spark.read.parquet(sink).collect())
    assert 0 < len(mid) < len(want), "first incarnation must be partial"
    # prefix-monotonicity: anything admitted in a prefix of the replay
    # is admitted in the full replay
    assert mid <= want

    for i in range(2, n_chunks):
        write_chunk(i)
    run_incarnation()  # fresh query object, same checkpoint: resume

    got = set(r["doc_id"] for r in spark.read.parquet(sink).collect())
    assert got == want


def test_asof_lookup_salted_equals_unsalted(spark, tmp_path):
    """The whale-key salted path (time-segment fill + segment-summary
    carry) must be bit-identical to the single-window fill — on the
    adversarial fuzz data (boundary ties, duplicate dates, no-order
    users) and across salt widths including ones that slice single
    days apart."""
    import numpy as np
    import pandas as pd

    from strat_backtest_spark.operators.rangejoin import asof_lookup

    rng = np.random.default_rng(11)
    n_users, n_orders, n_events = 25, 250, 300
    orders = pd.DataFrame(
        {
            "user_id": rng.integers(0, n_users, n_orders).astype("int64"),
            "ts": pd.Timestamp("2020-01-01")
            + pd.to_timedelta(rng.integers(0, 60, n_orders), unit="D"),
            "okey": np.arange(n_orders, dtype="int64"),
        }
    )
    ev_ts = pd.Series(
        pd.Timestamp("2020-01-01")
        + pd.to_timedelta(rng.integers(0, 60 * 24, n_events), unit="h")
    )
    ev_ts[:150] = ev_ts[:150].dt.normalize()  # exact date ties
    events = pd.DataFrame(
        {
            "user_id": rng.integers(0, n_users + 5, n_events).astype("int64"),
            "ts": ev_ts,
            "event_id": np.arange(n_events, dtype="int64"),
        }
    )
    p = spark.createDataFrame(events)
    b = spark.createDataFrame(orders)

    def run(salt):
        return sorted(
            (r["event_id"], r["okey"])
            for r in asof_lookup(
                p, b, key_col="user_id", time_col="ts",
                value_col="okey", probe_id_col="event_id",
                salt_width=salt,
            ).collect()
        )

    base = run(None)
    assert len(base) == n_events
    assert any(v is not None for _, v in base)
    assert any(v is None for _, v in base)  # no-order users stay null
    for salt in ("7 days", "1 day", "12 hours"):
        assert run(salt) == base, salt


def test_asof_lookup_null_build_values(spark):
    """ADVICE r8: a NULL-valued latest build row must not poison the
    salted path's segment summary — both paths skip nulls and carry
    the earlier non-null value, and they stay bit-identical."""
    import datetime as dt

    from strat_backtest_spark.operators.rangejoin import asof_lookup

    def t(day, hour=0):
        return dt.datetime(2020, 1, day, hour)

    build = spark.createDataFrame(
        [  # key 1: non-null at day 1, NULL at day 9 (latest in seg 2)
            (1, t(1), 100), (1, t(9), None),
            # key 2: only null builds — probe must stay null
            (2, t(1), None),
        ],
        "user_id long, ts timestamp, okey long",
    )
    probe = spark.createDataFrame(
        [(1, t(10), 7), (2, t(10), 8), (3, t(10), 9)],
        "user_id long, ts timestamp, event_id long",
    )

    def run(salt):
        return sorted(
            (r["event_id"], r["okey"])
            for r in asof_lookup(
                probe, build, key_col="user_id", time_col="ts",
                value_col="okey", probe_id_col="event_id",
                salt_width=salt,
            ).collect()
        )

    # "2 days" puts the null build (day 9) in a LATER segment than the
    # non-null (day 1), the exact regime ADVICE flagged
    base = run(None)
    assert base == [(7, 100), (8, None), (9, None)]
    for salt in ("2 days", "1 day"):
        assert run(salt) == base, salt


def test_substring_dedup_catches_cross_line_repeats(spark):
    """The defining case for exact-substring dedup: a duplicated token
    run that CROSSES a line boundary and carries a per-doc unique
    suffix — line_dedup keeps it (no two full lines match), while
    substring_dedup excises exactly the shared run."""
    from strat_backtest_spark.operators.dedup import line_dedup, substring_dedup

    tpl = "one two three four five six\nseven eight ref-{i}"
    docs = spark.createDataFrame(
        [(i, f"doc {i} body\n" + tpl.format(i=i)) for i in range(3)]
        + [(99, "totally unrelated text here")],
        "doc_id long, text string",
    )

    ld = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    # every line differs across docs ("doc {i} body", "...ref-{i}") —
    # except "one two three four five six", shared by docs 0-2
    assert all(ld[i]["n_removed"] == 1 for i in range(3))
    assert "seven eight" in ld[0]["text"]  # cross-line tail SURVIVES q77

    sd = {r["doc_id"]: r for r in substring_dedup(docs, n=6, min_docs=2).collect()}
    # the shared 9-token run "body one ... eight" spans BOTH newlines;
    # every 6-gram window inside it repeats in 3 docs -> all 9 tokens
    # excised. Windows touching doc-unique tokens ("{i}", "ref-i") are
    # unique and keep their flanks.
    for i in range(3):
        assert sd[i]["n_tokens"] == 12, sd[i]
        assert sd[i]["n_removed"] == 9, sd[i]
        assert sd[i]["text"] == f"doc {i} ref-{i}", sd[i]
    assert sd[99]["n_removed"] == 0
    assert sd[99]["text"] == "totally unrelated text here"


def test_substring_dedup_edges(spark):
    """Short docs (< n tokens), null text, and within-doc-only repeats
    pass through untouched; within-doc repeats don't ban (min_docs
    counts DISTINCT documents)."""
    from strat_backtest_spark.operators.dedup import substring_dedup

    rep = "a b c d e f"  # 6 tokens, repeated twice WITHIN one doc
    docs = spark.createDataFrame(
        [(1, "tiny doc"), (2, None), (3, rep + " " + rep)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in substring_dedup(docs, n=6, min_docs=2).collect()}
    assert out[1]["n_tokens"] == 2 and out[1]["n_removed"] == 0
    assert out[1]["text"] == "tiny doc"
    assert out[2]["n_tokens"] == 0 and out[2]["text"] is None  # passthrough
    assert out[3]["n_removed"] == 0  # same doc twice != two docs
    assert out[3]["text"] == rep + " " + rep  # untouched -> byte-identical
    # untouched docs keep ORIGINAL whitespace (no silent normalization)
    ws = spark.createDataFrame(
        [(7, "keep\tmy   tabs\nand runs")], "doc_id long, text string"
    )
    got = substring_dedup(ws, n=6, min_docs=2).collect()[0]
    assert got["text"] == "keep\tmy   tabs\nand runs" and got["n_tokens"] == 5


def _make_png(img, filters, palette=None, trns=None):
    """Minimal PNG writer for the decoder unit: 8-bit, non-interlaced,
    one explicit filter byte per scanline (so every filter type is
    exercisable), zlib-compressed, correct CRCs. With ``palette``
    ((N, 3) uint8), ``img`` is an (H, W) index array and the output is
    color type 3 with a PLTE chunk (+ tRNS when given)."""
    import struct
    import zlib

    import numpy as np

    h, w = img.shape[:2]
    ch = 1 if img.ndim == 2 else img.shape[2]
    color = 3 if palette is not None else {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    flat = img.reshape(h, w * ch).astype(np.int32)

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = b""
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        cur, line = flat[y], flat[y].copy()
        for x in range(w * ch):
            a = cur[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[x] = (cur[x] - pred) & 0xFF
        raw += bytes([f]) + line.astype(np.uint8).tobytes()
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    mid = b""
    if palette is not None:
        mid += chunk(b"PLTE", np.asarray(palette, dtype=np.uint8).tobytes())
        if trns is not None:
            mid += chunk(b"tRNS", bytes(trns))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + mid
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_real_decoder_png_and_wav(spark):
    """The real-codec slot decodes actual container formats without
    external libraries: a crafted PNG (every filter type 0-4 across
    scanlines, gray + RGB) round-trips bit-exactly, a stdlib-written
    PCM16 WAV comes back as the normalized waveform, and both flow
    through the Arrow decode_features plumbing unchanged."""
    import io
    import wave

    import numpy as np

    from strat_backtest_spark.operators.multimodal import (
        attach_media,
        decode_features,
        decode_png,
        decode_wav,
        real_decoder,
    )

    rng = np.random.default_rng(3)
    gray = rng.integers(0, 256, (7, 5), dtype=np.uint8)
    rgb = rng.integers(0, 256, (6, 4, 3), dtype=np.uint8)
    png_gray = _make_png(gray, filters=[0, 1, 2, 3, 4])
    png_rgb = _make_png(rgb, filters=[4, 3, 2, 1, 0])
    assert np.array_equal(decode_png(png_gray), gray)
    assert np.array_equal(decode_png(png_rgb), rgb)

    samples = (np.sin(np.arange(64) / 3.0) * 20000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(16000)
        wf.writeframes(samples.tobytes())
    wav = buf.getvalue()
    np.testing.assert_allclose(
        decode_wav(wav), samples.astype(np.float32) / 32768.0
    )

    # through the Spark plumbing: magic-byte dispatch inside the Arrow
    # batch, no media_type hints needed beyond the layout column
    df = spark.createDataFrame(
        [(1, bytearray(png_gray)), (2, bytearray(wav))],
        "doc_id long, payload binary",
    )
    media = attach_media(df, "payload", media_type="mixed")
    got = {
        r["doc_id"]: r
        for r in decode_features(media, decoder=real_decoder).collect()
    }
    assert got[1]["byte_len"] == len(png_gray)
    np.testing.assert_allclose(got[1]["sample_mean"], gray.astype(np.float64).mean())
    np.testing.assert_allclose(got[2]["sample_mean"],
                               (samples.astype(np.float64) / 32768.0).mean())
    assert len(got[1]["feature"]) == 8

    # undecodable payloads still raise the documented boundary error
    import pytest

    with pytest.raises(NotImplementedError):
        real_decoder(b"\xff\xd8\xff\xe0 fake jpeg", "image")


def test_decode_png_palette(spark):
    """8-bit palette PNGs (color type 3) — the most common PNG class
    in web crawls (r11 verdict item 4): indices round-trip through the
    PLTE lookup to (H, W, 3), a tRNS chunk adds per-entry alpha
    (shortened-tRNS entries default opaque) → (H, W, 4), every filter
    type is exercised on the index scanlines, and the payload flows
    through the Arrow decode_features plumbing. Out-of-range indices
    and a missing PLTE stay loud."""
    import numpy as np
    import pytest

    from strat_backtest_spark.operators.multimodal import (
        attach_media,
        decode_features,
        decode_png,
        real_decoder,
    )

    rng = np.random.default_rng(9)
    pal = rng.integers(0, 256, (11, 3), dtype=np.uint8)
    idx = rng.integers(0, 11, (7, 6), dtype=np.uint8)
    png_pal = _make_png(idx, filters=[0, 1, 2, 3, 4], palette=pal)
    assert np.array_equal(decode_png(png_pal), pal[idx])

    # shortened tRNS: entries 0-2 translucent, the rest opaque
    trns = bytes([0, 128, 200])
    png_tr = _make_png(idx, filters=[4, 3, 2, 1, 0], palette=pal, trns=trns)
    got = decode_png(png_tr)
    assert got.shape == (7, 6, 4)
    assert np.array_equal(got[:, :, :3], pal[idx])
    alpha = np.full(11, 255, dtype=np.uint8)
    alpha[:3] = np.frombuffer(trns, dtype=np.uint8)
    assert np.array_equal(got[:, :, 3], alpha[idx])

    # through the Spark plumbing, magic-byte dispatched
    df = spark.createDataFrame(
        [(1, bytearray(png_pal))], "doc_id long, payload binary"
    )
    media = attach_media(df, "payload", media_type="image")
    row = decode_features(media, decoder=real_decoder).collect()[0]
    assert row["byte_len"] == len(png_pal)
    np.testing.assert_allclose(
        row["sample_mean"], pal[idx].astype(np.float64).mean()
    )

    # loud failure modes: index beyond PLTE / PLTE missing entirely
    bad = _make_png(
        np.full((2, 2), 10, dtype=np.uint8), filters=[0], palette=pal[:5]
    )
    with pytest.raises(ValueError, match="outside PLTE"):
        decode_png(bad)
    no_plte = _make_png(idx, filters=[0], palette=pal)
    # strip the PLTE chunk: starts after sig (8) + IHDR chunk (25),
    # spans 12 overhead + 33 palette bytes
    plte_len = 12 + 33
    start = 8 + 25
    assert no_plte[start + 4:start + 8] == b"PLTE"
    stripped = no_plte[:start] + no_plte[start + plte_len:]
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(stripped)


def _filter_scanlines(rows, bpp, filters):
    """Forward-filter raw scanline byte rows (test-side twin of the
    decoder's unfilter): one explicit filter byte per scanline, left
    offset ``bpp`` bytes."""
    out = b""
    prev = [0] * len(rows[0])
    for y, rb in enumerate(rows):
        f = filters[y % len(filters)]
        cur = list(rb)
        line = []
        for x in range(len(cur)):
            a = cur[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line.append((cur[x] - pred) & 0xFF)
        out += bytes([f]) + bytes(line)
        prev = cur
    return out


def _make_png_ex(img, depth, palette=None, interlace=0, filters=(0,)):
    """Generalized minimal PNG writer for the decoder units: any legal
    (color, depth) incl. 16-bit (big-endian) and sub-byte packing,
    optional Adam7 interlacing (each pass filtered independently)."""
    import struct
    import zlib

    import numpy as np

    img = np.asarray(img)
    h, w = img.shape[:2]
    ch = 1 if img.ndim == 2 else img.shape[2]
    color = 3 if palette is not None else {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    full = img.reshape(h, w, ch)
    bpp = max(1, ch * depth // 8)

    def rows_of(sub):  # (ph, pw, ch) samples -> list of packed scanline bytes
        ph, pw = sub.shape[:2]
        if depth == 16:
            return [sub[y].astype(">u2").tobytes() for y in range(ph)]
        if depth == 8:
            return [sub[y].astype(np.uint8).tobytes() for y in range(ph)]
        outr = []
        for y in range(ph):
            vals = sub[y, :, 0].astype(np.uint8)
            bits = ((vals[:, None] >> np.arange(depth - 1, -1, -1)) & 1).ravel()
            outr.append(np.packbits(bits).tobytes())
        return outr

    if interlace == 0:
        raw = _filter_scanlines(rows_of(full), bpp, filters)
    else:
        adam7 = [
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ]
        raw = b""
        for x0, y0, dx, dy in adam7:
            sub = full[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                raw += _filter_scanlines(rows_of(sub), bpp, filters)

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    mid = b""
    if palette is not None:
        mid += chunk(b"PLTE", np.asarray(palette, dtype=np.uint8).tobytes())
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + mid
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )


def test_decode_png_16bit():
    """Depth-16 decode (big-endian samples, filter left-offset 2·ch
    bytes) round-trips bit-exactly as uint16 for gray and RGB across
    every filter type — the r13 watch item's 16-bit half."""
    import numpy as np

    from strat_backtest_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(7)
    gray16 = rng.integers(0, 1 << 16, (7, 5), dtype=np.uint16)
    rgb16 = rng.integers(0, 1 << 16, (6, 4, 3), dtype=np.uint16)
    got_g = decode_png(_make_png_ex(gray16, 16, filters=[0, 1, 2, 3, 4]))
    got_c = decode_png(_make_png_ex(rgb16, 16, filters=[4, 3, 2, 1, 0]))
    assert got_g.dtype == np.uint16 and np.array_equal(got_g, gray16)
    assert got_c.dtype == np.uint16 and np.array_equal(got_c, rgb16)


def test_decode_png_subbyte():
    """Sub-byte depths: 1/2/4-bit grayscale decodes with the spec's
    left-bit-replicate rescale (×255/×85/×17) and per-row padding bits
    ignored (odd widths); 4-bit palette indices are NOT rescaled and
    look up PLTE correctly."""
    import numpy as np

    from strat_backtest_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(11)
    for depth, scale in ((1, 255), (2, 85), (4, 17)):
        g = rng.integers(0, 1 << depth, (5, 11), dtype=np.uint8)  # odd width: padding
        got = decode_png(_make_png_ex(g, depth, filters=[0, 1, 2]))
        assert np.array_equal(got, g * scale), f"depth {depth}"
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (4, 7), dtype=np.uint8)
    got = decode_png(_make_png_ex(idx, 4, palette=pal, filters=[0]))
    assert np.array_equal(got, pal[idx])


def test_decode_png_interlaced():
    """Adam7 interlacing: all seven passes (incl. partial and EMPTY
    passes on small images) reassemble to the exact source image, with
    per-pass filter state independent of neighboring passes — the r13
    watch item's interlace half."""
    import numpy as np

    from strat_backtest_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(13)
    # 9x10 RGB exercises every pass with ragged edges
    rgb = rng.integers(0, 256, (10, 9, 3), dtype=np.uint8)
    got = decode_png(_make_png_ex(rgb, 8, interlace=1, filters=[1, 2, 3, 4]))
    assert np.array_equal(got, rgb)
    # 3x3: passes 2 (x0=4) and 3 (y0=4) are EMPTY — zero scanlines
    small = rng.integers(0, 256, (3, 3), dtype=np.uint8)
    assert np.array_equal(
        decode_png(_make_png_ex(small, 8, interlace=1, filters=[4])), small
    )
    # 16-bit interlaced gray: both generalizations composed
    g16 = rng.integers(0, 1 << 16, (6, 7), dtype=np.uint16)
    got16 = decode_png(_make_png_ex(g16, 16, interlace=1, filters=[2, 1]))
    assert got16.dtype == np.uint16 and np.array_equal(got16, g16)
    # illegal combos still refuse loudly
    import pytest

    bad = bytearray(_make_png_ex(small, 8, interlace=1))
    bad[24] = 3  # depth byte in IHDR -> illegal for gray? 3 is illegal everywhere
    import struct
    import zlib

    # recompute IHDR CRC so the chunk walk stays intact
    ihdr = bytes(bad[16:29])
    bad[29:33] = struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="illegal"):
        decode_png(bytes(bad))


def test_chunked_replay_empty_input(spark):
    """ADVICE r8 flagged max() over an empty counts dict. On this
    Spark, writing an empty chunk still emits schema-only part files,
    so an empty corpus replays as a valid zero-row stream (the raise
    guard stays as a backstop for writers that emit nothing). Pin the
    benign path: no crash, drainable, zero rows."""
    import shutil

    from strat_backtest_spark.streaming.documents_stream import _chunked_replay
    from strat_backtest_spark.streaming.events_stream import _drain_to_parquet

    empty = spark.range(0).selectExpr("id AS doc_id", "'x' AS text")
    stream, replay_dir = _chunked_replay(spark, empty, n_chunks=3)
    try:
        assert _drain_to_parquet(stream, spark, "append").count() == 0
    finally:
        shutil.rmtree(replay_dir, ignore_errors=True)


def test_dedup_incremental_index_only_dup_dropped(spark, tmp_path):
    """A delta doc whose only duplicate lives in the INDEX must drop —
    the property that distinguishes incremental dedup from the
    closed-world batch entries (which would keep it: nothing inside
    the delta collides with it)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    idx_docs = spark.createDataFrame(
        [(0, base), (2, "completely different historical content " * 3)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    _index(idx_docs, path)

    delta = spark.createDataFrame(
        [
            (101, base),  # exact dup of index doc 0 only
            (103, base + " lambda"),  # near dup of index doc 0 only
            (105, "fresh unrelated delta text with enough tokens here"),
        ],
        "doc_id long, text string",
    )
    got = _incremental(spark, delta, path)
    assert got == {101: "dup_exact", 103: "dup_near", 105: "kept"}


def test_dedup_index_partitioned_replay_idempotent(spark, tmp_path):
    """The at-least-once index layout at operator level: a REPLAYED
    append overwrites its own chunk partition instead of doubling it,
    and ``replay_chunk`` makes the replayed batch's probe blind to its
    own prior append — so verdicts and index contents after a replay
    are byte-identical to the single-run ones."""
    from strat_backtest_spark.operators.dedup import (
        dedup_incremental,
        dedup_index_append,
        delta_probe_rows,
    )

    path = str(tmp_path / "pidx")
    day0 = spark.createDataFrame(
        [(0, "historical alpha beta gamma delta epsilon zeta eta")],
        "doc_id long, text string",
    )
    _index(day0, path)

    batch = spark.createDataFrame(
        [
            (10, "historical alpha beta gamma delta epsilon zeta eta"),
            (11, "novel content one with plenty of distinct tokens"),
            (12, "novel content one with plenty of distinct tokens"),
            (13, "entirely different fresh text nothing shared here"),
        ],
        "doc_id long, text string",
    )
    probe = delta_probe_rows(batch)

    def verdicts():
        return {
            r["doc_id"]: r["verdict"]
            for r in dedup_incremental(
                spark, probe, path, replay_chunk=7
            ).collect()
        }

    v1 = verdicts()
    assert v1 == {10: "dup_exact", 11: "kept", 12: "dup_exact", 13: "kept"}
    dedup_index_append(probe, _as_verdicts(spark, v1), path, 7)

    def index_counts():
        return (
            spark.read.parquet(f"{path}/digests").count(),
            spark.read.parquet(f"{path}/bands").count(),
        )

    once = index_counts()
    # REPLAY: same batch again against the index that already holds
    # its own append — probe must be blind to it, overwrite must not
    # double it
    v2 = verdicts()
    assert v2 == v1
    dedup_index_append(probe, _as_verdicts(spark, v2), path, 7)
    assert index_counts() == once
    # and a LATER batch still collides with the registered survivors
    later = spark.createDataFrame(
        [(20, "novel content one with plenty of distinct tokens")],
        "doc_id long, text string",
    )
    assert _incremental(spark, later, path) == {20: "dup_exact"}


def _as_verdicts(spark, mapping):
    return spark.createDataFrame(
        list(mapping.items()), "doc_id long, verdict string"
    )


def _index(docs, path, chunk=-1):
    """Write ``docs`` into the dedup index at ``path`` as its
    ``chunk=<chunk>`` partition."""
    from strat_backtest_spark.operators.dedup import (
        dedup_index_write,
        delta_probe_rows,
    )

    dedup_index_write(delta_probe_rows(docs), path, chunk)


def _incremental(spark, delta, path, **kw):
    """``dedup_incremental`` of ``delta`` against the index at
    ``path``, as a {doc_id: verdict} dict."""
    from strat_backtest_spark.operators.dedup import (
        dedup_incremental,
        delta_probe_rows,
    )

    return {
        r["doc_id"]: r["verdict"]
        for r in dedup_incremental(
            spark, delta_probe_rows(delta), path, **kw
        ).collect()
    }


def test_dedup_incremental_equals_batch_priority(spark, tmp_path):
    """The q93 oracle's spine as a property: split a corpus by id,
    build the index from the low half, run incremental over the high
    half — the verdicts must equal an empty-index incremental run over
    the WHOLE corpus (the batch priority dedup), restricted to the
    delta. Uses the real documents table so shingle/banding behavior
    is exercised on organic text."""
    from pyspark.sql import functions as F

    from strat_backtest_spark.plans.catalog import _t

    docs = _t(spark, SF_SMALL, "documents").select("doc_id", "text")
    split = 250
    idx_docs = docs.filter(F.col("doc_id") < split)
    delta = docs.filter(F.col("doc_id") >= split)

    p_idx = str(tmp_path / "half_idx")
    _index(idx_docs, p_idx)
    inc = _incremental(spark, delta, p_idx)

    p_empty = str(tmp_path / "empty_idx")
    _index(docs.filter(F.lit(False)), p_empty)
    batch = {
        i: v for i, v in _incremental(spark, docs, p_empty).items() if i >= split
    }
    assert inc == batch
    assert set(inc.values()) >= {"kept"}, "degenerate fixture: nothing kept"


def test_dedup_index_append_closes_the_loop(spark, tmp_path):
    """Survivor append: after registering day-1 survivors, a day-2 doc
    duplicating a day-1 SURVIVOR drops, while a day-2 doc duplicating
    only a day-1 DROPPED doc (whose content the index covers via its
    canonical) still drops through the canonical's bands — and fresh
    content is kept."""
    from strat_backtest_spark.operators.dedup import (
        dedup_incremental,
        dedup_index_append,
        delta_probe_rows,
    )

    path = str(tmp_path / "rolling")
    seed = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    _index(seed, path)

    day1 = spark.createDataFrame(
        [
            (10, "brand new survivor content alpha beta gamma delta epsilon"),
            (11, "the quick brown fox jumps over the lazy dog today"),  # dropped
        ],
        "doc_id long, text string",
    )
    p1 = delta_probe_rows(day1)
    v1 = dedup_incremental(spark, p1, path)
    got1 = {r["doc_id"]: r["verdict"] for r in v1.collect()}
    assert got1 == {10: "kept", 11: "dup_exact"}
    dedup_index_append(p1, v1, path, 1)

    day2 = spark.createDataFrame(
        [
            (20, "brand new survivor content alpha beta gamma delta epsilon"),
            (21, "totally novel second day text with sufficient tokens inside"),
        ],
        "doc_id long, text string",
    )
    assert _incremental(spark, day2, path) == {20: "dup_exact", 21: "kept"}


def test_delta_probe_rows_path_equals_recompute(spark, tmp_path):
    """The one-signature-pass shape (delta_probe_rows → dedup_incremental
    → dedup_index_append over the same probe rows) the q96/q100
    micro-batches run: fixed verdicts, and an index that afterwards
    holds exactly the seed plus the kept docs — digests equal to
    md5 over each kept text recomputed here in Python, 4 band rows per
    kept doc with content. Includes a null-text doc (its digest row
    carries a NULL hash; it has no band rows)."""
    import hashlib
    from collections import Counter

    from strat_backtest_spark.operators.dedup import (
        dedup_incremental,
        dedup_index_append,
        delta_probe_rows,
    )

    seed_text = "the quick brown fox jumps over the lazy dog today"
    t10 = "brand new survivor content alpha beta gamma delta epsilon"
    t14 = "totally novel second day text with sufficient tokens inside"
    seed = spark.createDataFrame([(0, seed_text)], "doc_id long, text string")
    delta = spark.createDataFrame(
        [(10, t10), (11, seed_text), (12, t10), (13, None), (14, t14)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    _index(seed, path)
    probe = delta_probe_rows(delta)
    v = dedup_incremental(spark, probe, path)
    assert {r["doc_id"]: r["verdict"] for r in v.collect()} == {
        10: "kept",
        11: "dup_exact",
        12: "dup_exact",
        13: "kept",
        14: "kept",
    }
    dedup_index_append(probe, v, path, 0)

    md5 = lambda t: hashlib.md5(t.encode()).hexdigest()
    digs = {
        (r["doc_id"], r["text_hash"])
        for r in spark.read.parquet(f"{path}/digests").collect()
    }
    assert digs == {
        (0, md5(seed_text)),
        (10, md5(t10)),
        (13, None),
        (14, md5(t14)),
    }
    bands = Counter(
        r["doc_id"] for r in spark.read.parquet(f"{path}/bands").collect()
    )
    assert bands == {0: 4, 10: 4, 14: 4}


def test_perceptual_hash_pairs_reencoded_image(spark):
    """Re-encode robustness (VERDICT r9 #3's unit): the same pixels
    encoded with a different PNG row filter AND zlib level are
    byte-DIFFERENT payloads (exact dedup can't pair them) but
    dHash-identical — hash_neardup_pairs emits the pair at Hamming 0.
    A visually distinct image pairs with neither."""
    import pandas as pd

    from strat_backtest_spark.operators.dedup import hash_neardup_pairs
    from strat_backtest_spark.operators.multimodal import (
        encode_png,
        perceptual_hash,
        real_decoder,
        synthetic_pixels,
    )

    img = synthetic_pixels(7)
    other = synthetic_pixels(99)
    p_a, p_b = encode_png(img, 0, 9), encode_png(img, 2, 1)
    assert p_a != p_b, "re-encodes should differ at byte level"
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "media_type": ["image"] * 3,
                "payload": [p_a, p_b, encode_png(other, 1, 6)],
            }
        )
    )
    hashed = perceptual_hash(media, real_decoder)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hash_neardup_pairs(hashed, max_hamming=4).collect()
    }
    assert pairs.get((1, 2)) == 0, f"re-encoded pair missing: {pairs}"
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_decode_png_bounds_untrusted_payloads():
    """ADVICE r9: a huge-IHDR or oversized-inflate payload must fail
    BEFORE allocating; sub-filter rows round-trip through the
    vectorized prefix-sum path."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from strat_backtest_spark.operators.multimodal import (
        decode_png,
        encode_png,
        synthetic_pixels,
    )

    def chunk(t, d):
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    sig = b"\x89PNG\r\n\x1a\n"
    bomb = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1 << 20, 1 << 20, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 64))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="outside decoder bounds"):
        decode_png(bomb)

    tail = (
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 100_000))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="size mismatch"):
        decode_png(tail)

    img = synthetic_pixels(3)
    rgba = np.dstack([img, img[::-1], img, img])
    for arr in (img, np.dstack([img, img, img]), rgba):
        for rf in (0, 1, 2):
            assert np.array_equal(decode_png(encode_png(arr, rf)), arr)


def test_encode_wav_roundtrip_exact():
    """encode_wav's quantization is PINNED (the q95 oracle replicates
    it in pure math): decoding a 16-bit/8-bit encode must land exactly
    on round(x*K)/S for the pinned (K, S) pairs; unsupported widths
    raise."""
    import numpy as np
    import pytest

    from strat_backtest_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        synthetic_waveform,
    )

    w = synthetic_waveform(11)
    d16 = decode_wav(encode_wav(w, 2))
    q16 = np.clip(np.round(w * 32767.0), -32768, 32767)
    assert np.array_equal(d16, (q16.astype(np.float32) / 32768.0))
    d8 = decode_wav(encode_wav(w, 1))
    q8 = np.clip(np.round(w * 127.0), -128, 127)
    assert np.array_equal(d8, (q8.astype(np.float32) / 128.0))
    with pytest.raises(NotImplementedError, match="sample width"):
        encode_wav(w, 3)


def test_audio_fingerprint_scale_invariant_and_ragged():
    """The envelope fingerprint compares frame energies WITHIN a
    waveform, so a global volume change cannot flip any bit in exact
    math; waveforms whose length doesn't divide the frame count go
    through the count-cross-multiplied comparison and still
    fingerprint identically after scaling."""
    import numpy as np

    from strat_backtest_spark.operators.multimodal import (
        audio_fingerprint_bits,
        synthetic_waveform,
    )

    w = synthetic_waveform(5).astype(np.float64)
    assert audio_fingerprint_bits(w) == audio_fingerprint_bits(0.5 * w)
    ragged = np.concatenate([w, w[:37]])  # 1189 samples over 72 frames
    assert audio_fingerprint_bits(ragged) == audio_fingerprint_bits(
        0.25 * ragged
    )


def test_audio_fingerprint_pairs_reencoded_audio(spark):
    """Re-encode robustness, audio edition (the q94 unit's WAV twin):
    the same recording written as 16-bit PCM at full volume and as
    8-bit PCM at 0.8x volume is byte-DIFFERENT with different sample
    values (exact dedup can't pair it) but fingerprints within
    Hamming 4 — hash_neardup_pairs emits the pair. A different
    recording pairs with neither."""
    import numpy as np
    import pandas as pd

    from strat_backtest_spark.operators.dedup import hash_neardup_pairs
    from strat_backtest_spark.operators.multimodal import (
        audio_fingerprint,
        decode_wav,
        encode_wav,
        real_decoder,
        synthetic_waveform,
    )

    w, other = synthetic_waveform(7), synthetic_waveform(99)
    p_a = encode_wav(w, 2)
    p_b = encode_wav((np.float32(0.8) * w).astype(np.float32), 1)
    assert p_a != p_b
    assert not np.array_equal(decode_wav(p_a), decode_wav(p_b))
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "media_type": ["audio"] * 3,
                "payload": [p_a, p_b, encode_wav(other, 2)],
            }
        )
    )
    hashed = audio_fingerprint(media, real_decoder)
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hash_neardup_pairs(hashed, "afp", max_hamming=4).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 4, f"re-encoded pair missing: {pairs}"
    assert (1, 3) not in pairs and (2, 3) not in pairs


@pytest.mark.slow
def test_dedup_incremental_broadcast_equals_semi(spark, tmp_path, monkeypatch):
    """Path equivalence for the delta-broadcast probe (the tfidf
    broadcast-vocab precedent): identical verdicts from the
    broadcast-delta plan and the distributed semi-join fallback (the
    ``DELTA_BROADCAST_MAX_DOCS`` gate patched to 0) on organic
    documents."""
    from pyspark.sql import functions as F

    from strat_backtest_spark.operators import dedup
    from strat_backtest_spark.plans.catalog import _t

    docs = _t(spark, SF_SMALL, "documents").select("doc_id", "text")
    idx_docs = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "bc_idx")
    _index(idx_docs, path)

    bc = _incremental(spark, delta, path)
    monkeypatch.setattr(dedup, "DELTA_BROADCAST_MAX_DOCS", 0)
    semi = _incremental(spark, delta, path)
    assert bc == semi and len(bc) > 0
    # sf0.001 documents have no exact dup across the parity split;
    # near-dups and kept docs must both occur or the fixture is dead
    assert {"dup_near", "kept"} <= set(bc.values()) <= {"dup_exact", "dup_near", "kept"}


@pytest.mark.slow
def test_ivf_pre_assigned_equals_on_the_fly(spark, tmp_path):
    """Path equivalence for the persisted-IVF corpus: assignment at
    write time + partition-pruned read must give value-identical top-k
    to assign-on-the-fly (same codebook, same queries)."""
    from pyspark.sql import functions as F

    from strat_backtest_spark.operators.similarity import (
        ivf_assign,
        ivf_probes,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    cents = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    queries = emb.filter(F.col("vec_id") < 6)

    fly = ivf_topk(emb, queries, cents, k=4, nprobe=2)
    path = str(tmp_path / "ivf_corpus")
    ivf_assign(emb, cents).write.partitionBy("centroid_id").parquet(path)
    probe_ids = sorted(
        r["probe"]
        for r in ivf_probes(queries, cents, 2).select("probe").distinct().collect()
    )
    corpus = spark.read.parquet(path).filter(F.col("centroid_id").isin(probe_ids))
    persisted = ivf_topk(corpus, queries, cents, k=4, nprobe=2, pre_assigned=True)

    key = lambda df: sorted(
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
        for r in df.collect()
    )
    assert key(fly) == key(persisted) and len(key(fly)) > 0


@pytest.mark.slow
def test_quality_classifier_exact_and_null_safe(spark):
    """The logit must equal the direct per-token recompute (exact
    integer sum, order-free) and a null/empty text must score exactly
    bias."""
    import hashlib

    from strat_backtest_spark.functions.hashing import P
    from strat_backtest_spark.operators.text_analysis import (
        fixture_weights,
        quality_classifier,
    )

    w = fixture_weights(64)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox the"), (2, None), (3, "   ")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["logit"], r["keep"])
           for r in quality_classifier(docs, w, bias=7, threshold=10).collect()}

    def hix(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % P % 64

    expect = 7 + sum(w[hix(t)] for t in ["the", "quick", "brown", "fox", "the"])
    assert got[1] == (expect, expect > 10)
    assert got[2] == (7, False) and got[3] == (7, False)


@pytest.mark.slow
def test_dedup_incremental_null_text_kept(spark, tmp_path, monkeypatch):
    """ADVICE-r10 regression: md5(NULL text) is NULL and Spark windows
    group NULLs into one partition — without the isNotNull filter the
    within-delta exact window flagged all-but-min-id null-text docs
    dup_exact. The pinned contract (the q93/q96 oracles' WHERE text IS
    NOT NULL) treats content-less docs as kept; two null-text delta
    docs must BOTH come back kept, and real dups must be unaffected —
    on the broadcast path and on the semi-join fallback."""
    from strat_backtest_spark.operators import dedup

    idx_docs = spark.createDataFrame(
        [(0, "historical alpha beta gamma delta epsilon zeta eta")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "null_idx")
    _index(idx_docs, path)

    delta = spark.createDataFrame(
        [
            (101, None),  # content-less: must be kept
            (103, None),  # second null-text doc: must ALSO be kept
            (105, "historical alpha beta gamma delta epsilon zeta eta"),
            (107, "fresh delta content with plenty of unique tokens"),
        ],
        "doc_id long, text string",
    )
    for max_docs in (dedup.DELTA_BROADCAST_MAX_DOCS, 0):
        monkeypatch.setattr(dedup, "DELTA_BROADCAST_MAX_DOCS", max_docs)
        got = _incremental(spark, delta, path)
        assert got == {
            101: "kept",
            103: "kept",
            105: "dup_exact",
            107: "kept",
        }, f"DELTA_BROADCAST_MAX_DOCS={max_docs}: {got}"


def test_quality_classifier_bigrams_and_vectorized_parity(spark):
    """Round-11 vectorization + bigram features: the logit must equal
    the scalar per-token/per-pair recompute on adversarial inputs —
    multi-space runs, leading/trailing whitespace, a non-breaking
    space (ASCII \\s must NOT split it: one token), repeated tokens,
    single-token docs (no bigram), null text (bias only)."""
    import hashlib

    from strat_backtest_spark.functions.hashing import P
    from strat_backtest_spark.operators.text_analysis import (
        fixture_weights,
        quality_classifier,
    )

    w1, w2 = fixture_weights(64), fixture_weights(32)
    texts = {
        1: "the quick  brown\tfox the",
        2: "  leading and trailing  ",
        3: "nbsp\u00a0joined stays",
        4: "solo",
        5: None,
        6: "a b a b a",
        7: "sentinel\x01collision forces the exact fallback path",
        8: "shared tail tokens overlap across rows in one batch",
        9: "shared tail tokens overlap across rows in one batch too",
    }
    # ONE partition → all docs share an Arrow batch, so the mega-split
    # fast path's row-boundary bookkeeping is actually exercised
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    ).coalesce(1)
    got = {
        r["doc_id"]: r["logit"]
        for r in quality_classifier(
            docs, w1, bias=3, bigram_weights=w2
        ).collect()
    }

    import re

    ws = re.compile(r"\s+", re.ASCII)

    def hix(t, d):
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % P % d

    for did, txt in texts.items():
        s = 3
        if isinstance(txt, str):
            toks = [t for t in ws.split(txt) if t]
            s += sum(int(w1[hix(t, 64)]) for t in toks)
            s += sum(
                int(w2[hix(f"{a} {b}", 32)]) for a, b in zip(toks, toks[1:])
            )
        assert got[did] == s, (did, got[did], s)
    # the NBSP doc really kept the joined token (2 tokens, 1 bigram)
    assert "nbsp\u00a0joined" in texts[3]

    # second batch: NO fallback characters anywhere, so the C
    # mega-split fast path (sentinel bookkeeping + cumsum row indices)
    # is the code that actually runs \u2014 the first batch's NBSP/\x01
    # docs trip the per-batch guard and exercise only the regex
    # fallback. Adversaries: an empty text between non-empty rows
    # (consecutive sentinels \u2192 empty segment), leading/trailing
    # whitespace at row boundaries, a single-token last row, and
    # adjacent rows whose boundary tokens ("tail"/"head") would form
    # a bigram iff row attribution leaked across the sentinel.
    clean = {
        21: "alpha beta gamma",
        22: "",
        23: "  padded   run  ",
        24: "cross tail",
        25: "head boundary pair check",
        26: "solo",
    }
    got2 = {
        r["doc_id"]: r["logit"]
        for r in quality_classifier(
            spark.createDataFrame(
                list(clean.items()), "doc_id long, text string"
            ).coalesce(1),
            w1,
            bias=3,
            bigram_weights=w2,
        ).collect()
    }
    for did, txt in clean.items():
        toks = [t for t in ws.split(txt) if t]
        s = 3
        s += sum(int(w1[hix(t, 64)]) for t in toks)
        s += sum(int(w2[hix(f"{a} {b}", 32)]) for a, b in zip(toks, toks[1:]))
        assert got2[did] == s, (did, got2[did], s)


@pytest.mark.slow
def test_curation_quota_counts_rebuild(spark):
    """The q100 cold-restart claim, made concrete: the per-source
    admitted counters rebuilt from the durable verdict store
    (curation_quota_counts_from_verdicts) must equal the counters the
    live loop accumulated — which, by the deterministic quota
    semantics, are min(cap, docs-in-source) per source. cap=18 on the
    sf0.001 corpus guarantees every source actually rejects."""
    from pyspark.sql import functions as F

    from strat_backtest_spark.streaming.documents_stream import (
        curation_quota_counts_from_verdicts,
        streaming_curation_loop,
    )

    cap = 18
    verdicts = streaming_curation_loop(spark, SF_SMALL, cap=cap)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    got = curation_quota_counts_from_verdicts(verdicts, docs)
    expected = {
        r["source"]: min(cap, int(r["count"]))
        for r in docs.groupBy("source").count().collect()
    }
    assert got == expected
    # the rejection regime really occurred (cap bound, not corpus)
    assert all(v == cap for v in got.values())


def test_curation_quota_rebuild_missing_source_fails_loudly(spark):
    """ADVICE r11: a verdict row whose doc_id is absent from the
    supplied admission log must raise (an inner join silently dropped
    it, understating the source's prior and letting a resumed loop
    overshoot its cap), and the error names the row count."""
    import pytest

    from strat_backtest_spark.streaming.documents_stream import (
        curation_quota_counts_from_verdicts,
    )

    verdicts = spark.createDataFrame(
        [(1, "h1", "kept", 7), (2, "h2", "kept", 7), (99, "h9", "kept", 7)],
        "doc_id long, scrub_hash string, status string, logit long",
    )
    docs = spark.createDataFrame(
        [(1, "web"), (2, "web")], "doc_id long, source string"
    )
    with pytest.raises(ValueError, match="1 admitted verdict row"):
        curation_quota_counts_from_verdicts(verdicts, docs)
    # complete log: counts come back keyed by source
    full = docs.union(spark.createDataFrame([(99, "books")], docs.schema))
    assert curation_quota_counts_from_verdicts(verdicts, full) == {
        "web": 2,
        "books": 1,
    }


def test_delta_probe_rows_rejects_malformed_digests(spark):
    """ADVICE r11: caller-supplied digests with the wrong column shape
    must be rejected before they can write a mixed digest convention
    into an index."""
    import pytest

    from strat_backtest_spark.operators.dedup import delta_probe_rows

    delta = spark.createDataFrame(
        [(1, "some text here")], "doc_id long, text string"
    )
    bad = spark.createDataFrame(
        [("abc", 1, "x")], "text_hash string, doc_id long, extra string"
    )
    with pytest.raises(ValueError, match="exactly columns"):
        delta_probe_rows(delta, digests=bad)
    wrong_name = spark.createDataFrame(
        [("abc", 1)], "hash string, doc_id long"
    )
    with pytest.raises(ValueError, match="exactly columns"):
        delta_probe_rows(delta, digests=wrong_name)


@pytest.mark.slow
def test_curation_loop_cold_restart(spark, tmp_path):
    """Kill/resume for the COMPOSED q100 loop (parity with the
    per-operator restart tests for the streaming kernel and quota):
    incarnation 1 processes replay chunk 0 against durable state and
    STOPS; incarnation 2 processes chunks 1-2 against the SURVIVING
    dedup index + verdict store, its quota counters seeded from the
    verdict store via curation_resume_counts (the wrapped obligation,
    r13 verdict item 6). The combined verdict set must be
    row-identical to an uninterrupted 3-chunk run — restart must not
    re-admit over quota, re-keep an indexed duplicate, or lose a
    verdict."""
    from strat_backtest_spark.streaming.documents_stream import (
        curation_resume_counts,
        streaming_curation_loop,
    )

    cap = 18
    want = {
        (r["doc_id"], r["scrub_hash"], r["status"], r["logit"])
        for r in streaming_curation_loop(spark, SF_SMALL, cap=cap).collect()
    }

    state = str(tmp_path / "curation_state")
    inc1 = streaming_curation_loop(
        spark, SF_SMALL, cap=cap, chunk_ids=[0], state_dir=state
    )
    n1 = inc1.count()
    assert 0 < n1 < len(want), "incarnation 1 must be partial"
    # seed the resumed loop's counters from DURABLE state only — the
    # live dict died with incarnation 1; the helper excludes the
    # chunks about to replay (here none of chunk 0 replays, so the
    # seed covers exactly incarnation 1's verdicts)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    seeds = curation_resume_counts(spark, state, [1, 2], docs)
    assert seeds and any(v > 0 for v in seeds.values())

    got = {
        (r["doc_id"], r["scrub_hash"], r["status"], r["logit"])
        for r in streaming_curation_loop(
            spark,
            SF_SMALL,
            cap=cap,
            chunk_ids=[1, 2],
            state_dir=state,
            initial_counts=seeds,
        ).collect()
    }
    assert got == want


@pytest.mark.slow
def test_curation_loop_midbatch_crash_resume(spark, tmp_path, monkeypatch):
    """At-least-once for the COMPOSED q100 loop (r12 verdict item 2):
    production foreachBatch replays a batch after ANY crash, so the
    micro-batch must be idempotent — not merely resumable at chunk
    boundaries. Two crash windows, each followed by a conservative
    replay-everything resume (the crashed incarnation cannot know how
    far the in-flight batch got):

    - kill BETWEEN the two commits (verdicts written, index append
      lost): the replay must regenerate the index delta and overwrite
      the chunk's verdicts identically;
    - kill AFTER both commits (only the in-memory counters lost): the
      replay is judged against an index that already contains the
      batch's own append — the probe's self-exclusion must keep its
      verdicts identical instead of flagging the batch dup of itself.

    Both resumes seed quota counters from the verdict store EXCLUDING
    the replayed chunks — via curation_resume_counts, the wrapped
    obligation (here all chunks replay, so the rebuilt seed must come
    back empty). Verdict sets must equal the uninterrupted run's
    exactly. The crash is injected by patching ``dedup_index_append``
    (``_crash_after``)."""
    import pyspark.errors

    from strat_backtest_spark.operators import dedup
    from strat_backtest_spark.streaming.documents_stream import (
        curation_resume_counts,
        streaming_curation_loop,
    )

    cap = 18
    want = {
        (r["doc_id"], r["scrub_hash"], r["status"], r["logit"])
        for r in streaming_curation_loop(spark, SF_SMALL, cap=cap).collect()
    }

    for point in ("verdicts_written", "index_appended"):
        state = str(tmp_path / f"curation_state_{point}")
        with monkeypatch.context() as m:
            m.setattr(dedup, "dedup_index_append", _crash_after(point))
            try:
                streaming_curation_loop(spark, SF_SMALL, cap=cap, state_dir=state)
                raise AssertionError("injected crash did not fire")
            except pyspark.errors.exceptions.base.PySparkException:
                pass  # the injected crash killed the stream mid-batch
        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        seeds = curation_resume_counts(spark, state, [0, 1, 2], docs)
        assert seeds == {}, "replaying everything must rebuild an empty prior"
        got = {
            (r["doc_id"], r["scrub_hash"], r["status"], r["logit"])
            for r in streaming_curation_loop(
                spark,
                SF_SMALL,
                cap=cap,
                chunk_ids=[0, 1, 2],
                state_dir=state,
                initial_counts=seeds,
            ).collect()
        }
        assert got == want, f"crash window {point!r} diverged"


def _crash_after(point):
    """A stand-in for ``operators.dedup.dedup_index_append`` that kills
    the curation loop's micro-batch at one of its two commit points:
    ``"verdicts_written"`` raises instead of appending (the verdicts
    committed, the index append is lost); ``"index_appended"`` appends
    and then raises (both commits landed, the in-memory counters are
    lost)."""
    from strat_backtest_spark.operators import dedup

    real = dedup.dedup_index_append

    def crash(*args, **kwargs):
        if point == "index_appended":
            real(*args, **kwargs)
        raise RuntimeError(f"injected crash after {point}")

    return crash


@pytest.mark.slow
def test_ivf_index_append_equals_rebuild(spark, tmp_path):
    """q99's contract: ivf_index_write(half) + ivf_index_append(rest)
    must answer probe-pruned queries value-identically to a one-shot
    rebuild over the union (same codebook — append assigns against
    the index's own persisted centroids)."""
    from pyspark.sql import functions as F

    from strat_backtest_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_write,
        ivf_probes,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    cents = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    queries = emb.filter(F.col("vec_id") < 6)

    p_inc = str(tmp_path / "ivf_inc")
    ivf_index_write(emb.filter(F.col("vec_id") % 2 == 0), cents, p_inc)
    ivf_index_append(emb.filter(F.col("vec_id") % 2 == 1), p_inc)
    p_full = str(tmp_path / "ivf_full")
    ivf_index_write(emb, cents, p_full)

    def topk(path):
        probe_ids = sorted(
            r["probe"]
            for r in ivf_probes(queries, cents, 2)
            .select("probe")
            .distinct()
            .collect()
        )
        corpus = spark.read.parquet(f"{path}/vectors").filter(
            F.col("centroid_id").isin(probe_ids)
        )
        return sorted(
            (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rank"])
            for r in ivf_topk(
                corpus, queries, cents, k=4, nprobe=2, pre_assigned=True
            ).collect()
        )

    inc, full = topk(p_inc), topk(p_full)
    assert inc == full and len(inc) > 0


@pytest.mark.slow
def test_ivf_index_drift_gate(spark, tmp_path):
    """The re-train trigger: a snug index (vectors near their
    centroids) passes the gate; appending a drifted batch (vectors far
    from every centroid) trips it; re-training on the drifted corpus
    and rebuilding clears it again."""
    import numpy as np
    from strat_backtest_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_drift,
        ivf_index_needs_retrain,
        ivf_index_write,
        train_centroids_kmeans,
    )

    rng = np.random.default_rng(11)
    dim = 8
    cents = [(i, [10.0 * (i + 1) if d == i else 0.0 for d in range(dim)]) for i in range(4)]
    snug = [
        (i, [float(x) for x in np.asarray(cents[i % 4][1]) + rng.normal(0, 0.05, dim)])
        for i in range(200)
    ]
    far = [
        (1000 + i, [float(x) for x in rng.normal(50, 1.0, dim)])
        for i in range(200)
    ]
    schema = "vec_id long, embedding array<double>"
    path = str(tmp_path / "drift_idx")
    ivf_index_write(spark.createDataFrame(snug, schema), cents, path)
    d0 = ivf_index_drift(spark, path)
    assert 0.9 < d0["ratio"] < 1.1
    assert not ivf_index_needs_retrain(spark, path, threshold=1.25)

    ivf_index_append(spark.createDataFrame(far, schema), path)
    d1 = ivf_index_drift(spark, path)
    assert d1["ratio"] > 1.25, d1
    assert ivf_index_needs_retrain(spark, path, threshold=1.25)

    # the prescribed response: re-train on the drifted corpus and
    # rebuild into a FRESH path (in-place overwrite would delete the
    # lazily-read source files mid-scan), then swap
    corpus = spark.read.parquet(f"{path}/vectors").select("vec_id", "embedding")
    new_cents = train_centroids_kmeans(corpus, n_centroids=5, seed=7)
    path2 = str(tmp_path / "drift_idx_rebuilt")
    ivf_index_write(corpus, new_cents, path2)
    assert not ivf_index_needs_retrain(spark, path2, threshold=1.25)

    # empty-sample hardening: a drift_sample small enough to come back
    # with zero rows on a tiny index must fall back to the full scan,
    # not persist a 0.0 baseline (which pins ratio=inf and trips the
    # gate forever); same fallback on the read side
    path3 = str(tmp_path / "drift_idx_sampled")
    ivf_index_write(
        spark.createDataFrame(snug, schema), cents, path3, drift_sample=1e-9
    )
    d3 = ivf_index_drift(spark, path3, sample_fraction=1e-9)
    assert d3["baseline"] > 0 and 0.9 < d3["ratio"] < 1.1, d3
    assert not ivf_index_needs_retrain(spark, path3, threshold=1.25)


# ---------------------------------------------------------------------------
# round 14: dedup-index compaction, sliced decontaminate, artifact stamps
# ---------------------------------------------------------------------------

_CBASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def _compact_index(spark, tmp_path, n_chunks=4):
    """A chunk-partitioned index accumulated over ``n_chunks`` batch
    appends (the at-least-once layout), plus a probe delta with one
    exact dup, one near dup, and one novel doc."""
    path = str(tmp_path / "cidx")
    _index(spark.createDataFrame([], "doc_id long, text string"), path)
    for k in range(n_chunks):
        chunk_docs = spark.createDataFrame(
            [
                (k * 10, f"{_CBASE} family{k}"),
                (k * 10 + 1, f"unrelated chunk {k} content with many distinct tokens"),
            ],
            "doc_id long, text string",
        )
        _index(chunk_docs, path, k)
    delta = spark.createDataFrame(
        [
            (900, f"{_CBASE} family2"),            # exact dup of chunk 2
            (901, f"{_CBASE} family0 lambda"),      # near dup of chunk 0
            (902, "entirely novel delta text nothing shared anywhere here"),
        ],
        "doc_id long, text string",
    )
    return path, delta


def test_dedup_index_compact_preserves_verdicts(spark, tmp_path):
    """r13 verdict item 2: folding the accumulated chunk partitions
    into the base must not change a single verdict (existence-probe
    semantics), must shrink the parquet file count, must record the
    folded ids in the sidecar, and must be idempotent (a second pass
    finds nothing to fold)."""
    import os

    from strat_backtest_spark.operators.dedup import (
        compacted_chunks,
        dedup_index_compact,
    )

    path, delta = _compact_index(spark, tmp_path)
    before = _incremental(spark, delta, path)
    assert before == {900: "dup_exact", 901: "dup_near", 902: "kept"}

    stats = dedup_index_compact(spark, path)
    assert stats["folded_chunks"] == [0, 1, 2, 3]
    assert stats["files_after"] < stats["files_before"]
    assert compacted_chunks(path) == {0, 1, 2, 3}
    # the source partitions are gone; only the base remains
    assert sorted(os.listdir(f"{path}/bands")) == ["chunk=-1"]
    assert sorted(os.listdir(f"{path}/digests")) == ["chunk=-1"]
    assert _incremental(spark, delta, path) == before

    again = dedup_index_compact(spark, path)
    assert again["folded_chunks"] == []
    assert again["files_after"] == stats["files_after"]


def test_dedup_index_compact_exclude_and_target_files(spark, tmp_path):
    """``exclude_chunks`` keeps the possibly-in-flight chunk out of the
    fold (its partition dir and free prune survive); ``target_files``
    bounds the folded base's file count; a non-negative ``into`` is
    refused (it would collide with batch chunk ids)."""
    import os

    import pytest

    from strat_backtest_spark.operators.dedup import (
        compacted_chunks,
        dedup_index_compact,
    )

    path, delta = _compact_index(spark, tmp_path)
    before = _incremental(spark, delta, path)
    with pytest.raises(ValueError, match="negative"):
        dedup_index_compact(spark, path, into=0)
    stats = dedup_index_compact(spark, path, exclude_chunks=[3], target_files=1)
    assert stats["folded_chunks"] == [0, 1, 2]
    assert compacted_chunks(path) == {0, 1, 2}
    assert sorted(os.listdir(f"{path}/bands")) == ["chunk=-1", "chunk=3"]
    # one data file per folded table partition
    base_files = [
        f
        for f in os.listdir(f"{path}/bands/chunk=-1")
        if f.endswith(".parquet")
    ]
    assert len(base_files) == 1
    assert _incremental(spark, delta, path) == before


@pytest.mark.slow
def test_dedup_index_compact_replay_after_fold(spark, tmp_path, monkeypatch):
    """The defined replay interaction (r13 verdict item 2): once a
    chunk is folded into the base, the free ``chunk != k`` prune no
    longer hides a replayed batch's prior append — the sidecar names
    the chunk and ``replay_chunk`` adds the id anti-join guard. With
    the guard, replay verdicts are identical; the replay's re-append
    then coexists with the folded copy (duplicate rows are
    verdict-harmless) and the NEXT compaction's distinct folds them
    away without row inflation."""
    from strat_backtest_spark.operators import dedup

    path = str(tmp_path / "ridx")
    _index(
        spark.createDataFrame([(0, f"{_CBASE} historical")], "doc_id long, text string"),
        path,
    )
    batch = spark.createDataFrame(
        [
            (10, f"{_CBASE} historical"),                      # dup of day-zero
            (11, "novel content one with plenty of distinct tokens"),
            (12, "novel content one with plenty of distinct tokens"),
            (13, "entirely different fresh text nothing shared here"),
        ],
        "doc_id long, text string",
    )
    probe = dedup.delta_probe_rows(batch)

    def verdicts():
        return {
            r["doc_id"]: r["verdict"]
            for r in dedup.dedup_incremental(
                spark, probe, path, replay_chunk=7
            ).collect()
        }

    want = verdicts()
    assert want == {10: "dup_exact", 11: "kept", 12: "dup_exact", 13: "kept"}
    dedup.dedup_index_append(probe, _as_verdicts(spark, want), path, 7)

    # crash window: the batch committed its append, then died; a
    # compaction ran before the replay landed and folded chunk 7
    stats = dedup.dedup_index_compact(spark, path)
    assert stats["folded_chunks"] == [7]
    assert 7 in dedup.compacted_chunks(path)

    # the prune alone (sidecar hidden) is blind to the folded copy:
    # the replay would judge its own docs as dups of themselves
    with monkeypatch.context() as m:
        m.setattr(dedup, "compacted_chunks", lambda p: set())
        poisoned = verdicts()
    assert poisoned[10] == "dup_exact" and poisoned[11] != "kept"
    # with the sidecar read, the guard adds the id anti-join and
    # restores the uninterrupted verdicts exactly
    replay = verdicts()
    assert replay == want

    # the replay re-appends; base copy + fresh chunk dir coexist, and
    # the next compaction dedupes instead of inflating
    dedup.dedup_index_append(probe, _as_verdicts(spark, replay), path, 7)
    rows_before = {
        t: spark.read.parquet(f"{path}/{t}").count()
        for t in ("bands", "digests")
    }
    stats2 = dedup.dedup_index_compact(spark, path)
    assert stats2["folded_chunks"] == [7]
    rows_after = {
        t: spark.read.parquet(f"{path}/{t}").count()
        for t in ("bands", "digests")
    }
    assert rows_after["bands"] < rows_before["bands"]
    assert rows_after["digests"] < rows_before["digests"]
    # and a later batch still collides with the registered survivors
    later = spark.createDataFrame(
        [(20, "novel content one with plenty of distinct tokens")],
        "doc_id long, text string",
    )
    assert _incremental(spark, later, path) == {20: "dup_exact"}


def test_dedup_incremental_replay_guard_anti_join_iff_compacted(
    spark, tmp_path, monkeypatch
):
    """``replay_chunk`` always prunes ``chunk != k`` and adds the id
    anti-join (one per index table) exactly when ``k`` is in the
    ``compacted_chunks`` sidecar — a spy on DataFrame.join counts the
    left_anti joins each call builds."""
    from strat_backtest_spark.operators import dedup

    path = str(tmp_path / "gidx")
    _index(
        spark.createDataFrame([(0, f"{_CBASE} historical")], "doc_id long, text string"),
        path,
    )
    batch = spark.createDataFrame(
        [(10, f"{_CBASE} historical"), (11, "novel content with distinct tokens")],
        "doc_id long, text string",
    )
    probe = dedup.delta_probe_rows(batch)
    frame_cls = type(probe.digests)
    real_join = frame_cls.join
    hows: list = []

    def spy(self, other, on=None, how=None):
        hows.append(how)
        return real_join(self, other, on, how)

    def anti_joins(**kw):
        hows.clear()
        with monkeypatch.context() as m:
            m.setattr(frame_cls, "join", spy)
            dedup.dedup_incremental(spark, probe, path, **kw)
        return hows.count("left_anti")

    assert anti_joins() == 0
    assert anti_joins(replay_chunk=7) == 0
    dedup._record_compacted(path, {7})
    assert anti_joins(replay_chunk=7) == 2
    assert anti_joins(replay_chunk=8) == 0
    assert anti_joins() == 0


@pytest.mark.slow
def test_dedup_index_compact_crash_recovery(spark, tmp_path):
    """Re-running after a mid-compaction crash repairs the index: an
    UNCOMMITTED stage (no _SUCCESS) is rolled back; a COMMITTED stage
    whose swap never ran is completed (its ids were recorded before
    staging, so the sidecar already covers it). Verdicts afterwards
    match the clean compaction's."""
    import os
    import shutil

    from strat_backtest_spark.operators.dedup import dedup_index_compact

    path, delta = _compact_index(spark, tmp_path)
    want = _incremental(spark, delta, path)

    # window A: crash mid-stage — tmp exists, no _SUCCESS
    for t in ("bands", "digests"):
        tmp = f"{path}/{t}/.compact_tmp"
        shutil.copytree(f"{path}/{t}/chunk=0", tmp)
        if os.path.isfile(f"{tmp}/_SUCCESS"):
            os.remove(f"{tmp}/_SUCCESS")
    stats = dedup_index_compact(spark, path)
    assert stats["folded_chunks"] == [0, 1, 2, 3]
    assert not os.path.isdir(f"{path}/bands/.compact_tmp")
    assert _incremental(spark, delta, path) == want

    # window B: crash after a COMMITTED stage, before the swap — the
    # tmp (base ∪ candidates) carries _SUCCESS and the old base is
    # still live; recovery must complete the swap, not duplicate it
    path2, delta2 = _compact_index(spark, tmp_path / "b")
    want2 = _incremental(spark, delta2, path2)
    first = dedup_index_compact(spark, path2, exclude_chunks=[2, 3])
    assert first["folded_chunks"] == [0, 1]
    for t in ("bands", "digests"):
        # simulate: a fold of chunks 2,3 staged its tmp (committed)
        # and crashed before swapping — rebuild that state by hand
        spark.read.parquet(
            f"{path2}/{t}/chunk=-1", f"{path2}/{t}/chunk=2", f"{path2}/{t}/chunk=3"
        ).distinct().write.mode("overwrite").parquet(f"{path2}/{t}/.compact_tmp")
    # the crashed run recorded its candidates before staging
    from strat_backtest_spark.operators.dedup import _record_compacted

    _record_compacted(path2, {2, 3})
    stats2 = dedup_index_compact(spark, path2)
    # recovery completed the old fold; chunks 2,3's dirs (stale
    # sources of the completed fold) are re-folded by this pass
    assert not os.path.isdir(f"{path2}/bands/.compact_tmp")
    assert sorted(os.listdir(f"{path2}/bands")) == ["chunk=-1"]
    assert _incremental(spark, delta2, path2) == want2


def test_decontaminate_slices_identity(spark):
    """``slices=K`` is a pure scratch lever: the union of the K
    sequential modular sub-jobs must be row-identical to the one-shot
    run — on BOTH physical paths (broadcast and forced semi-join).
    Non-integral ids and slices < 1 are refused."""
    import pytest

    from strat_backtest_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [
            (i, f"the quick brown fox jumps over the lazy dog number {i % 4}")
            for i in range(24)
        ]
        + [(100, "completely unrelated text about spark partitions here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps high")], "doc_id long, text string"
    )

    def rows(**kw):
        return sorted(
            (r["doc_id"], r["contamination"])
            for r in decontaminate(docs, bench, threshold=0.0, **kw).collect()
        )

    want = rows()
    assert rows(slices=5) == want
    assert rows(slices=5, max_broadcast_shingles=0) == want

    with pytest.raises(ValueError, match="slices must be"):
        decontaminate(docs, bench, slices=0)
    strdocs = spark.createDataFrame(
        [("a", "text with enough tokens for one shingle")],
        "doc_id string, text string",
    )
    with pytest.raises(ValueError, match="integral id"):
        decontaminate(strdocs, bench, slices=2)


def test_benchmark_hashes_artifact_stamp(spark, tmp_path):
    """ADVICE r13: the persisted eval-set artifact embeds its build
    params, and decontaminate REFUSES a stamp that disagrees with its
    own shingling — an n mismatch otherwise silently yields near-zero
    contamination. Stamp-less (pre-r14) artifacts are refused too,
    with re-materialization guidance."""
    import pytest
    from pyspark.sql import functions as F

    from strat_backtest_spark.operators.dedup import (
        SHINGLE_KERNEL,
        benchmark_shingle_hashes,
        decontaminate,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps high")], "doc_id long, text string"
    )
    p = str(tmp_path / "bh")
    art = benchmark_shingle_hashes(bench, n=4)
    assert set(art.columns) == {"h", "n", "kernel"}
    art.write.parquet(p)
    persisted = spark.read.parquet(p)
    row = persisted.select("n", "kernel").first()
    assert (row["n"], row["kernel"]) == (4, SHINGLE_KERNEL)

    # n mismatch: artifact built with n=4, call shingles with n=3
    with pytest.raises(ValueError, match="n=4"):
        decontaminate(docs, None, n=3, benchmark_hashes=persisted)
    # kernel mismatch (a future kernel bump must invalidate artifacts)
    stale = persisted.withColumn("kernel", F.lit("md5-60bit-modP-ws-ngram-v0"))
    with pytest.raises(ValueError, match="kernel"):
        decontaminate(docs, None, n=4, benchmark_hashes=stale)
    # stamp-less legacy shape: loud, with guidance
    with pytest.raises(ValueError, match="re-materialize"):
        decontaminate(docs, None, n=4, benchmark_hashes=persisted.select("h"))
    # matched stamp: identical to inline shingling
    inline = sorted(
        (r["doc_id"], r["contamination"])
        for r in decontaminate(docs, bench, n=4, threshold=0.0).collect()
    )
    got = sorted(
        (r["doc_id"], r["contamination"])
        for r in decontaminate(
            docs, None, n=4, threshold=0.0, benchmark_hashes=persisted
        ).collect()
    )
    assert got == inline and len(got) == 1


def _root_layout_index(spark, path):
    """An index written at its ROOT with raw ``df.write.parquet`` (the
    pre-chunk layout): the right tables and columns, no ``chunk=<k>``
    partition dirs."""
    from strat_backtest_spark.operators.dedup import delta_probe_rows

    probe = delta_probe_rows(
        spark.createDataFrame(
            [(0, "historical alpha beta gamma delta epsilon zeta")],
            "doc_id long, text string",
        )
    )
    probe.band_rows.write.parquet(f"{path}/bands")
    probe.digests.write.parquet(f"{path}/digests")


def test_dedup_incremental_refuses_root_layout_index(spark, tmp_path):
    """An index that is not chunk-partitioned is input from outside
    the program: ``dedup_incremental`` must refuse it with an error
    that names the layout problem and the path, instead of probing it
    (no replay prune is possible) or failing with Spark's
    unresolved-column noise."""
    import pytest

    path = str(tmp_path / "flat_idx")
    _root_layout_index(spark, path)
    delta = spark.createDataFrame(
        [(1, "some delta text with enough tokens")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="chunk-partitioned") as e:
        _incremental(spark, delta, path)
    assert path in str(e.value) and "root-level parquet" in str(e.value)


@pytest.mark.slow
def test_curation_loop_nonmodular_chunks_crash_resume(spark, tmp_path, monkeypatch):
    """r13 verdict item 4: batch identity now derives from the input
    FILES, not from ``doc_id % n_chunks`` — so the mid-batch
    kill/resume equivalence must hold under a chunk assignment where
    ids are NOT modular (here a murmur3 shuffle of doc_id). Under the
    old head-row derivation, a shuffled chunk's batch would mis-name
    itself, overwrite a sibling chunk's verdict partition, and judge
    against the wrong index prune."""
    import pyspark.errors

    from strat_backtest_spark.operators import dedup
    from strat_backtest_spark.streaming.documents_stream import (
        curation_resume_counts,
        streaming_curation_loop,
    )

    cap = 18
    shuffled = "pmod(hash(doc_id), 3)"
    want = {
        (r["doc_id"], r["scrub_hash"], r["status"], r["logit"])
        for r in streaming_curation_loop(
            spark, SF_SMALL, cap=cap, chunk_expr=shuffled
        ).collect()
    }
    # sanity: the shuffled assignment is genuinely non-modular — some
    # doc in chunk 0 has doc_id % 3 != 0
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    nonmod = docs.filter(
        (F.expr(shuffled) == 0) & (F.col("doc_id") % 3 != 0)
    ).count()
    assert nonmod > 0

    state = str(tmp_path / "nm_state")
    with monkeypatch.context() as m:
        m.setattr(dedup, "dedup_index_append", _crash_after("index_appended"))
        try:
            streaming_curation_loop(
                spark, SF_SMALL, cap=cap, chunk_expr=shuffled, state_dir=state
            )
            raise AssertionError("injected crash did not fire")
        except pyspark.errors.exceptions.base.PySparkException:
            pass
    seeds = curation_resume_counts(spark, state, [0, 1, 2], docs)
    assert seeds == {}
    got = {
        (r["doc_id"], r["scrub_hash"], r["status"], r["logit"])
        for r in streaming_curation_loop(
            spark,
            SF_SMALL,
            cap=cap,
            chunk_expr=shuffled,
            chunk_ids=[0, 1, 2],
            state_dir=state,
            initial_counts=seeds,
        ).collect()
    }
    assert got == want


@pytest.mark.slow
def test_curation_loop_replay_after_compaction(spark, tmp_path, monkeypatch):
    """END-TO-END for the compaction/replay interaction the compactor
    defines: a batch commits both writes and crashes; a maintenance
    compaction then folds the in-flight chunk into the index base;
    the resumed loop's replay of that chunk must detect the fold via
    the sidecar, switch to the id anti-join guard, and produce
    verdicts identical to the uninterrupted run."""
    import pyspark.errors

    from strat_backtest_spark.operators import dedup
    from strat_backtest_spark.streaming.documents_stream import (
        curation_resume_counts,
        streaming_curation_loop,
    )

    cap = 18
    want = {
        (r["doc_id"], r["scrub_hash"], r["status"], r["logit"])
        for r in streaming_curation_loop(spark, SF_SMALL, cap=cap).collect()
    }
    state = str(tmp_path / "compact_state")
    with monkeypatch.context() as m:
        m.setattr(dedup, "dedup_index_append", _crash_after("index_appended"))
        try:
            streaming_curation_loop(spark, SF_SMALL, cap=cap, state_dir=state)
            raise AssertionError("injected crash did not fire")
        except pyspark.errors.exceptions.base.PySparkException:
            pass
    # maintenance pass between incarnations folds the crashed batch's
    # own chunk (0) into the base
    stats = dedup.dedup_index_compact(spark, f"{state}/index")
    assert 0 in stats["folded_chunks"]

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    seeds = curation_resume_counts(spark, state, [0, 1, 2], docs)
    got = {
        (r["doc_id"], r["scrub_hash"], r["status"], r["logit"])
        for r in streaming_curation_loop(
            spark,
            SF_SMALL,
            cap=cap,
            chunk_ids=[0, 1, 2],
            state_dir=state,
            initial_counts=seeds,
        ).collect()
    }
    assert got == want


def test_curation_loop_resume_layout_mismatch(spark, tmp_path):
    """ADVICE r13: a durable state_dir holding a ROOT-layout index
    (pre-chunk-partition era, or a day-zero write that died mid-way)
    must be refused at resume with an error naming the layout problem
    — silently appending chunk= dirs next to root parquet files is
    exactly the mixing that breaks partition discovery."""
    import pytest

    from strat_backtest_spark.streaming.documents_stream import (
        streaming_curation_loop,
    )

    state = str(tmp_path / "legacy_state")
    _root_layout_index(spark, f"{state}/index")
    with pytest.raises(ValueError, match="chunk-partitioned"):
        streaming_curation_loop(spark, SF_SMALL, state_dir=state)


def test_dedup_index_compact_tiers(spark, tmp_path):
    """The LSM-style ``into=`` tiers: fold early chunks into one base
    partition, later chunks into a second, and verdicts stay identical
    with both tiers live — the shape a 100 TB index uses so a
    compaction pass rewrites one tier, not the whole history."""
    import os

    from strat_backtest_spark.operators.dedup import (
        compacted_chunks,
        dedup_index_compact,
    )

    path, delta = _compact_index(spark, tmp_path)
    want = _incremental(spark, delta, path)
    # tier 1: fold chunks 0-1 into the default base (-1)
    s1 = dedup_index_compact(spark, path, exclude_chunks=[2, 3])
    assert s1["folded_chunks"] == [0, 1]
    # two more batches land, then tier 2 folds everything newer into -2
    for k in (4, 5):
        chunk_docs = spark.createDataFrame(
            [(k * 10, f"{_CBASE} family{k}")], "doc_id long, text string"
        )
        _index(chunk_docs, path, k)
    s2 = dedup_index_compact(spark, path, into=-2)
    assert s2["folded_chunks"] == [2, 3, 4, 5]
    assert sorted(os.listdir(f"{path}/bands")) == ["chunk=-1", "chunk=-2"]
    assert compacted_chunks(path) == {0, 1, 2, 3, 4, 5}
    assert _incremental(spark, delta, path) == want
    # the tier-2 content is probed too: an exact dup of chunk 4's doc
    probe = spark.createDataFrame(
        [(990, f"{_CBASE} family4")], "doc_id long, text string"
    )
    assert _incremental(spark, probe, path) == {990: "dup_exact"}

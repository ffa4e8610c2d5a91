"""Incremental-dedup rung (q93 at scale): a persisted index of ~6M
docs probed by a multi-million-doc delta — the claim under test is
that incremental cost tracks the DELTA, not the index.

Corpus: the curation family-of-5 construction (see
curation_10m_rung.py — bounded families, expanding vocabulary), split
by family MEMBER: members j in {0,1,2} of every family form the INDEX
("yesterday's corpus", 60%), members j in {3,4} the DELTA ("today's
crawl", 40%). Every delta doc therefore has 3 genuine near-duplicates
in the index (same family) — the verdict distribution exercises the
index-probe path, not just within-delta priority. j is recoverable
from doc_id ((doc_id // 5000) % 5), so sub-deltas slice cleanly.

Phases (all walls engine-only, noop-write forced):
  index_build   — delta_probe_rows + dedup_index_write over the index
                  docs: the ONE-time signature cost the incremental
                  contract amortizes;
  inc_full      — delta_probe_rows + dedup_incremental (delta=j∈{3,4})
                  vs the index;
  inc_half_*    — the same over j==3 only: half the delta against the
                  SAME index — if cost tracks the delta, wall ≈ half of
                  inc_full's; ``_bc``/``_semi`` force the broadcast
                  or the semi-join plan (``DELTA_BROADCAST_MAX_DOCS``
                  set above or below the delta's size);
  inc_small_*   — the same over 2% of j==3, the daily-crawl regime;
  batch_anchor  — minhash_band_rows over index ∪ delta (the signature
                  recompute a closed-world batch run pays EVERY day).

Verdict counts are collected (3 rows) for the full delta. Corpus and
index are deleted after. Prints one JSON line.

    python probes/incremental_dedup_rung.py [REPLICAS] \
        [--corpus DIR] [--index-members K] [--delta-members D]

``--corpus DIR``     reuse an existing family-of-5 corpus (e.g. kept by
                     curation_10m_rung.py ``keep``) instead of building
                     and deleting one — REPLICAS must still match it.
``--index-members K``  index = family members j < K (default 3).
``--delta-members D``  delta = family members j >= 5-D (default 2).
                     K + D < 5 leaves middle members out of both sides
                     (how the 20M-index/20M-delta regime is cut from a
                     50M corpus: K=2, D=2, j=2 unused).
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from strat_backtest_spark.session import get_spark  # noqa: E402


def parse_args(argv: list[str]) -> argparse.Namespace:
    # ADVICE r11: the hand-rolled parser required REPLICAS at argv[1]
    # (so `--corpus DIR` first crashed on int('--corpus')) and indexed
    # one past a trailing flag. argparse owns flag/positional order
    # and missing-value errors now.
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("replicas", nargs="?", type=int, default=2000)
    ap.add_argument("--corpus", default=None,
                    help="reuse an existing family-of-5 corpus dir")
    ap.add_argument("--index-members", type=int, default=3)
    ap.add_argument("--delta-members", type=int, default=2)
    return ap.parse_args(argv)


def main() -> None:
    ns = parse_args(sys.argv[1:])
    replicas = ns.replicas
    reuse_corpus = ns.corpus
    idx_members = ns.index_members
    delta_members = ns.delta_members
    spark = get_spark(cpus=32)
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    from _corpus import N_BASE as n_base

    out = {
        "replicas": replicas,
        "docs": n_base * replicas,
        "index_members": idx_members,
        "delta_members": delta_members,
    }

    corpus_dir = reuse_corpus or f"/tmp/incdedup_rung_{replicas}x"
    scratch = f"/tmp/incdedup_rung_{replicas}x_scratch"
    shutil.rmtree(scratch, ignore_errors=True)
    index_dir = f"{scratch}/index"
    from _corpus import assert_family_construction, build_family_corpus

    if reuse_corpus is None:
        t0 = time.time()
        build_family_corpus(spark, replicas, corpus_dir, n_files=64)
        out["corpus_build_s"] = round(time.time() - t0, 1)

    assert_family_construction(spark, corpus_dir)

    from strat_backtest_spark.operators import dedup
    from strat_backtest_spark.operators.dedup import (
        dedup_incremental,
        dedup_index_write,
        delta_probe_rows,
        minhash_band_rows,
    )

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    member = (F.col("doc_id") / n_base).cast("long") % 5
    index_docs = docs.filter(member < idx_members)
    delta_full = docs.filter(member >= 5 - delta_members)
    delta_half = docs.filter(member == 5 - delta_members)

    t = time.time()
    dedup_index_write(delta_probe_rows(index_docs), index_dir)
    out["index_build_s"] = round(time.time() - t, 1)
    out["index_docs"] = index_docs.count()
    print(json.dumps({"index_build": out["index_build_s"],
                      "index_docs": out["index_docs"]}),
          file=sys.stderr, flush=True)

    # inc_half runs BOTH plans on the same delta/index — the
    # broadcast-vs-semi A/B at the gate boundary; inc_small is the
    # daily-crawl regime (1% of the delta vs the full index), where
    # the broadcast plan's index-scan-only property should dominate.
    # The plan is forced through the module's broadcast gate: a cap of
    # 0 docs always takes the semi-join, an unbounded one always
    # broadcasts, None keeps the default gate.
    delta_small = delta_half.filter(F.col("doc_id") % 50 == 0)
    default_cap = dedup.DELTA_BROADCAST_MAX_DOCS
    semi, bc = 0, float("inf")
    runs = [
        ("inc_full", delta_full, default_cap),
        ("inc_half_semi", delta_half, semi),
        ("inc_half_bc", delta_half, bc),
        ("inc_small_bc", delta_small, bc),
        ("inc_small_semi", delta_small, semi),
    ]
    for key, delta, cap in runs:
        dedup.DELTA_BROADCAST_MAX_DOCS = cap
        t = time.time()
        dedup_incremental(
            spark, delta_probe_rows(delta), index_dir
        ).write.format("noop").mode("overwrite").save()
        out[key + "_s"] = round(time.time() - t, 1)
        print(json.dumps({key: out[key + "_s"]}), file=sys.stderr, flush=True)
    dedup.DELTA_BROADCAST_MAX_DOCS = default_cap
    out["delta_full_docs"] = delta_full.count()
    out["delta_half_docs"] = delta_half.count()
    out["delta_small_docs"] = delta_small.count()

    verdicts = (
        dedup_incremental(spark, delta_probe_rows(delta_full), index_dir)
        .groupBy("verdict")
        .count()
        .collect()
    )
    out["verdicts"] = {r["verdict"]: r["count"] for r in verdicts}

    # the anchor covers exactly index ∪ delta (middle members a K+D<5
    # split leaves out of both sides are not the batch run's work)
    t = time.time()
    anchor_docs = docs.filter((member < idx_members) | (member >= 5 - delta_members))
    minhash_band_rows(anchor_docs).write.format("noop").mode("overwrite").save()
    out["batch_anchor_s"] = round(time.time() - t, 1)
    print(json.dumps({"batch_anchor": out["batch_anchor_s"],
                      "verdicts": out["verdicts"]}),
          file=sys.stderr, flush=True)

    shutil.rmtree(scratch, ignore_errors=True)
    if reuse_corpus is None:
        shutil.rmtree(corpus_dir, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

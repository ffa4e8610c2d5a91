"""Kill/resume at RUNG scale for the q100 curation loop (r12 verdict
item 6): the composed cold-restart tests run at SF_SMALL; this probe
runs the 5M-doc rung as TWO incarnations against durable state and
asserts the combined verdict set equals the uninterrupted run's —
counts per status AND an order-insensitive row hash over all ~5M
verdict rows (collecting them would be a driver anti-pattern).

The kill is MID-BATCH, not at a chunk boundary: incarnation 1 dies
right after its first index append (``dedup_index_append`` is patched
to append and then raise; the loop imports it at call time) — batch
0's verdicts AND index delta are durable but its quota counters die
with the process, the at-least-once case production foreachBatch
actually delivers.
Incarnation 2 conservatively replays EVERYTHING (chunk_ids=[0,1,2],
empty counter seed: all chunks replay, so nothing may pre-count),
exercising verdict overwrite-by-chunk, index overwrite-by-chunk, and
the probe's self-exclusion at full rung scale.

    python probes/curation_killresume_rung.py [REPLICAS]
"""

from __future__ import annotations

import json
import shutil
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from strat_backtest_spark.session import get_spark  # noqa: E402


def fingerprint(verdicts):
    """(status counts, order-insensitive row hash) without a collect."""
    counts = {
        r["status"]: r["n"]
        for r in verdicts.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    h = verdicts.agg(
        F.expr(
            "bit_xor(xxhash64(doc_id, scrub_hash, status, "
            "coalesce(logit, -98765432123456789)))"
        )
    ).collect()[0][0]
    return counts, h


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    spark = get_spark(cpus=32)
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    from _corpus import N_BASE as n_base
    from _corpus import assert_family_construction, build_family_corpus
    from strat_backtest_spark.operators import dedup
    from strat_backtest_spark.streaming.documents_stream import (
        streaming_curation_loop,
    )

    out = {"replicas": replicas, "docs": n_base * replicas}
    corpus_dir = f"/tmp/curation_killresume_{replicas}x"
    t0 = time.time()
    build_family_corpus(
        spark, replicas, corpus_dir, extra_cols=("source",), n_files=32
    )
    out["corpus_build_s"] = round(time.time() - t0, 1)
    assert_family_construction(spark, corpus_dir)

    cap = 200 * replicas
    out["cap_per_source"] = cap

    t0 = time.time()
    want_counts, want_hash = fingerprint(
        streaming_curation_loop(spark, corpus_dir, cap=cap)
    )
    out["uninterrupted_s"] = round(time.time() - t0, 1)
    out["uninterrupted_counts"] = want_counts

    state = f"/tmp/curation_killresume_state_{replicas}x"
    shutil.rmtree(state, ignore_errors=True)
    t0 = time.time()
    killed = None
    real_append = dedup.dedup_index_append

    def append_then_die(*args, **kwargs):
        real_append(*args, **kwargs)
        raise RuntimeError("injected crash after index_appended")

    dedup.dedup_index_append = append_then_die
    try:
        streaming_curation_loop(spark, corpus_dir, cap=cap, state_dir=state)
    except Exception as exc:  # the injected mid-batch kill
        killed = type(exc).__name__
    finally:
        dedup.dedup_index_append = real_append
    # raised OUTSIDE the try: a regressed no-op crash injection must
    # fail the probe, not be swallowed and report success (review r13)
    assert killed is not None, "injected crash did not fire"
    out["incarnation1_killed"] = killed
    out["incarnation1_s"] = round(time.time() - t0, 1)

    t0 = time.time()
    got_counts, got_hash = fingerprint(
        streaming_curation_loop(
            spark, corpus_dir, cap=cap, chunk_ids=[0, 1, 2],
            state_dir=state, initial_counts={},
        )
    )
    out["incarnation2_s"] = round(time.time() - t0, 1)
    out["resumed_counts"] = got_counts
    out["counts_equal"] = got_counts == want_counts
    out["hash_equal"] = bool(got_hash == want_hash)
    print(json.dumps(out))
    assert out["counts_equal"] and out["hash_equal"], out
    shutil.rmtree(corpus_dir, ignore_errors=True)
    shutil.rmtree(state, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()

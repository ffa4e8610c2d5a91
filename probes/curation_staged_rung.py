"""Staged execution of q69's composed curation chain (r12 verdict
item 4): the decade-6 (100M-doc) single-plan run died on SHUFFLE
SCRATCH capacity — the box's ~80 GB of free disk vs the chain's
cumulative shuffle files across 5 stages (knee #3, diagnosed as
executor count / scratch capacity, not plan shape). This probe is the
receipt for that diagnosis: split the chain at its natural stage
boundaries into SEPARATE Spark sessions, materializing slim parquet
intermediates between them, so each stage's shuffle scratch frees when
its context stops (DiskBlockManager removes the local dirs) before the
next stage starts. If the same corpus that OOM-killed the one-plan
chain completes staged, "capacity, not plan" is measured, not argued —
and the per-stage disk high-water numbers quantify the scratch law a
cluster operator would size executors-with-local-disk by.

Stage boundaries (post-pairs and post-CC, exactly where the verdict
suggested) and what crosses them:

  corpus    -> documents.parquet        (built once, --keep reusable)
  pairs     : q23 LSH banding over text -> pairs.parquet  (id_a, id_b)
  cc        : connected_components(pairs) -> components.parquet (id, component)
  benchhash : benchmark_shingle_hashes(bench) -> bench_hashes.parquet —
              the frozen eval suite's write-once artifact
  decon     : decontaminate(corpus, benchmark_hashes=...) ->
              contaminated ids parquet, optionally SLICED
              (--decon-slices K: one session per doc_id % K slice)
  emit      : q68 anti-join + anti contaminated + chunk_documents -> count
  apply     : decon+emit as ONE stage, inline bench (the pre-slice shape)

The apply/emit stages re-read the corpus but only slim ids cross from
the earlier stages — the same artifact shape (doc ids, not text) the
one-plan chain shuffles, now parquet instead of shuffle files.

Why decon slices: the first 100M staged run completed corpus/pairs/cc
(high-water 9.1 / 42.7 / 12.3 GB) but the combined apply stage still
blew the ~72 GB of free scratch — decontaminate's semi-join path emits
~(docs x shingles) slim (doc_id, h) rows through TWO exchanges (the
hash join + the per-doc groupBy), ~10B rows at 100M docs, and that ONE
stage's shuffle exceeds the box. Per-doc contamination is independent
across docs, so slicing the corpus by doc_id % K and running each
slice in its own session divides the stage's scratch by K with
IDENTICAL results (the union of slice outputs is the unsliced output
row-for-row) — which is exactly what a cluster does with K more
executors' local disks; single-node it time-multiplexes the same
resource. The benchmark side is NOT re-shingled per slice: the
benchhash stage persists the eval suite's distinct shingle hashes once
(the artifact production would freeze alongside the benchmark itself)
and every slice scans that parquet.

Each stage samples statvfs free-space every 5 s on a daemon thread;
"hw_used_gb" is the stage's high-water disk draw over its start point.

    python probes/curation_staged_rung.py [REPLICAS] [--block-mib 16]
    python probes/curation_staged_rung.py --stage pairs ...   # one stage
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

sys.path.insert(0, "/root/repo")

def scratch_dir(ns):
    # scoped by corpus size: two runs at different rungs must never
    # share intermediates (a smoke run would clobber a kept 100M set)
    return f"/tmp/staged_chain_{ns.replicas}x"


def parse_args(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("replicas", nargs="?", type=int, default=20000)
    ap.add_argument("--block-mib", type=int, default=16)
    ap.add_argument("--stage",
                    choices=["corpus", "pairs", "cc", "benchhash", "decon",
                             "emit", "apply", "all"],
                    default="all")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--decon-cpus", type=int, default=None,
                    help="task-concurrency override for decon stages: the "
                         "semi-join's partial hash aggregates are heap-"
                         "hungry (a 512 MB map growth under GCLocker "
                         "pressure killed a 32-task 16g run at 100M); "
                         "fewer concurrent tasks = more heap per task")
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    ap.add_argument("--decon-slices", type=int, default=1,
                    help="split the decontaminate stage into K doc_id%%K "
                         "sub-jobs (scratch /= K); in-engine via "
                         "decontaminate(slices=K) unless "
                         "--decon-per-process")
    ap.add_argument("--decon-per-process", action="store_true",
                    help="run each decon slice in its OWN process/JVM "
                         "(hard scratch isolation) instead of the "
                         "in-engine slices= API")
    ap.add_argument("--slice", type=int, default=None,
                    help="which decon slice this process runs (internal)")
    ap.add_argument("--skip", type=str, default="",
                    help="comma-separated stages to skip in --stage all "
                         "(reuse kept intermediates from a prior run)")
    ap.add_argument("--keep", action="store_true",
                    help="keep corpus + intermediates after the final stage")
    return ap.parse_args(argv)


class DiskWatch:
    """min-free sampler: captures the stage's scratch high-water mark."""

    def __init__(self, path="/tmp"):
        self.path, self.min_free, self.stop = path, None, False
        self._start_free = self._free()
        t = threading.Thread(target=self._run, daemon=True)
        t.start()

    def _free(self):
        st = os.statvfs(self.path)
        return st.f_bavail * st.f_frsize

    def _run(self):
        while not self.stop:
            f = self._free()
            if self.min_free is None or f < self.min_free:
                self.min_free = f
            time.sleep(5)

    def report(self):
        self.stop = True
        f = self._free()
        if self.min_free is None or f < self.min_free:
            self.min_free = f
        return {
            "start_free_gb": round(self._start_free / 1e9, 1),
            "min_free_gb": round(self.min_free / 1e9, 1),
            "hw_used_gb": round((self._start_free - self.min_free) / 1e9, 1),
            "end_free_gb": round(f / 1e9, 1),
        }


def corpus_dir(ns):
    return f"/tmp/docs_rung_{ns.replicas}x"


def stage_corpus(ns, spark):
    from _corpus import assert_family_construction, build_family_corpus

    build_family_corpus(
        spark, ns.replicas, corpus_dir(ns),
        extra_cols=("lang", "source"), with_n_chars=True,
        n_files=64, block_size_mib=ns.block_mib,
    )
    assert_family_construction(spark, corpus_dir(ns))
    return {}


def stage_pairs(ns, spark):
    from strat_backtest_spark.plans.catalog import CATALOG

    pairs = CATALOG["q23_minhash_lsh_pairs"].fn(spark, corpus_dir(ns))
    pairs.write.mode("overwrite").parquet(f"{scratch_dir(ns)}/pairs.parquet")
    n = spark.read.parquet(f"{scratch_dir(ns)}/pairs.parquet").count()
    return {"pairs_rows": n}


def stage_cc(ns, spark):
    from strat_backtest_spark.operators.dedup import connected_components

    pairs = spark.read.parquet(f"{scratch_dir(ns)}/pairs.parquet")
    cc = connected_components(pairs)
    cc.write.mode("overwrite").parquet(f"{scratch_dir(ns)}/components.parquet")
    n = spark.read.parquet(f"{scratch_dir(ns)}/components.parquet").count()
    return {"cc_rows": n}


def stage_benchhash(ns, spark):
    # the eval-set artifact, computed ONCE: every decon slice was
    # re-shingling the full 5M-doc benchmark (5 redundant passes at
    # K=6); production freezes the benchmark suite, so its shingle
    # hashes are a write-once parquet the screening runs scan
    from pyspark.sql import functions as F

    from strat_backtest_spark.operators.dedup import benchmark_shingle_hashes

    docs = spark.read.parquet(f"{corpus_dir(ns)}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    benchmark_shingle_hashes(bench, n=3).write.mode("overwrite").parquet(
        f"{scratch_dir(ns)}/bench_hashes.parquet"
    )
    n = spark.read.parquet(f"{scratch_dir(ns)}/bench_hashes.parquet").count()
    return {"bench_hash_rows": n}


def stage_decon(ns, spark):
    # decontaminate over the corpus against the PERSISTED benchmark-
    # hash artifact (stage benchhash). Scratch bounding is IN-ENGINE
    # by default since r14: decontaminate(slices=K) runs K sequential
    # modular sub-jobs in one session, each localCheckpointing its
    # slim result so the semi-join's shuffle scratch is reclaimable
    # between sub-jobs — the probe's old one-process-per-slice pattern
    # promoted into the API (r13 verdict item 3). --decon-per-process
    # keeps the process-per-slice variant (JVM exit as the HARD
    # scratch guarantee) for A/B-ing the two isolation levels; slice
    # outputs union byte-for-byte either way (per-doc contamination is
    # independent).
    from pyspark.sql import functions as F

    from strat_backtest_spark.operators.dedup import decontaminate

    docs = spark.read.parquet(f"{corpus_dir(ns)}/documents.parquet")
    bench_hashes = spark.read.parquet(f"{scratch_dir(ns)}/bench_hashes.parquet")
    side = docs
    tag = ""
    slices = ns.decon_slices
    if ns.slice is not None:
        side = docs.filter(F.col("doc_id") % ns.decon_slices == ns.slice)
        tag = f"/slice={ns.slice}"
        slices = 1
    contaminated = decontaminate(
        side, None, n=3, threshold=0.5, benchmark_hashes=bench_hashes,
        slices=slices,
    ).select("doc_id")
    contaminated.write.mode("overwrite").parquet(
        f"{scratch_dir(ns)}/contaminated.parquet{tag}"
    )
    n = spark.read.parquet(f"{scratch_dir(ns)}/contaminated.parquet{tag}").count()
    return {"contaminated_rows": n}


def stage_emit(ns, spark):
    # q69's tail with BOTH heavy intermediates injected from parquet:
    # identical operator composition to q69_curation_end_to_end
    from pyspark.sql import functions as F

    from strat_backtest_spark.operators.text_analysis import chunk_documents

    docs = spark.read.parquet(f"{corpus_dir(ns)}/documents.parquet")
    cc = spark.read.parquet(f"{scratch_dir(ns)}/components.parquet")
    removed = cc.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias("doc_id")
    )
    surv = docs.join(removed, "doc_id", "left_anti")
    contaminated = spark.read.parquet(f"{scratch_dir(ns)}/contaminated.parquet").select(
        "doc_id"
    )
    kept = surv.join(contaminated, "doc_id", "left_anti")
    chunks = chunk_documents(kept, chunk_tokens=64, overlap=16).select(
        "doc_id", "chunk_id", "n_tokens"
    )
    return {"chunk_rows": chunks.count()}


def stage_apply(ns, spark):
    # q69's tail as ONE stage (decon + emit fused) — the pre-slice
    # shape, fine for small rungs; at 100M its decontaminate shuffle
    # alone exceeds this box's scratch (see module docstring)
    from pyspark.sql import functions as F

    from strat_backtest_spark.operators.dedup import decontaminate
    from strat_backtest_spark.operators.text_analysis import chunk_documents

    docs = spark.read.parquet(f"{corpus_dir(ns)}/documents.parquet")
    cc = spark.read.parquet(f"{scratch_dir(ns)}/components.parquet")
    removed = cc.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias("doc_id")
    )
    surv = docs.join(removed, "doc_id", "left_anti")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    contaminated = decontaminate(docs, bench, n=3, threshold=0.5).select("doc_id")
    kept = surv.join(contaminated, "doc_id", "left_anti")
    chunks = chunk_documents(kept, chunk_tokens=64, overlap=16).select(
        "doc_id", "chunk_id", "n_tokens"
    )
    return {"chunk_rows": chunks.count()}


STAGES = {"corpus": stage_corpus, "pairs": stage_pairs, "cc": stage_cc,
          "benchhash": stage_benchhash, "decon": stage_decon,
          "emit": stage_emit, "apply": stage_apply}


def run_one(ns) -> None:
    from strat_backtest_spark.session import get_spark

    os.makedirs(scratch_dir(ns), exist_ok=True)
    watch = DiskWatch()
    cpus = ns.cpus
    if ns.stage == "decon" and ns.decon_cpus:
        cpus = ns.decon_cpus
    spark = get_spark(cpus=cpus)
    spark.conf.set("spark.sql.shuffle.partitions", str(ns.shuffle_partitions))
    t0 = time.time()
    extra = STAGES[ns.stage](ns, spark)
    out = {"stage": ns.stage, "wall_s": round(time.time() - t0, 1), **extra}
    spark.stop()
    out["disk"] = watch.report()
    print(json.dumps(out), flush=True)


def main() -> None:
    ns = parse_args(sys.argv[1:])
    if ns.stage != "all":
        run_one(ns)
        return
    if ns.decon_slices > 1 and ns.decon_per_process:
        plan = (["corpus", "pairs", "cc", "benchhash"]
                + [("decon", s) for s in range(ns.decon_slices)]
                + ["emit"])
    else:
        # in-engine slicing: ONE decon stage, decontaminate(slices=K)
        plan = ["corpus", "pairs", "cc", "benchhash", "decon", "emit"]
    skip = {s for s in ns.skip.split(",") if s}
    results = []
    for st in plan:
        st, sl = st if isinstance(st, tuple) else (st, None)
        if st in skip:
            continue
        # one PROCESS per stage: JVM exit is the hard guarantee that
        # the stage's spark-local scratch is gone before the next starts
        cmd = [sys.executable, __file__, str(ns.replicas),
               "--stage", st, "--block-mib", str(ns.block_mib),
               "--cpus", str(ns.cpus),
               "--shuffle-partitions", str(ns.shuffle_partitions),
               "--decon-slices", str(ns.decon_slices)]
        if ns.decon_cpus:
            cmd += ["--decon-cpus", str(ns.decon_cpus)]
        if sl is not None:
            cmd += ["--slice", str(sl)]
        p = subprocess.run(cmd, capture_output=True, text=True)
        line = (p.stdout.strip().splitlines() or ["{}"])[-1]
        label = st if sl is None else f"{st}[{sl}]"
        print(f"# {label}: {line}", file=sys.stderr, flush=True)
        if p.returncode != 0:
            print(json.dumps({"failed_stage": label, "rc": p.returncode,
                              "stderr_tail": p.stderr[-2000:],
                              "stages": results}))
            sys.exit(1)
        r = json.loads(line)
        r["stage"] = label
        results.append(r)
    total = round(sum(r["wall_s"] for r in results), 1)
    if not ns.keep:
        shutil.rmtree(corpus_dir(ns), ignore_errors=True)
        shutil.rmtree(scratch_dir(ns), ignore_errors=True)
    print(json.dumps({"replicas": ns.replicas, "docs": 5000 * ns.replicas,
                      "block_mib": ns.block_mib, "total_wall_s": total,
                      "stages": results}))


if __name__ == "__main__":
    main()

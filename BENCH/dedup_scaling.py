"""Dedup-suite scaling bench: the SAME MinHash-LSH pipeline at 1x/Kx docs.

The r3 verdict asked for evidence that the dedup suite scales LINEARLY in
document count (constant docs/sec), not just that the sketch kernels got
faster in isolation. There is no sf1 testdata, so this harness builds the
scaled corpus deterministically from sf0.1: replica ``k`` of the planted
``doc_pool`` gets ``doc_id + k*1_000_000`` and a marker token ``zrep<k>``
inserted after every 2nd word. With word-3-gram shingles every trigram of
a replica then contains its marker, so cross-replica shingle sets are
DISJOINT: candidate generation stays per-replica, and the ideal workload
is exactly K x the base. That makes linearity the pass criterion — any
superlinear wall growth would be an all-pairs / bucket-skew pathology in
the pipeline itself. Structural checks: ZERO cross-replica pairs (the
markers make cross-replica shingle sets disjoint, so any such pair is a
banding bug), and per-replica pair counts within a tight band of each
other (exact equality is NOT expected: the marker token changes every
shingle's hash, so each replica is an independent draw of LSH's
probabilistic candidate recall; the exact-Jaccard verify then bounds the
spread).

Run:  python BENCH/dedup_scaling.py            # K = 1, 10, 40
      python BENCH/dedup_scaling.py 1 10 100   # custom replica counts

Prints one JSON line; builder-recorded results live in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPLICA_STRIDE = 1_000_000  # > max pooled doc_id (~205k): replica ids disjoint


def scaled_pool(docs, k_replicas: int, word_prefix: bool = False):
    """K disjoint-shingle replicas of the planted dedup pool.

    Markers are FIXED-WIDTH and SHORT (zq00..zq99, 4 chars) so every
    replica's text has identical length arithmetic — the training_corpus
    series' quality gate (2*chars <= 11*tokens) is char-count-dependent:
    a variable-width marker would flip threshold-straddling docs
    differently per replica (breaking the exact-Kx survivor criterion),
    and the r4 6-char ``zrep<k>`` marker pushed the marked mean token
    length past the 5.5 gate, annihilating the pool (56 of 60.5k docs
    survived the screen — measured, round 5). ``zq`` is this repo's
    out-of-vocab token convention (dedup.NEAR_TAIL)."""
    from pyspark.sql import functions as F

    from elb_pipeline.dedup import doc_pool

    assert k_replicas <= 100, "widen the marker (zq%02d) past 100 replicas"
    base = doc_pool(docs)
    reps = []
    for k in range(k_replicas):
        if word_prefix:
            # bijective per-word marking: w -> zqNNw. Preserves the corpus'
            # TRIGRAM df distribution exactly (a bijection on the vocabulary
            # maps shingle multisets 1:1, and the constant prefix preserves
            # lexicographic order within a replica), while still making
            # every replica's shingles cross-replica disjoint. Used by the
            # exact-Jaccard series: the infix marker below degrades shingles
            # to BIGRAM entropy, which is a legitimate adversarial corpus
            # (and the df-capped rare path survived it — see BASELINE.md)
            # but not a scaling measurement of organic-corpus behavior: on
            # the bigram-shaped pool the prefix filter's candidate set is
            # 19x the organic one (3.06M vs 162k per 5,840 docs, measured)
            # and the verify stage's intermediates exhausted the disk.
            marked = F.regexp_replace(F.col("text"), r"(\S+)", f"zq{k:02d}$1")
        else:
            # marker after every 2nd word => every 3-gram contains it
            marked = F.regexp_replace(
                F.col("text"), r"(\S+ \S+) ", f"$1 zq{k:02d} "
            )
        reps.append(
            base.select(
                (F.col("doc_id") + k * REPLICA_STRIDE).alias("doc_id"),
                marked.alias("text"),
            )
        )
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    # one shuffle to spread the unioned pool (same rationale as doc_pool)
    return out.repartition(docs.sparkSession.sparkContext.defaultParallelism, "doc_id")


def run_level(spark, k_replicas: int, tag: str = "") -> dict:
    from elb_pipeline.dedup import dup_groups, materialized_signatures, verified_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pool = scaled_pool(docs, k_replicas)
    n_docs = pool.count()

    t0 = time.monotonic()
    sigs = materialized_signatures(pool, cache_key=f"scaling_k{k_replicas}{tag}")
    t_sigs = time.monotonic() - t0

    t0 = time.monotonic()
    from pyspark.sql import functions as F

    pairs = verified_pairs(sigs)
    rep = (F.col("a_id") / REPLICA_STRIDE).cast("long")
    per_rep = (
        pairs.groupBy(
            rep.alias("rep"),
            ((F.col("b_id") / REPLICA_STRIDE).cast("long") != rep).alias("cross"),
        )
        .count()
        .collect()
    )
    n_cross = sum(r["count"] for r in per_rep if r["cross"])
    rep_counts = sorted(r["count"] for r in per_rep if not r["cross"])
    n_pairs = sum(r["count"] for r in per_rep)
    t_pairs = time.monotonic() - t0

    t0 = time.monotonic()
    groups = dup_groups(pairs, cache_key=f"scaling_k{k_replicas}{tag}")
    n_grouped = groups.count()
    t_groups = time.monotonic() - t0

    total = t_sigs + t_pairs + t_groups
    return {
        "k": k_replicas,
        "docs": n_docs,
        "pairs": n_pairs,
        "cross_replica_pairs": n_cross,
        "pairs_per_replica_min_max": [rep_counts[0], rep_counts[-1]],
        "grouped_docs": n_grouped,
        "wall_sigs": round(t_sigs, 3),
        "wall_pairs": round(t_pairs, 3),
        "wall_groups": round(t_groups, 3),
        "wall_total": round(total, 3),
        "docs_per_sec": round(n_docs / total, 1),
    }


def run_corpus_level(spark, k_replicas: int, tag: str = "") -> dict:
    """Full five-screen training_corpus composition on the K-replica pool
    (VERDICT r4 #7): the SAME curation.training_corpus builder the oracled
    driver query runs, with the id-dependent screens unwrapped through
    raw_id = doc_id % REPLICA_STRIDE and the benchmark side built from the
    replicas' own marked text (shingle-disjoint, so contamination stays
    per-replica and the ideal workload is exactly K x the base)."""
    from pyspark.sql import functions as F

    from elb_pipeline import curation as C

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    # Materialize the replica pool to parquet BEFORE the timed window and
    # read it back: a production corpus is a TABLE, not a lazy 40-branch
    # union. Composing the five screens over the un-materialized union
    # replayed the union once per screen that touches `pool` — 4 stages of
    # k*32 near-empty tasks whose per-task scheduling overhead, not
    # executor work, dominated the wall (measured at K=40: 284 s final
    # eval of which the top-10 stages' executor time explains <50 s; with
    # the parquet pool the same eval is ~80 s). Fixture synthesis is not
    # curation work, so it stays outside the timer.
    pool_path = os.path.join(
        os.environ["ELB_MAT_CACHE"], f"pool_k{k_replicas}{tag}.parquet"
    )
    scaled_pool(docs, k_replicas).write.mode("overwrite").parquet(pool_path)
    pool = spark.read.parquet(pool_path)
    n_docs = pool.count()
    raw_id = F.col("doc_id") % REPLICA_STRIDE
    rep = (F.col("doc_id") / REPLICA_STRIDE).cast("long")

    from elb_pipeline.dedup import _shingles

    # Contamination side: the in-text replica markers coarsen word-3-gram
    # matching to (2 real words + marker) — matching MARKED shingles
    # contaminates ~everything (5820 of 5840 docs at sf0.1, measured).
    # The screen therefore runs on DEMARKED, replica-PREFIXED shingles:
    # the standalone marker tokens are stripped back out (exact inverse
    # of scaled_pool's insertion — markers always sit space-delimited
    # between original words) restoring the true 3-original-word
    # semantics, and the "k:" prefix keeps contamination per-replica so
    # the shingle universe grows K x — the ideal K x workload.
    demarked = pool.select(
        "doc_id",
        F.regexp_replace(F.col("text"), r" zq[0-9]{2} ", " ").alias("text"),
    )
    sh = demarked.select("doc_id", F.explode(_shingles()).alias("s")).select(
        "doc_id", F.concat_ws(":", rep, F.col("s")).alias("s")
    )
    bench_sh = sh.where(raw_id < C.N_BENCH_DOCS).select("s")

    t0 = time.monotonic()
    corpus = C.training_corpus(
        pool,
        bench_sh.distinct(),
        C.en_base_ids(docs),
        cache_key=f"corpus_k{k_replicas}{tag}",
        raw_id=raw_id,
        pool_shingles=sh,
    )
    per_rep = (
        corpus.groupBy(
            (F.col("doc_id") / REPLICA_STRIDE).cast("long").alias("rep")
        )
        .count()
        .collect()
    )
    wall = time.monotonic() - t0
    rep_counts = sorted(r["count"] for r in per_rep)

    # Pack stage (round 5): the corpus_sequences tail — survivors
    # materialized OUTSIDE the pack timer (they were just computed above;
    # a production pipeline hands the packer a table), then the two-phase
    # prefix-sum packer is timed alone. Sequences must scale ~K x (total
    # survivor tokens do), the wall sublinearly.
    from elb_pipeline.packing import sequence_pack

    surv_path = os.path.join(
        os.environ["ELB_MAT_CACHE"], f"surv_k{k_replicas}{tag}.parquet"
    )
    corpus.write.mode("overwrite").parquet(surv_path)
    surv = spark.read.parquet(surv_path)
    t1 = time.monotonic()
    packed = sequence_pack(
        surv,
        max_doc_id=k_replicas * REPLICA_STRIDE,  # keyspace bound, no scan
        n_shards=spark.sparkContext.defaultParallelism,
    )
    n_seqs, tok_packed = packed.agg(
        F.count("*"), F.sum("n_tokens")
    ).first()
    pack_wall = time.monotonic() - t1

    return {
        "k": k_replicas,
        "docs": n_docs,
        "survivors": sum(rep_counts),
        "survivors_per_replica_min_max": [rep_counts[0], rep_counts[-1]],
        "n_replicas_seen": len(rep_counts),
        "wall_total": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 1),
        "pack_wall": round(pack_wall, 3),
        "n_sequences": n_seqs,
        "tokens_packed": tok_packed,
    }


def run_rare_level(spark, k_replicas: int, tag: str = "", series: str = "rare") -> dict:
    """Exact-Jaccard paths (dedup.rare_shingle_pairs / prefix_jaccard_pairs)
    on the K-replica pool. Unlike the LSH series there is NO probabilistic
    recall: replicas are textually identical up to their fixed-width marker,
    so per-replica pair counts must be EXACTLY equal — a stronger structural
    criterion. The pool uses the word_prefix (bijective) marking so each
    replica's shingle df distribution is ISOMORPHIC to the organic corpus'
    trigram distribution (see scaled_pool) — per-replica candidate sets,
    global orders, and pair sets are then exactly replica-symmetric, and
    the measured scaling reflects organic-corpus behavior rather than the
    infix marker's bigram-entropy degradation. Both paths read the dedup
    DAG's shingle rows / sets nodes under a per-level key, so their wall
    includes building the signature node those nodes derive from."""
    from pyspark.sql import functions as F

    from elb_pipeline.dedup import prefix_jaccard_pairs, rare_shingle_pairs

    pair_fn = rare_shingle_pairs if series == "rare" else prefix_jaccard_pairs
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # materialized pool, same rationale as run_corpus_level: the rare path
    # reads the pool twice (inverted index + verify sets)
    pool_path = os.path.join(
        os.environ["ELB_MAT_CACHE"], f"rare_pool_k{k_replicas}{tag}.parquet"
    )
    scaled_pool(docs, k_replicas, word_prefix=True).write.mode(
        "overwrite"
    ).parquet(pool_path)
    pool = spark.read.parquet(pool_path)
    n_docs = pool.count()

    t0 = time.monotonic()
    pairs = pair_fn(pool, f"{series}_k{k_replicas}{tag}")
    rep = (F.col("a_id") / REPLICA_STRIDE).cast("long")
    per_rep = (
        pairs.groupBy(
            rep.alias("rep"),
            ((F.col("b_id") / REPLICA_STRIDE).cast("long") != rep).alias("cross"),
        )
        .count()
        .collect()
    )
    wall = time.monotonic() - t0
    n_cross = sum(r["count"] for r in per_rep if r["cross"])
    rep_counts = sorted(r["count"] for r in per_rep if not r["cross"])
    return {
        "k": k_replicas,
        "docs": n_docs,
        "pairs": sum(r["count"] for r in per_rep),
        "cross_replica_pairs": n_cross,
        "pairs_per_replica_min_max": [rep_counts[0], rep_counts[-1]],
        "n_replicas_seen": len(rep_counts),
        "wall_total": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 1),
    }


def main() -> None:
    argv = sys.argv[1:]
    series = "pairs"
    if argv and argv[0] in ("pairs", "corpus", "rare", "prefix"):
        series, argv = argv[0], argv[1:]
    ks = [int(a) for a in argv] or [1, 10, 40]

    from elb_pipeline.session import get_spark, perf_conf

    # fresh cache root: every level pays its own materialization write
    os.environ["ELB_MAT_CACHE"] = tempfile.mkdtemp(prefix="elb_dedup_scaling_")
    spark = get_spark(
        app="dedup_scaling",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf=perf_conf(),
    )
    repeats = int(os.environ.get("ELB_DEDUP_SCALING_REPEATS", "2"))
    import functools

    runner = {
        "pairs": run_level,
        "corpus": run_corpus_level,
        "rare": run_rare_level,
        "prefix": functools.partial(run_rare_level, series="prefix"),
    }[series]
    try:
        runner(spark, 1, tag="_warm")  # untimed: JVM JIT + worker pool
        # best-of-N per level: host-noise windows on this box only ever
        # SLOW a run (see BENCH/BASELINE.md), so per-level best is the
        # least-biased steady-state estimate; all walls are reported.
        levels = []
        for k in ks:
            reps = [runner(spark, k, tag=f"_r{i}") for i in range(repeats)]
            best = min(reps, key=lambda r: r["wall_total"])
            best["wall_total_all_runs"] = [r["wall_total"] for r in reps]
            levels.append(best)
    finally:
        spark.stop()
        shutil.rmtree(os.environ["ELB_MAT_CACHE"], ignore_errors=True)

    base = levels[0]
    if series == "pairs":
        structural_ok = all(
            lv["cross_replica_pairs"] == 0
            and lv["docs"] == lv["k"] * base["docs"] // base["k"]
            # per-replica pair counts are i.i.d. draws of LSH recall; a
            # wide spread would mean bucket skew or leakage, not noise
            and lv["pairs_per_replica_min_max"][0]
            >= 0.8 * lv["pairs_per_replica_min_max"][1]
            for lv in levels
        )
        metric = "minhash-lsh dedup suite scaling (docs/sec vs corpus size)"
    elif series in ("rare", "prefix"):
        # both exact paths are deterministic: replicas are textually
        # identical up to the fixed-width marker, so per-replica counts are
        # EXACTLY equal and any cross-replica pair is a blocking bug (for
        # "prefix" this holds for ANY global order — the output is the true
        # pair set by the AllPairs theorem, independent of tie-breaks)
        structural_ok = all(
            lv["cross_replica_pairs"] == 0
            and lv["docs"] == lv["k"] * base["docs"] // base["k"]
            and lv["pairs_per_replica_min_max"][0]
            == lv["pairs_per_replica_min_max"][1]
            and lv["n_replicas_seen"] == lv["k"]
            for lv in levels
        )
        metric = (
            f"{series} exact-jaccard dedup scaling (docs/sec vs corpus size)"
        )
    else:
        # survivors must grow exactly K x up to LSH candidate-recall noise
        # on borderline (J~0.5) organic pairs: every replica's survivor
        # count within a tight band, and all K replicas present
        structural_ok = all(
            lv["n_replicas_seen"] == lv["k"]
            and lv["docs"] == lv["k"] * base["docs"] // base["k"]
            and lv["survivors_per_replica_min_max"][0]
            >= 0.98 * lv["survivors_per_replica_min_max"][1]
            for lv in levels
        )
        metric = (
            "training_corpus five-screen composition scaling "
            "(docs/sec vs corpus size)"
        )
    # linearity: docs/sec at the largest K vs the base level (base has
    # fixed Spark-job overhead amortized worst, so >=1.0 is the floor)
    lin = levels[-1]["docs_per_sec"] / base["docs_per_sec"]
    print(
        json.dumps(
            {
                "metric": metric,
                "series": series,
                "sf_dir": SF_DIR,
                "cpus": CPUS,
                "levels": levels,
                "structural_ok": structural_ok,
                "throughput_ratio_largest_vs_base": round(lin, 3),
            }
        )
    )


if __name__ == "__main__":
    main()

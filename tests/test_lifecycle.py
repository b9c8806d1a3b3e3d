"""Persist lifecycle: queries must not leak persisted RDDs into a
long-lived session (VERDICT r2 #4). Materialized intermediates go through
matcache (parquet write + read-back); the only transient persists
(dup_groups' pairs/edges) are unpersisted before the function returns."""

from __future__ import annotations

import os

SF_DIR = "/root/testdata/sf0.001"


def _persistent_ids(spark) -> set[int]:
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {k for k in m.keySet().toArray()}


def test_no_new_persisted_rdds_after_queries(spark):
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    before = _persistent_ids(spark)
    for name in ("minhash_lsh_pairs", "simhash_near_dup", "embedding_near_dup"):
        qs[name](spark, SF_DIR).count()
    after = _persistent_ids(spark)
    assert after - before == set(), f"leaked persisted RDDs: {after - before}"


def test_dup_groups_unpersists_inputs(spark):
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    before = _persistent_ids(spark)
    qs["minhash_lsh_groups"](spark, SF_DIR).count()
    # dup_groups materializes its converged labels to parquet and releases
    # EVERYTHING it persisted (pairs/edges caches + every iteration's
    # localCheckpoint) — nothing may survive the call.
    leaked = _persistent_ids(spark) - before
    assert leaked == set(), f"persisted RDDs leaked by dup_groups: {leaked}"


def test_dup_groups_leaves_foreign_caches_alone(spark):
    """The cleanup sweep is scoped to RDDs dup_groups itself created: a
    cache persisted by another query/thread sharing the session must
    survive the call (ADVICE r3 — a blanket since-entry diff would
    silently unpersist it and cause surprise recomputation)."""
    import __spark_entry__ as entry_mod

    foreign = spark.range(100).persist()
    foreign.count()  # actually materialized
    try:
        qs = entry_mod.queries()
        qs["minhash_lsh_groups"](spark, SF_DIR).count()
        assert foreign.storageLevel.useMemory, "foreign cache was unpersisted"
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        ids = {k for k in jmap.keySet().toArray()}
        assert any(
            jmap.get(i) is not None and jmap.get(i).getStorageLevel().useMemory()
            for i in ids
        ), "foreign cache no longer persisted on the context"
    finally:
        foreign.unpersist()


def test_matcache_params_token_busts_stale_cache(spark, tmp_path, monkeypatch):
    """Changing the algorithm params must MISS the old cache entry instead
    of serving parquet computed by the previous version of the logic
    (ADVICE r3): same key + different params → different directory. A hit
    never calls ``build``; a miss leaves no temp directory behind."""
    from elb_pipeline.matcache import cached

    cache = tmp_path / "cache"
    monkeypatch.setenv("ELB_MAT_CACHE", str(cache))
    v1 = spark.range(3).toDF("x")
    got1 = cached(spark, "k", ("threshold", 0.5), lambda: v1)
    assert sorted(r["x"] for r in got1.collect()) == [0, 1, 2]

    v2 = spark.range(5).toDF("x")  # "new logic" produces different rows
    # same params → cache HIT: still the old 3 rows
    hit = cached(spark, "k", ("threshold", 0.5), lambda: v2)
    assert hit.count() == 3

    def boom():
        raise AssertionError("build called on a cache hit")

    assert cached(spark, "k", ("threshold", 0.5), boom).count() == 3
    # changed params → MISS: the new frame is materialized
    miss = cached(spark, "k", ("threshold", 0.7), lambda: v2)
    assert miss.count() == 5
    assert not [d for d in os.listdir(cache) if ".tmp." in d]


def test_dedup_family_cold_writes_each_node_once(spark, tmp_path, monkeypatch):
    """Every dedup DAG node is written exactly once on a cold cache, and a
    second pass over the family writes nothing (cache-first)."""
    from elb_pipeline import dedup as D
    from elb_pipeline import matcache

    monkeypatch.setenv("ELB_MAT_CACHE", str(tmp_path))
    writes: list[str] = []
    real = matcache.write_once

    def counting(df, path):
        writes.append(os.path.basename(path))
        real(df, path)

    monkeypatch.setattr(matcache, "write_once", counting)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for _ in range(2):
        pool = D.materialized_doc_pool(docs, "fam")
        sigs = D.materialized_signatures(pool, "fam")
        D.dup_groups(D.materialized_verified_pairs(sigs, "fam"), "fam").count()
        D.rare_shingle_pairs(pool, "fam").count()
        D.prefix_jaccard_pairs(pool, "fam").count()
        D.incremental_dedup(pool, sigs, D.EXACT_OFFSET).count()
    nodes = ("doc_pool", "minhash_sigs", "verified_pairs", "dup_groups",
             "shingle_rows", "shingle_sets")
    assert sorted(w.split("_fam-v")[0] for w in writes) == sorted(nodes)
    assert sorted(writes) == sorted(
        d for d in os.listdir(tmp_path) if ".tmp." not in d
    )


def test_dir_fingerprint_sees_nested_files(tmp_path):
    """A rewrite inside a partition subdirectory must change the input
    fingerprint, or a cache keyed on it serves stale data."""
    from elb_pipeline.matcache import dir_fingerprint

    f = tmp_path / "d" / "part=1" / "f.parquet"
    f.parent.mkdir(parents=True)
    f.write_bytes(b"a" * 10)
    before = dir_fingerprint(str(tmp_path / "d"))
    f.write_bytes(b"b" * 20)
    assert dir_fingerprint(str(tmp_path / "d")) != before


def test_warm_session_failure_is_logged_not_raised(caplog):
    """Session warm-up never breaks session creation, but a failure is
    reported instead of silently swallowed."""
    from types import SimpleNamespace

    from elb_pipeline.session import _warm_session

    def broken_range(*_a, **_k):
        raise RuntimeError("range failed")

    stub = SimpleNamespace(
        sparkContext=SimpleNamespace(
            applicationId="stub-warm-failure", defaultParallelism=2
        ),
        range=broken_range,
    )
    with caplog.at_level("WARNING", logger="elb_pipeline.session"):
        _warm_session(stub)
    assert any(
        "warm-up failed" in r.getMessage() and r.exc_info for r in caplog.records
    )

"""The three workloads: one call each, its output checks, and the mapping
from Spark plan operators to the pipeline's modules (layers).

A call is one closed-loop request: the next call starts when the previous
one has returned and been checked.
"""

from __future__ import annotations

import contextlib
import os
import shutil

import pyarrow as pa

import gen

# Inputs per call. Every run times calls made after one untimed warm-up
# call, which starts the Python workers and warms the JIT (about 12 s of a
# first call on a 4-CPU host, whatever the input size). Sized so a run
# (JVM start, warm-up, one timed call) takes about 50 s on a 4-CPU host,
# and so per-row work is about half of a timed call's CPU time: at 300k
# high-entropy turns the parse kernel, NDJSON and dead-letter diagnosis
# take about 66 us of CPU per row.
POOL_ROWS = 200_000
ENTROPY_ROWS = 200_000
DOCS = 1_000
N_GROUPS = 4  # run_job's default, restated for the manifest check


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# job_pool / job_entropy
# ---------------------------------------------------------------------------


class JobWorkload:
    """``job.run_job`` with its defaults into a fresh output directory."""

    layer = "job"

    def __init__(self, name: str, kind: str, rows: int, work: str, seed: int):
        from elb_pipeline.goldens import POOL_SINKS, TEXT_POOL

        self.name, self.kind, self.work, self.seed = name, kind, work, seed
        self.meta = gen.transcripts(work, kind, rows, seed)
        self.rows = rows
        self.input_path = self.meta["path"]
        mal = [t for t, s in enumerate(POOL_SINKS) if s == "malformed"]
        self.template_diag = dict(zip(mal, gen._diagnose([TEXT_POOL[t] for t in mal])))

    def host_record(self) -> dict:
        m = self.meta
        return {"rows": m["rows"], "kind": m["kind"], "sink_counts": m["sink_counts"],
                "distinct_ratio_mean": m["distinct_ratio_mean"]}

    def start(self, spark) -> None:
        self.spark = spark

    def call(self, i: int, tracer=None):
        from elb_pipeline.job import run_job

        out = os.path.join(self.work, "out", f"{self.name}-{i}")
        _rmtree(out)
        if tracer is None:
            return out, run_job(self.spark, self.spark.read.parquet(self.input_path), out)
        with tracer.span("job.run_job", layer="job"):
            return out, run_job(self.spark, self.spark.read.parquet(self.input_path), out)

    def warm_up(self):
        """The call on the first quarter of the input, into its own
        output directory: starts the Python workers and warms the JIT."""
        from pyspark.sql import functions as F

        from elb_pipeline.job import run_job

        out = os.path.join(self.work, "out", f"{self.name}-warm-up")
        _rmtree(out)
        df = self.spark.read.parquet(self.input_path)
        return out, run_job(self.spark, df.where(F.col("turn_idx") < self.meta["warm_up_rows"]),
                            out)

    def check_warm_up(self, result) -> list[str]:
        from elb_pipeline import checkpoint

        out, res = result
        errors = []
        if res.sink_counts != self.meta["warm_up_sink_counts"]:
            errors.append(f"warm-up sink counts {res.sink_counts} != "
                          f"{self.meta['warm_up_sink_counts']}")
        if sorted(checkpoint.completed_groups(out)) != list(range(N_GROUPS)):
            errors.append("warm-up: a group's manifest is missing")
        return errors

    def observe(self, result) -> dict:
        """What one call left on disk, read back with pyarrow (not Spark):
        manifests, per-sink row and byte totals, and the sample rows."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        from elb_pipeline import checkpoint

        out, res = result
        data = ds.dataset(os.path.join(out, "data"), format="parquet", partitioning="hive")
        cols = ["turn_idx", "json", "mal_text", "nearest_dialect", "fields_ok",
                "failed_position", "sink"]
        table = data.to_table(columns=cols)
        totals = {}
        for sink in set(table.column("sink").to_pylist()):
            part = table.filter(pc.equal(table.column("sink"), sink))
            jb, mb = (pc.sum(pc.binary_length(part.column(c))).as_py() for c in ("json", "mal_text"))
            totals[sink] = (part.num_rows, jb, mb)
        ids = [s["turn_idx"] for s in self.meta["sample"]]
        rows = table.filter(pc.is_in(table.column("turn_idx"), value_set=pa.array(ids, pa.int32())))
        return {"sink_counts": res.sink_counts, "groups": checkpoint.completed_groups(out),
                "totals": totals, "rows": rows.to_pylist()}

    def compare(self, seen: dict, expect: dict) -> list[str]:
        """Errors in one call's output against the generator's expectations."""
        errors = []
        if seen["sink_counts"] != expect["sink_counts"]:
            errors.append(f"sink counts {seen['sink_counts']} != {expect['sink_counts']}")
        if sorted(seen["groups"]) != list(range(N_GROUPS)):
            errors.append(f"manifests for groups {seen['groups']}")
        for sink, n in expect["sink_counts"].items():
            got_n, jb, mb = seen["totals"].get(sink, (0, None, None))
            if got_n != n:
                errors.append(f"{sink}: {got_n} rows on disk, expected {n}")
            if sink == "malformed":
                if mb != expect["malformed_text_bytes"] or jb is not None:
                    errors.append(f"malformed bytes {mb} != {expect['malformed_text_bytes']}")
            elif jb != expect["json_bytes"][sink]:
                errors.append(f"{sink}: json bytes {jb} != {expect['json_bytes'][sink]}")
        sample = {s["turn_idx"]: s for s in expect["sample"]}
        if len(seen["rows"]) != len(sample):
            errors.append(f"sample: {len(seen['rows'])} of {len(sample)} rows found")
        for r in seen["rows"]:
            s = sample[r["turn_idx"]]
            if r["sink"] != s["sink"]:
                errors.append(f"row {r['turn_idx']}: sink {r['sink']} != {s['sink']}")
            elif s["sink"] == "malformed":
                diag = (r["nearest_dialect"], r["fields_ok"], r["failed_position"])
                if r["mal_text"] != s["text"] or r["json"] is not None:
                    errors.append(f"row {r['turn_idx']}: dead letter text differs")
                if diag != self.template_diag[s["template"]]:
                    errors.append(f"row {r['turn_idx']}: diagnosis {diag}")
            elif r["json"] != s["json"]:
                errors.append(f"row {r['turn_idx']}: json differs from golden")
        return errors

    def expected(self) -> dict:
        return self.meta

    def perturbed(self) -> dict:
        """Expectations with one count and one sample byte changed: the
        check must reject them (negative control)."""
        bad = dict(self.meta)
        bad["sink_counts"] = dict(bad["sink_counts"], alb=bad["sink_counts"]["alb"] + 1)
        sample = [dict(s) for s in bad["sample"]]
        first = next(s for s in sample if s["json"])
        first["json"] = first["json"].replace('"', "'", 1)
        bad["sample"] = sample
        return bad

    def cleanup(self, result) -> None:
        _rmtree(result[0])


# ---------------------------------------------------------------------------
# dedup_refresh
# ---------------------------------------------------------------------------

def _pairs(rows) -> set:
    return {(int(a), int(b), round(float(j), 4)) for a, b, j in rows}


class DedupWorkload:
    """The dedup family over a seeded documents table, cold cache per call."""

    layer = "dedup"

    def __init__(self, name: str, work: str, seed: int):
        self.name, self.work, self.seed = name, work, seed
        self.meta = gen.documents(work, DOCS, seed)
        self.rows = DOCS
        self.input_path = self.meta["path"]
        self.expect = duckdb_twins(work, self.meta["path"])
        for k in ("lsh_pairs", "groups", "rare_pairs", "prefix_pairs"):
            if not self.expect[k]:
                raise AssertionError(f"twin {k} is empty: the input plants no duplicates")

    def host_record(self) -> dict:
        return {"docs": self.meta["docs"], "vocab": self.meta["vocab"],
                "verified_pairs": len(self.expect["lsh_pairs"])}

    def start(self, spark) -> None:
        self.spark = spark

    def call(self, i: int, tracer=None):
        """One refresh: every dedup product built and forced, into a cold
        materialization cache (matcache reads ELB_MAT_CACHE per call)."""
        from elb_pipeline import dedup as D

        docs = self.spark.read.parquet(self.input_path)
        cache = os.path.join(self.work, "matcache", str(i))
        _rmtree(cache)
        os.environ["ELB_MAT_CACHE"] = cache
        key = f"s{self.seed}_{i}"
        res = {"cache": cache}

        def step(name, fn):
            if tracer is None:
                return fn()
            with tracer.span(f"dedup.{name}", layer="dedup"):
                return fn()

        with (tracer.span("dedup_refresh", layer="dedup") if tracer else contextlib.nullcontext()):
            pool = step("pool", lambda: D.materialized_doc_pool(docs, key))
            sigs = step("signatures", lambda: D.materialized_signatures(pool, key))

            def lsh():
                vp = D.materialized_verified_pairs(sigs, key)
                return vp, vp.collect()

            vp, res["lsh_pairs"] = step("lsh_pairs", lsh)
            res["groups"] = step("groups", lambda: D.dup_groups(vp, key).collect())
            res["rare_pairs"] = step("rare_pairs", lambda: D.rare_shingle_pairs(pool, key).collect())
            res["prefix_pairs"] = step("prefix_pairs", lambda: D.prefix_jaccard_pairs(pool, key).collect())
            res["incremental"] = step(
                "incremental",
                lambda: D.incremental_dedup(pool, sigs, D.EXACT_OFFSET).collect(),
            )
        res["sigs"] = sigs
        return res

    def observe(self, res) -> dict:
        return {
            "lsh_pairs": _pairs(res["lsh_pairs"]),
            "rare_pairs": _pairs(res["rare_pairs"]),
            "prefix_pairs": _pairs(res["prefix_pairs"]),
            "groups": {(int(a), int(b)) for a, b in res["groups"]},
            "incremental": {(int(a), s) for a, s in res["incremental"]},
        }

    def compare(self, got: dict, expect: dict) -> list[str]:
        return [
            f"{k}: {len(got[k] - expect[k])} extra, {len(expect[k] - got[k])} missing"
            for k in got if got[k] != expect[k]
        ]

    def expected(self) -> dict:
        return self.expect

    def perturbed(self) -> dict:
        bad = dict(self.expect)
        bad["lsh_pairs"] = set(list(bad["lsh_pairs"])[1:])
        bad["incremental"] = {(d, "kept") for d, _ in bad["incremental"]}
        return bad

    def warm_up(self):
        """A whole refresh (call 0), untimed."""
        return self.call(0)

    def check_warm_up(self, res) -> list[str]:
        return [f"warm-up {e}" for e in self.compare(self.observe(res), self.expect)]

    def cleanup(self, res) -> None:
        _rmtree(res["cache"])


def duckdb_twins(work: str, docs_path: str) -> dict:
    """The dedup results as computed by DuckDB from the ``dedup`` module's
    own CTE/SQL builders; run once per seed before Spark starts."""
    import duckdb

    from elb_pipeline import dedup as D

    con = duckdb.connect()
    try:
        tmp = os.path.join(work, "tmp", "duckdb")
        os.makedirs(tmp, exist_ok=True)
        con.execute(f"SET temp_directory='{tmp}'")
        con.execute(
            "CREATE TABLE documents AS SELECT * FROM "
            f"read_parquet('{os.path.join(docs_path, '*.parquet')}')"
        )
        con.execute(
            f"CREATE TABLE pairs AS WITH {D.doc_pool_cte()}, {D.signatures_cte()}, "
            f"{D.lsh_candidates_cte()}, {D.verified_pairs_cte()} "
            "SELECT a_id, b_id, jaccard FROM pairs"
        )
        return {
            "lsh_pairs": _pairs(con.execute("SELECT * FROM pairs").fetchall()),
            "groups": {
                (int(a), int(b)) for a, b in con.execute(
                    f"WITH RECURSIVE {D.dup_groups_cte()} SELECT doc_id, group_id FROM groups"
                ).fetchall()
            },
            "rare_pairs": _pairs(con.execute(D.rare_shingle_pairs_sql()).fetchall()),
            "prefix_pairs": _pairs(con.execute(D.prefix_jaccard_pairs_sql()).fetchall()),
            "incremental": {
                (int(a), s) for a, s in
                con.execute(D.incremental_dedup_sql(D.EXACT_OFFSET)).fetchall()
            },
        }
    finally:
        con.close()

"""Per-layer metrics of a traced call: Spark operator metrics grouped by
the pipeline module (layer) they belong to, self time per layer, and
direct calls into the layers' public functions.
"""

from __future__ import annotations

import os
import re
import statistics
import time

LAYERS = ("sources", "parse", "enrich", "aggregate", "job", "dedup", "matcache", "md5vec")

_TIMERS = {
    "scan time", "time to run Python workers", "time to initialize Python workers",
    "time to start Python workers", "time to broadcast", "time to build",
    "time to collect", "shuffle write time", "fetch wait time",
    "time in aggregation build", "sort time", "task commit time", "job commit time",
}


def node_layer(node: dict, workload_layer: str, input_path: str) -> str:
    """The module a plan operator's work belongs to."""
    name = node["name"]
    if name.startswith("Scan parquet"):
        return "sources" if input_path.rstrip("/") in node["desc"] else (
            "matcache" if workload_layer == "dedup" else "job")
    if name == "MapInArrow":
        return "parse"
    if "Python" in name or "Pandas" in name:
        return "md5vec"  # dedup's Arrow UDFs hash shingles with md5vec
    if name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
        return "matcache" if workload_layer == "dedup" else "job"
    if workload_layer == "dedup":
        return "dedup"
    if name.startswith(("BroadcastExchange", "BroadcastHashJoin", "Scan ExistingRDD")):
        return "enrich"
    if name.startswith(("Exchange", "HashAggregate", "AQEShuffleRead")):
        return "aggregate"
    return "job"


def execution_layers(execution: dict, workload_layer: str, input_path: str) -> dict:
    """Share of an execution's operator task time per layer."""
    acc: dict[str, float] = {}
    for node in execution["nodes"]:
        ms = sum(v for k, v in node["metrics"].items() if k in _TIMERS)
        if ms:
            layer = node_layer(node, workload_layer, input_path)
            acc[layer] = acc.get(layer, 0.0) + ms
    total = sum(acc.values())
    if not total:
        return {workload_layer: 1.0}
    return {k: v / total for k, v in acc.items()}


def _nodes(execs, prefix):
    return [n for e in execs for n in e["nodes"] if n["name"].startswith(prefix)]


def _sum(nodes, *names) -> float:
    return sum(n["metrics"].get(k, 0.0) for n in nodes for k in names)


def spark_metrics(wl, execs) -> dict[str, float]:
    """What every workload's executions report: input scans, executions,
    stages and tasks."""
    inp = wl.input_path.rstrip("/")
    scans = [n for n in _nodes(execs, "Scan parquet") if inp in n["desc"]]
    stages = {s["id"]: s for e in execs for s in e["stages"]}
    return {
        "sources.scan_ms": _sum(scans, "scan time"),
        "sources.bytes_read": _sum(scans, "size of files read"),
        "sources.rows_scanned_ratio": _sum(scans, "number of output rows") / wl.rows,
        "job.executions": float(len(execs)),
        "spark.stages": float(len(stages)),
        "spark.tasks": float(sum(s["tasks"] for s in stages.values())),
        "spark.task_failures": float(sum(s["failed"] for s in stages.values())),
        "spark.task_skew": max((s["skew"] for s in stages.values()), default=1.0),
    }


def job_metrics(execs) -> dict[str, float]:
    """The job's parse, enrich, aggregate and write operators."""
    arrow = _nodes(execs, "MapInArrow")
    shuffles = _nodes(execs, "Exchange")
    writes = _nodes(execs, "Execute InsertIntoHadoopFsRelationCommand")
    groups: dict[int, list[float]] = {}
    for e in execs:
        m = re.search(r"/group=(\d+)", e["plan"])
        if m:
            g = groups.setdefault(int(m.group(1)), [e["start_ms"], e["end_ms"]])
            g[0], g[1] = min(g[0], e["start_ms"]), max(g[1], e["end_ms"])
    return {
        "parse.python_ms": _sum(arrow, "time to run Python workers"),
        "parse.bytes_to_python": _sum(arrow, "data sent to Python workers"),
        "parse.bytes_from_python": _sum(arrow, "data returned from Python workers"),
        "enrich.broadcast_ms": _sum(_nodes(execs, "BroadcastExchange"), "time to broadcast",
                                    "time to build", "time to collect"),
        "aggregate.shuffle_bytes": _sum(shuffles, "shuffle bytes written"),
        "aggregate.shuffle_write_ms": _sum(shuffles, "shuffle write time"),
        "aggregate.fetch_wait_ms": _sum(shuffles, "fetch wait time"),
        "aggregate.spill_bytes": _sum([n for e in execs for n in e["nodes"]], "spill size"),
        "job.write_bytes": _sum(writes, "written output"),
        "job.files_written": _sum(writes, "number of written files"),
        "job.commit_ms": _sum(writes, "task commit time", "job commit time"),
        "job.group_s": statistics.median([(b - a) / 1e3 for a, b in groups.values()])
        if groups else 0.0,
    }


def worker_init_ms(execs) -> float:
    """Task time spent starting Python workers, over every operator that
    runs Python (the job's MapInArrow, dedup's md5vec UDFs)."""
    nodes = [n for e in execs for n in e["nodes"]]
    return _sum(nodes, "time to start Python workers", "time to initialize Python workers")


def _median_time(fn, repeats: int = 3) -> float:
    ts = []
    for _ in range(repeats):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


def kernel_metrics(wl) -> dict[str, float]:
    """Direct calls into the layers' public functions, in this process, on
    the workload's own first input batch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    import gen
    from elb_pipeline.deadletter import diagnose_arrow
    from elb_pipeline.dialects import ALB_FIELDS, ALB_NAMED_PATTERN
    from elb_pipeline.jsonout import arrow_ndjson
    from elb_pipeline.parse import route_json_arrow

    text = gen.read_text_batch(wl.meta)
    n = len(text)
    sink, _ = route_json_arrow(text)
    alb = text.filter(pc.equal(sink, "alb"))
    mal = text.filter(pc.equal(sink, "malformed"))
    children = list(pc.extract_regex(alb, pattern=ALB_NAMED_PATTERN).flatten())
    tid = len(ALB_FIELDS) - 1
    children[tid] = pc.if_else(pc.equal(children[tid], ""), pa.scalar(None, pa.string()),
                               children[tid])
    return {
        "parse.distinct_ratio": wl.meta["distinct_ratio_mean"],
        "parse.kernel_us_per_row": _median_time(lambda: route_json_arrow(text)) / n * 1e6,
        "jsonout.us_per_row": _median_time(
            lambda: arrow_ndjson(list(ALB_FIELDS), children, optional_last=True)
        ) / len(alb) * 1e6,
        "deadletter.us_per_row": _median_time(
            lambda: diagnose_arrow(mal, positions=True)
        ) / len(mal) * 1e6,
        "deadletter.rows": float(wl.meta["sink_counts"]["malformed"]),
    }


def dedup_metrics(res, spans, execs) -> dict[str, float]:
    from elb_pipeline import dedup as D

    out = {f"{s['name']}_s": s["end"] - s["start"]
           for s in spans if s["name"].startswith("dedup.")}
    cands = D.lsh_candidate_pairs(res["sigs"]).count()
    out["dedup.lsh_candidates"] = float(cands)
    out["dedup.verified_pairs"] = float(len(res["lsh_pairs"]))
    out["dedup.verify_yield"] = len(res["lsh_pairs"]) / cands if cands else 0.0
    entries, size = 0, 0
    for d in os.listdir(res["cache"]):
        p = os.path.join(res["cache"], d)
        entries += os.path.exists(os.path.join(p, "_SUCCESS"))
        for base, _, files in os.walk(p):
            size += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    out["matcache.entries_written"] = float(entries)
    out["matcache.bytes_written"] = float(size)
    # wall of the executions that write into the cache (matcache.materialize)
    out["matcache.write_ms"] = float(sum(
        e["end_ms"] - e["start_ms"] for e in execs
        if "InsertIntoHadoopFsRelationCommand" in e["plan"] and res["cache"] in e["plan"]
    ))
    return out


def md5vec_metrics(wl) -> dict[str, float]:
    """Direct ``md5vec.md5_seeded_digests`` over the workload's distinct
    word-3-gram shingles with the minhash seeds, in this process."""
    import pyarrow.parquet as pq

    from elb_pipeline.dedup import N_SIGS
    from elb_pipeline.md5vec import md5_seeded_digests

    shingles = set()
    for t in pq.read_table(wl.input_path).column("text").to_pylist():
        w = t.split(" ")
        shingles.update(" ".join(w[i:i + 3]) for i in range(len(w) - 2))
    msgs = [s.encode() for s in sorted(shingles)]
    seeds = [f"#{i}".encode() for i in range(N_SIGS)]
    secs = _median_time(lambda: md5_seeded_digests(msgs, seeds))
    nbytes = sum(len(m) + len(seeds[0]) for m in msgs) * len(seeds)
    return {"md5vec.mb_per_s": nbytes / 2**20 / secs}


def layer_times(wl, tracer, execs) -> dict[str, float]:
    """Self time per layer inside one traced call (the tracer holds that
    call's spans, the first being the call itself). Each SQL execution
    becomes a child span of the innermost harness span it started in; its
    wall time is split over layers by its operators' task-time shares. A
    harness span's self time (Python-side work outside any execution) goes
    to the span's own layer."""
    harness = list(tracer.spans)
    for e in execs:
        start, end = e["start_ms"] / 1e3, e["end_ms"] / 1e3
        inside = [s for s in harness if s["start"] <= start <= s["end"]]
        parent = max(inside, key=lambda s: s["start"])["id"] if inside else 0
        shares = execution_layers(e, wl.layer, wl.input_path)
        tracer.add(f"sql.{e['id']}", start, end, parent, layer=max(shares, key=shares.get),
                   shares=shares, description=e["description"][:120])
    spans = tracer.spans
    times = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        kids = sorted((c["start"], c["end"]) for c in spans if c["parent"] == s["id"])
        covered, cursor = 0.0, s["start"]
        for a, b in kids:
            a, b = max(a, cursor), min(b, s["end"])
            if b > a:
                covered += b - a
                cursor = b
        self_s = max(s["end"] - s["start"] - covered, 0.0)
        for layer, share in s.get("shares", {s["layer"]: 1.0}).items():
            times[layer] = times.get(layer, 0.0) + self_s * share
    return times


def trace_call(wl, tracer, execs, res, wall) -> dict[str, float]:
    """Per-layer metrics of one traced call."""
    out = spark_metrics(wl, execs)
    out.update(job_metrics(execs) if wl.layer == "job"
               else dedup_metrics(res, tracer.spans, execs))
    for layer, secs in layer_times(wl, tracer, execs).items():
        out[f"{layer}.self_s"] = secs
        out[f"{layer}.share"] = secs / wall
    return out

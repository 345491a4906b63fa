"""The traced run: per-layer metrics of every measured layer on one
workload's input, plus the tracing overhead.

Two sessions in one driver process:

1. local[nproc] with the event log on: a cold operation (as the untraced
   runs measure it), one operation with spans on, one with spans off
   (overhead = traced wall - untraced wall; the traced operation's spans
   give the self-time table and its tasks the exchange counters), then the
   layer sweep: each layer is called on its own, inside a span, through
   the package's public functions;
2. local[1], in the same JVM: a warm-up operation on the first input file,
   then one operation on the whole input, for the strong-scaling
   efficiency (both sides timed as a warm operation on the same input).

Layers not measured: ``datapipe/*`` (no KG consumer), ``streaming.stream``,
``streaming.stateful``, ``engine.delta`` and ``api`` (no KG driver path
uses them).
"""

from __future__ import annotations

import os
import time

from spans import PY_BYTES, PY_RUN, PY_START, EventLog, Tracer


def _op_walls(run, spark, files, tracer, tag: str, out_n: int) -> list[float]:
    """Run ``out_n`` operations; returns their walls."""
    from workloads import BATCH_OPS, sides_of

    gaz = spark.createDataFrame(run.inputs.gazetteer)
    sides = sides_of(run.inputs)
    walls = []
    for i in range(out_n):
        out = os.path.join(run.work, "out", f"{tag}-{i}")
        t0 = time.perf_counter()
        BATCH_OPS[run.workload](spark, files, sides, gaz, out, tracer)
        walls.append(time.perf_counter() - t0)
    return walls


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _extractor_layers(run, metrics: dict, reps: int = 3) -> float:
    """In-process battery on 10,000-row frames of the relevant docs, timed
    ``reps`` times; each span's figure is its fastest pass, so the render
    self time (a difference of separately timed calls) is not swamped by
    noise.  Returns the relevant docs' text bytes."""
    from literature_to_facts_spark.engine.kinds import classify_url
    from literature_to_facts_spark.engine.pipeline import (
        apply_valuable_filter,
        extract_kind_batch,
    )
    from literature_to_facts_spark.extractors.arxiv import ARXIV_BATCH_EXTRACTORS, prepare_arxiv
    from literature_to_facts_spark.extractors.atel import ATEL_BATCH_EXTRACTORS, prepare_atel
    from literature_to_facts_spark.extractors.gcn import GCN_BATCH_EXTRACTORS, prepare_gcn
    from workloads import sides_of

    kinds = {
        "gcn": (prepare_gcn, GCN_BATCH_EXTRACTORS),
        "atel": (prepare_atel, ATEL_BATCH_EXTRACTORS),
        "arxiv": (prepare_arxiv, ARXIV_BATCH_EXTRACTORS),
    }
    docs = run.inputs.docs.copy()
    docs["kind"] = [classify_url(u) for u in docs["url"]]
    docs = docs[docs["kind"].isin(list(kinds))]
    sides = sides_of(run.inputs)
    frames = [docs.iloc[lo:lo + 10_000] for lo in range(0, len(docs), 10_000)]  # Arrow batch
    for frame in frames:  # one-time costs (regex compiles) out of the way
        for kind in kinds:
            if (frame["kind"] == kind).any():
                extract_kind_batch(kind, frame[frame["kind"] == kind], sides)
    best: dict[str, float] = {}
    for _ in range(reps):
        tracer = Tracer(enabled=True)
        rows_in = rows_kept = 0
        for frame in frames:
            for kind, (prepare, battery) in kinds.items():
                sub = frame[frame["kind"] == kind]
                if len(sub) == 0:
                    continue
                with tracer.span(f"extractors.prepare.{kind}"):
                    prep, _ = prepare(sub)
                with tracer.span("extractors.battery"):
                    for spec in battery:
                        with tracer.span(f"extractors.fn.{kind}.{spec.name}"):
                            spec.fn(prep, sides)
                # the package's own batch function, for the render self time
                with tracer.span("pipeline.kind_batch"):
                    triples, _ = extract_kind_batch(kind, sub, sides)
                with tracer.span("pipeline.valuable"):
                    kept = apply_valuable_filter(triples)
                rows_in += len(triples)
                rows_kept += len(kept)
        for name, agg in tracer.self_times().items():
            best[name] = min(best.get(name, agg["total_s"]), agg["total_s"])
    for kind, (_, battery) in kinds.items():
        metrics[f"extractors.prepare_s.{kind}"] = best.get(f"extractors.prepare.{kind}", 0.0)
        for spec in battery:
            metrics[f"extractors.fn_s.{kind}.{spec.name}"] = best.get(
                f"extractors.fn.{kind}.{spec.name}", 0.0)
    prep_s = sum(v for n, v in best.items() if n.startswith("extractors.prepare."))
    metrics["extractors.battery_s"] = best.get("extractors.battery", 0.0)
    metrics["pipeline.kind_batch_s"] = best.get("pipeline.kind_batch", 0.0)
    metrics["pipeline.render_s"] = (
        metrics["pipeline.kind_batch_s"] - prep_s - metrics["extractors.battery_s"])
    metrics["pipeline.valuable_s"] = best.get("pipeline.valuable", 0.0)
    metrics["pipeline.valuable_keep_share"] = rows_kept / rows_in if rows_in else 0.0
    return float(sum(len(t.encode("utf-8", "surrogatepass")) for t in docs["text"]))


def _spark_layers(run, spark, tracer, metrics: dict) -> dict:
    """Each Spark-side layer called on its own.  Returns span ids by name."""
    from pyspark.sql import functions as F

    from literature_to_facts_spark.engine.canonicalize import canonical_entities
    from literature_to_facts_spark.engine.graph import read_triples, write_triples
    from literature_to_facts_spark.engine.linking import MENTION_PREDS, link_entities
    from literature_to_facts_spark.engine.pipeline import extract_triples, relevant_docs
    from literature_to_facts_spark.streaming.incremental import completed_buckets
    from workloads import (
        CRAWL_BUCKETS,
        DICTVIEW_SUBJ,
        QUERIES,
        DuckOracle,
        crawl_op,
        graph_rows,
        run_query,
        sides_of,
    )

    sweep = os.path.join(run.work, "out", "sweep")
    sides = sides_of(run.inputs)
    docs = spark.read.parquet(*run.inputs.files)
    ids: dict[str, int] = {}

    def timed(name: str, fn):
        ids[name] = len(tracer.spans)
        t0 = time.perf_counter()
        with tracer.span(name):
            out = fn()
        return out, time.perf_counter() - t0

    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    _, metrics["kinds.scan_s"] = timed("kinds.scan", lambda: noop(relevant_docs(docs)))
    metrics["kinds.relevant_share"] = relevant_docs(docs).count() / len(run.inputs.docs)

    _, metrics["pipeline.map_s"] = timed(
        "pipeline.map", lambda: noop(extract_triples(spark, docs, sides, dedup=False)))
    _, dedup_s = timed("pipeline.dedup", lambda: noop(extract_triples(spark, docs, sides)))
    metrics["pipeline.dedup_s"] = dedup_s - metrics["pipeline.map_s"]

    triples = extract_triples(spark, docs, sides, dedup=False).cache()
    raw = triples.count()
    distinct = triples.dropDuplicates(["subj", "pred", "obj_n3"]).cache()
    n_distinct = distinct.count()
    metrics["pipeline.dedup_drop_share"] = 1 - n_distinct / raw if raw else 0.0
    graph_dir = os.path.join(sweep, "graph")
    _, metrics["graph.write_s"] = timed("graph.write", lambda: write_triples(distinct, graph_dir))
    metrics["graph.files_written"], metrics["graph.bytes_written"] = _dir_stats(graph_dir)
    triples.unpersist()
    distinct.unpersist()

    graph = read_triples(spark, graph_dir)
    gaz = spark.createDataFrame(run.inputs.gazetteer)
    links = link_entities(graph, gaz).cache()
    n_links, metrics["linking.link_s"] = timed("linking.link", links.count)
    n_mentions = graph.where(F.col("pred").isin(*MENTION_PREDS)).count()
    metrics["linking.links"] = n_links
    metrics["linking.link_hit_share"] = n_links / n_mentions if n_mentions else 0.0
    canon, metrics["canonicalize.s"] = timed(
        "canonicalize", lambda: canonical_entities(links).collect())
    top = max((r["n_mentions"] for r in canon), default=0)
    metrics["canonicalize.hot_key_share"] = top / n_links if n_links else 0.0
    links.unpersist()

    # the incremental driver and compaction: the crawl operation's traced
    # run already called them; other workloads call them here
    if run.workload == "crawl_incremental":
        crawl_out = os.path.join(run.work, "out", "traced-0")
    else:
        crawl_out = os.path.join(sweep, "crawl")
        crawl_op(spark, run.inputs.files, sides, gaz, crawl_out, tracer)
    inc_dir = os.path.join(crawl_out, "inc")
    for name in ("incremental.run", "graph.compact"):
        span = [x for x in tracer.spans if x["name"] == name][-1]
        ids[name] = span["id"]
        metrics[name + "_s"] = span["end"] - span["start"]
    metrics["incremental.bucket_s"] = metrics["incremental.run_s"] / CRAWL_BUCKETS
    _, metrics["incremental.ledger_read_s"] = timed(
        "incremental.ledger_read", lambda: completed_buckets(spark, inc_dir, "crawl"))
    bucket_rows = graph_rows(os.path.join(inc_dir, "triples"))
    metrics["graph.cross_bucket_dup_share"] = (
        1 - len(set(bucket_rows)) / len(bucket_rows) if bucket_rows else 0.0)

    names = {"counterpart": "contemplate.counterpart_ms", "grb": "contemplate.grb_ms",
             "dictview": "dictview.ms", "predicate_stats": "kgquery.predicate_stats_ms"}
    oracle = DuckOracle(graph_dir)
    try:
        for q in QUERIES:
            for _ in range(2):  # the first run of a query is a warm-up
                t0 = time.perf_counter()
                rows = run_query(spark, graph_dir, q, DICTVIEW_SUBJ, tracer)
                wall = time.perf_counter() - t0
                ok = rows == oracle.expected(q, DICTVIEW_SUBJ)
                run.record(None if ok else f"query {q} differs from DuckDB")
            metrics[names[q]] = 1000 * wall
    finally:
        oracle.close()
    return ids


def unit_of(name: str) -> str:
    if name.endswith("ms"):
        return "ms"
    if name.endswith("_s") or name == "canonicalize.s" or "_s." in name:
        return "s"
    if name.endswith("bytes_sent") or name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name in ("graph.files_written", "linking.links", "exchange.shuffle_records"):
        return "count"
    return "ratio"


def sweep(run) -> dict:
    """The traced run.  Returns per-layer metrics as name -> (value, unit)
    and leaves the operation's self-time table in ``run.extra``."""
    metrics: dict = {}
    nproc = run.nproc
    off = Tracer(enabled=False)

    tracer = Tracer(enabled=True)
    log_dir = os.path.join(run.work, "eventlog")
    spark, _, _ = run.session(nproc, tracer=tracer, event_log=log_dir)
    files = run.inputs.files
    _op_walls(run, spark, files, off, "cold", 1)  # what the untraced runs measure
    op_id = len(tracer.spans)
    traced = _op_walls(run, spark, files, tracer, "traced", 1)[0]
    # measured after the traced one, so JIT warm-up can only inflate the overhead
    untraced = _op_walls(run, spark, files, off, "untraced", 1)[0]
    op_table = {k: round(v["self_s"], 3) for k, v in tracer.self_times().items()}
    relevant_bytes = _extractor_layers(run, metrics)
    ids = _spark_layers(run, spark, tracer, metrics)
    run.check_batch(spark, [os.path.join(run.work, "out", t) for t in ("traced-0", "untraced-0")],
                    len(run.inputs.docs))
    spark.stop()  # flushes the event log

    # strong scaling: the same input on one core.  A warm-up operation on
    # the first input file imports the package into the fresh Python worker
    # and runs every code path once, so both timed operations are warm.
    spark, _, _ = run.session(1)
    _op_walls(run, spark, files[:1], off, "one-warm", 1)
    one = _op_walls(run, spark, files, off, "one", 1)[0]
    run.check_batch(spark, [os.path.join(run.work, "out", "one-0")], len(run.inputs.docs))
    spark.stop()

    # same triples on both sides, so the throughput ratio is a wall ratio
    metrics["scaling.eff"] = one / (nproc * untraced)
    run.record(None if metrics["scaling.eff"] <= 1 else
               f"scaling.eff {metrics['scaling.eff']:.3f} > 1: a failed measurement")

    ev = EventLog(log_dir)
    span_of = lambda name: ev.select(tracer.subtree(ids[name]))  # noqa: E731
    mapped = span_of("pipeline.map")
    metrics["pipeline.udf_bytes_sent"] = EventLog.total(mapped, PY_BYTES)
    metrics["pipeline.udf_run_s"] = EventLog.total(mapped, PY_RUN) / 1e3
    # workers start once per session (they are reused), so count them all
    metrics["pipeline.udf_worker_start_s"] = EventLog.total(ev.tasks, PY_START) / 1e3
    metrics["pipeline.udf_bytes_per_relevant_byte"] = (
        metrics["pipeline.udf_bytes_sent"] / relevant_bytes if relevant_bytes else 0.0)
    once = EventLog.total(span_of("pipeline.dedup"), PY_BYTES)
    metrics["incremental.udf_bytes_ratio"] = (
        EventLog.total(span_of("incremental.run"), PY_BYTES) / once if once else 0.0)
    metrics["canonicalize.task_skew"] = EventLog.task_skew(span_of("canonicalize"))
    op_tasks = ev.select(tracer.subtree(op_id))
    metrics["exchange.shuffle_bytes"] = EventLog.total(op_tasks, "shuffle_bytes")
    metrics["exchange.shuffle_records"] = EventLog.total(op_tasks, "shuffle_records")
    metrics["exchange.spill_bytes"] = EventLog.total(op_tasks, "spill_bytes")
    metrics["exchange.task_max_over_median"] = EventLog.task_skew(op_tasks)
    metrics["trace.untraced_op_s"] = untraced
    metrics["trace.traced_op_s"] = traced
    metrics["trace.overhead_s"] = traced - untraced

    tracer.write(os.path.join(run.work, "spans.json"))
    run.extra = {"op_self_s": op_table, "one_core_op_s": round(one, 3)}
    return {k: (v, unit_of(k)) for k, v in metrics.items()}

"""The workloads' operations, the graph queries and the correctness gate.

Each workload is a closed loop with one client that submits its next
operation when the previous one has completed:

* ``dense_oneshot``: one operation builds the graph from extraction-dense
  literature documents: extract -> pred-partitioned write -> entity
  linking -> salted canonicalization (committed as parquet).
* ``crawl_incremental``: one operation runs the resumable bucketed driver
  with its ledger over a Common-Crawl-like mix, then compacts the bucket
  outputs into one pred-partitioned graph.

The contemplate-side read queries run in the traced layer sweep.
Operations and queries call only public functions of the package.  The
gate compares their outputs, outside every timed section, against the
reference shim (graphs), the unsalted canonicalization (entities) and
DuckDB (queries).
"""

from __future__ import annotations

import os
from urllib.parse import unquote

import duckdb
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from literature_to_facts_spark.config import get_spark
from literature_to_facts_spark.engine.canonicalize import (
    canonical_entities,
    canonical_entities_unsalted,
)
from literature_to_facts_spark.engine.contemplate import (
    counterpart_matches,
    counterpart_summary,
    grb_reaction_summary,
)
from literature_to_facts_spark.engine.dictview import dict_view
from literature_to_facts_spark.engine.graph import compact_graph, read_triples, write_triples
from literature_to_facts_spark.engine.kgquery import predicate_stats
from literature_to_facts_spark.engine.linking import link_entities
from literature_to_facts_spark.engine.pipeline import extract_triples, make_sides
from literature_to_facts_spark.streaming.incremental import run_incremental

CRAWL_BUCKETS = 2
QUERIES = ("counterpart", "grb", "dictview", "predicate_stats")
# the dict-view query's subject: a golden GCN every workload input holds
DICTVIEW_SUBJ = "http://odahub.io/ontology/paper#gcn31106"


# ---------------------------------------------------------------------------
# sessions
# ---------------------------------------------------------------------------


def start_session(work: str, master: str, event_log: str | None = None):
    """A SparkSession whose scratch space lives under ``work``.

    ``event_log`` enables an uncompressed, non-rolling event log there."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def first_python_job(spark, sides) -> None:
    """The first Python-worker job: spawns one worker per core and ships
    the side tables as a broadcast, as every extraction does."""
    bc = spark.sparkContext.broadcast(sides)
    n = spark.sparkContext.defaultParallelism

    def touch(batches):
        tables = bc.value
        for pdf in batches:
            pdf["id"] = pdf["id"] + len(tables.ads)
            yield pdf

    spark.range(0, n, 1, n).mapInPandas(touch, "id long").collect()
    bc.unpersist()


def sides_of(inputs):
    return make_sides(inputs.balrog, inputs.amon_notices, inputs.ads_authors)


# ---------------------------------------------------------------------------
# operations
# ---------------------------------------------------------------------------


def dense_op(spark, files, sides, gazetteer, out: str, tracer) -> None:
    with tracer.span("op.dense_oneshot"):
        docs = spark.read.parquet(*files)
        with tracer.span("pipeline+graph.write"):
            write_triples(extract_triples(spark, docs, sides), os.path.join(out, "graph"))
        graph = read_triples(spark, os.path.join(out, "graph"))
        with tracer.span("linking+canonicalize"):
            links = link_entities(graph, gazetteer)
            canonical_entities(links).write.mode("overwrite").parquet(
                os.path.join(out, "canonical")
            )


def crawl_op(spark, files, sides, gazetteer, out: str, tracer) -> None:
    with tracer.span("op.crawl_incremental"):
        docs = spark.read.parquet(*files)
        with tracer.span("incremental.run"):
            run_incremental(
                spark, docs, os.path.join(out, "inc"), sides,
                n_buckets=CRAWL_BUCKETS, run_id="crawl",
            )
        with tracer.span("graph.compact"):
            compact_graph(
                spark, os.path.join(out, "inc", "triples", "bucket=*"),
                os.path.join(out, "graph"),
            )


BATCH_OPS = {"dense_oneshot": dense_op, "crawl_incremental": crawl_op}


def run_query(spark, graph_dir: str, name: str, subj: str | None, tracer) -> list:
    """One contemplate-side read query; returns its rows, normalized."""
    with tracer.span(f"query.{name}"):
        g = read_triples(spark, graph_dir)
        if name == "counterpart":
            rows = counterpart_summary(counterpart_matches(g)).collect()
        elif name == "grb":
            rows = grb_reaction_summary(g).collect()
        elif name == "dictview":
            rows = dict_view(g.where(F.col("subj") == subj)).collect()
        else:
            rows = predicate_stats(g).collect()
    return sorted(_plain(tuple(r)) for r in rows)


def _plain(v):
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    return v


# ---------------------------------------------------------------------------
# correctness gate (never inside a timed section)
# ---------------------------------------------------------------------------


def graph_rows(graph_dir: str) -> list[tuple]:
    """(subj, pred, obj_n3) rows of a pred-partitioned graph, read with
    pyarrow (independent of Spark)."""
    table = ds.dataset(graph_dir, format="parquet", partitioning="hive").to_table(
        columns=["subj", "pred", "obj_n3"]
    )
    cols = [table.column(c).to_pylist() for c in ("subj", "pred", "obj_n3")]
    return list(zip(*cols))


def check_graph(graph_dir: str, expected: set) -> str | None:
    """None when the graph equals ``expected`` with set semantics."""
    rows = graph_rows(graph_dir)
    got = set(rows)
    if len(rows) != len(got):
        return f"{len(rows) - len(got)} duplicate triples in {graph_dir}"
    if got != expected:
        return (f"graph {graph_dir}: {len(got - expected)} unexpected, "
                f"{len(expected - got)} missing triples")
    return None


def canonical_reference(spark, graph_dir: str, gazetteer) -> set:
    links = link_entities(read_triples(spark, graph_dir), gazetteer)
    return {_plain(tuple(r)) for r in canonical_entities_unsalted(links).collect()}


def check_canonical(canonical_dir: str, expected: set) -> str | None:
    t = ds.dataset(canonical_dir, format="parquet").to_table(
        columns=["canonical_uri", "entity_type", "n_mentions", "n_docs", "mention_forms"]
    )
    got = {_plain(tuple(r.values())) for r in t.to_pylist()}
    if got != expected:
        return f"canonical {canonical_dir}: salted != unsalted ({len(got ^ expected)} rows differ)"
    return None


class DuckOracle:
    """DuckDB recomputation of the contemplate queries over graph parquet."""

    def __init__(self, graph_dir: str):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE t AS SELECT subj, pred, obj, dtype FROM read_parquet(?, "
            "hive_partitioning = true, hive_types = {'pred': VARCHAR})",
            [os.path.join(graph_dir, "*", "*.parquet")],
        )
        # Spark escapes partition values in directory names ('/' -> '%2F')
        for (pred,) in self.con.execute(
            "SELECT DISTINCT pred FROM t WHERE pred LIKE '%\\%%' ESCAPE '\\'"
        ).fetchall():
            self.con.execute("UPDATE t SET pred = ? WHERE pred = ?", [unquote(pred), pred])
        self._cache: dict = {}

    def close(self) -> None:
        self.con.close()

    def expected(self, name: str, subj: str | None) -> list:
        key = (name, subj)
        if key not in self._cache:
            self._cache[key] = sorted(getattr(self, "_" + name)(subj))
        return self._cache[key]

    def _counterpart(self, _subj) -> list:
        matches = self.con.execute("""
            WITH dates AS (SELECT subj, obj AS d FROM t WHERE pred = 'DATE'),
            ct AS (
                SELECT c.obj AS event, d.d AS counterpart_gcn_time,
                       t0.obj AS event_t0, i.obj AS instrument
                FROM t c JOIN dates d ON d.subj = c.subj
                JOIN t t0 ON t0.subj = c.subj AND t0.pred = 'original_event_utc'
                JOIN t i ON i.subj = c.subj AND i.pred = 'instrument'),
            rep AS (
                SELECT r.obj AS event, d.d AS event_gcn_time
                FROM t r JOIN dates d ON d.subj = r.subj
                WHERE r.pred IN ('lvc_event_report', 'reports_icecube_event'))
            SELECT ct.event, rep.event_gcn_time, ct.counterpart_gcn_time,
                   ct.event_t0, ct.instrument
            FROM ct JOIN rep ON ct.event = rep.event
            WHERE rep.event_gcn_time != ct.counterpart_gcn_time
        """).fetchall()
        by_event: dict = {}
        for event, ev_time, cp_time, t0, instrument in matches:
            first, insts = by_event.get(event, (None, []))
            cand = (cp_time, t0, ev_time)
            by_event[event] = (cand if first is None or cand < first else first,
                               insts + [instrument])
        return [(e, f[2], f[0], f[1], tuple(sorted(i))) for e, (f, i) in by_event.items()]

    def _grb(self, _subj) -> list:
        return self.con.execute("""
            SELECT r.obj, t0.obj, d.obj FROM t r
            JOIN t d ON d.subj = r.subj AND d.pred = 'DATE'
            JOIN t t0 ON t0.subj = r.subj AND t0.pred = 'event_t0'
            WHERE r.pred = 'integral_grb_report' AND t0.obj != d.obj
        """).fetchall()

    def _predicate_stats(self, _subj) -> list:
        return self.con.execute("""
            SELECT pred, count(*), count(DISTINCT subj), count(DISTINCT obj)
            FROM t GROUP BY pred
        """).fetchall()

    def _dictview(self, subj) -> list:
        rows = self.con.execute(
            "SELECT pred, obj, dtype FROM t WHERE subj = ?", [subj]
        ).fetchall()
        by_pred: dict = {}
        for pred, obj, dtype in rows:
            by_pred.setdefault(pred, []).append((obj, dtype))
        out = []
        for pred, vals in by_pred.items():
            entries = {
                (float(o) if dt in ("integer", "double") else None, o, dt) for o, dt in vals
            }
            entries = sorted(entries, key=lambda e: (e[0] is not None, e[0] or 0.0, e[1], e[2]))
            out.append((
                subj, "paper:" + pred, tuple(e[1] for e in entries),
                tuple(e[2] for e in entries), len(entries), len(vals),
            ))
        return out

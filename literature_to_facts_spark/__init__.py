"""literature_to_facts_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of the fact-extraction semantics of
``oda-hub/literature-to-facts`` (reference snapshot at /root/reference/) as an
idiomatic Spark DataFrame + vectorized pandas/Arrow-UDF pipeline over a table
of Common-Crawl-style web pages::

    documents(url string, warc_ts timestamp, html binary, text string, lang string)

Pipeline stages (BASELINE.json north_rule):

1. batched mention detection per text partition   (engine.pipeline)
2. entity linking against a broadcast gazetteer   (engine.linking)
3. salted-key canonicalization of hot entities    (engine.canonicalize)
4. (subj, pred, obj) triple materialization       (engine.graph)

Everything runs through ``mapInPandas``/built-in SQL functions — no
row-at-a-time Python UDFs on the hot path.
"""

from literature_to_facts_spark import zipcache

# A Python worker imports the package in its first task (the batch closure
# or the side-table broadcast); from then on pyspark's per-task import-cache
# invalidation re-reads no unchanged zip archive.
zipcache.install()

__version__ = "0.1.0"

import os
import time

import pytest

os.environ["TZ"] = "UTC"
time.tzset()


@pytest.fixture(scope="session")
def spark():
    from literature_to_facts_spark.config import LONG_LIVED_DRIVER_CONF, get_spark

    # one JVM runs the whole suite: a long-lived driver keeps C2, as the
    # looping driver does (on 4 cores the suite took 1,099-1,228 s C1-only, 898 s).
    # A 4g heap: under the 8g default the JVM grew to ~9 GB RSS on a 15 GB host.
    s = get_spark(
        app_name="l2f-spark-tests", master="local[8]", shuffle_partitions=8,
        extra_conf={**LONG_LIVED_DRIVER_CONF, "spark.driver.memory": "4g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus():
    from literature_to_facts_spark.sources.corpus import build_corpus

    return build_corpus(n_docs=400, seed=42)


@pytest.fixture(scope="session")
def sides(corpus):
    from literature_to_facts_spark.engine.pipeline import make_sides

    return make_sides(corpus.balrog, corpus.amon_notices, corpus.ads_authors)


@pytest.fixture(scope="session")
def shim_sides(corpus):
    from literature_to_facts_spark.shim.reference_shim import SideTables

    return SideTables(
        balrog={r["url_json"]: r for _, r in corpus.balrog.iterrows()},
        amon_notices={r["url"]: r["notice_text"] for _, r in corpus.amon_notices.iterrows()},
        ads_authors={r["subject"]: r["gcn_authors"] for _, r in corpus.ads_authors.iterrows()},
    )


@pytest.fixture(scope="session")
def docs_df(spark, corpus):
    return spark.createDataFrame(corpus.documents).cache()


@pytest.fixture(scope="session")
def triples_df(spark, docs_df, sides):
    from literature_to_facts_spark.engine.pipeline import extract_triples

    return extract_triples(spark, docs_df, sides).cache()


@pytest.fixture(scope="session")
def triples_raw_df(spark, docs_df, sides):
    """Pre-dedup stream (the reference's per-doc fact list, incl. duplicate
    values — required by the dict view's scalar-vs-list rule)."""
    from literature_to_facts_spark.engine.pipeline import extract_triples

    return extract_triples(spark, docs_df, sides, dedup=False).cache()

"""Public API facade + plugin registry (the reference's -m module surface)."""

import pandas as pd
import pytest

from literature_to_facts_spark import api
from literature_to_facts_spark.sources.corpus import GOLDEN_GCNS


def test_parse_document_point_query():
    g = api.parse_document("gcn", GOLDEN_GCNS[31120])
    assert g["paper:mentions_named_event"] == ["IceCube-211123A"]
    assert g["paper:NUMBER"] == "31120"


def test_registry_plugin_roundtrip(spark, corpus, sides):
    from literature_to_facts_spark.extractors.registry import (
        battery,
        register_extractor,
        unregister_extractor,
    )

    def x_has_telescope(prep: pd.DataFrame, _sides) -> dict:
        hit = prep["text"].str.contains("telescope", case=False).fillna(False)
        return {
            "mentions_telescope_plugin": pd.Series(
                ["body" if h else None for h in hit], index=prep.index, dtype=object
            )
        }

    register_extractor("gcn", "has_telescope", x_has_telescope)
    try:
        assert any(s.name == "has_telescope" for s in battery("gcn"))
        with pytest.raises(ValueError):
            register_extractor("gcn", "has_telescope", x_has_telescope)

        docs = spark.createDataFrame(corpus.documents)
        triples = api.extract_triples(spark, docs, sides)
        plugin_rows = triples.where("pred = 'mentions_telescope_plugin'").collect()
        assert len(plugin_rows) > 0  # fixtures mention telescopes
        assert all(r["obj"] == "body" for r in plugin_rows)
    finally:
        assert unregister_extractor("gcn", "has_telescope")
    assert not any(s.name == "has_telescope" for s in battery("gcn"))


def test_unregister_gcnsall_pattern():
    from literature_to_facts_spark.extractors.registry import (
        battery,
        register_extractor,
        unregister_extractor,
    )

    # remove + restore an existing battery entry (gcnsall.py:44 style)
    specs = battery("gcn")
    target = next(s for s in specs if s.name == "gcn_ads_data")
    assert unregister_extractor("gcn", "gcn_ads_data")
    assert not any(s.name == "gcn_ads_data" for s in battery("gcn"))
    register_extractor("gcn", target.name, target.fn)
    assert any(s.name == "gcn_ads_data" for s in battery("gcn"))


def test_plugin_kind_problematic_identity(spark, sides):
    """A plugin kind with NO identity extractor emits facts under the
    reference's problematic subject (facts/core.py:54) instead of being
    dropped — Spark path and shim agree on subject and triples."""
    import hashlib

    import pandas as pd

    from literature_to_facts_spark.engine.pipeline import extract_triples
    from literature_to_facts_spark.extractors.registry import (
        register_kind,
        unregister_kind,
        register_extractor,
    )
    from literature_to_facts_spark.shim import reference_shim as shim

    prefix = "https://notes.example.org/n/"

    def x_note_kw(prep: pd.DataFrame, _sides) -> dict:
        hit = prep["text"].str.contains("GRB", regex=False).fillna(False)
        return {
            "mentions_grb_note": pd.Series(
                ["body" if h else None for h in hit], index=prep.index, dtype=object
            )
        }

    def shim_note_kw(doc: str, _side) -> dict:
        return {"mentions_grb_note": "body"} if "GRB" in doc else {}

    register_kind("note", prefix, type_name="NoteText")
    register_extractor("note", "note_kw", x_note_kw)
    shim.register_shim_kind("note", [("note_kw", shim_note_kw)], "NoteText")
    try:
        texts = ["a GRB note", "nothing here", "GRB 221009A again"]
        pdf = pd.DataFrame(
            {
                "url": [f"{prefix}{i}" for i in range(len(texts))],
                "text": texts,
                "html": [b""] * len(texts),
            }
        )
        docs = spark.createDataFrame(pdf)
        rows = (
            extract_triples(spark, docs, sides, dedup=False)
            .where("pred = 'mentions_grb_note'")
            .collect()
        )
        # doc 1 has no mention -> dropped by the valuable filter; 0 and 2 kept
        assert len(rows) == 2
        expected_subjs = {
            "http://odahub.io/ontology/paper#problematicNoteText"
            + hashlib.sha224(repr(t).encode()).hexdigest()[:8]
            for t in (texts[0], texts[2])
        }
        assert {r["subj"] for r in rows} == expected_subjs

        # shim parity: same subject token and same triples per doc
        for t in (texts[0], texts[2]):
            cid, triples = shim.extract_doc_facts("note", t)
            assert "problematicNoteText" in cid
            assert any("mentions_grb_note" in p for _s, p, _o in triples)
            assert shim.problematic_id("NoteText", t).endswith(cid)
    finally:
        unregister_kind("note")
        shim.unregister_shim_kind("note")


def test_spark_submit_plugin_e2e(tmp_path):
    """The full plugin contract through the real spark-submit surface: a
    plugin KIND and a plugin EXTRACTOR registered by a --py-files-shipped
    module (`--plugin example_plugin`, the reference's `l2f -m <module>`
    pattern) in ONE job, with the registry snapshot travelling to executors
    inside the cloudpickled mapInPandas closure."""
    import json
    import os
    import subprocess
    import sys

    import duckdb

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "make_pyfiles.py")],
        check=True, cwd=repo, capture_output=True,
    )

    from literature_to_facts_spark.config import DRIVER_JAVA_OPTIONS
    from literature_to_facts_spark.sources.corpus import GOLDEN_GCNS, build_corpus
    from scripts.example_plugin import MEMO_PREFIX

    corpus = build_corpus(n_docs=40, seed=7)
    pdf = corpus.documents.copy()
    # guarantee one gcn doc that mentions neutrinos (golden IceCube circular)
    golden = pd.DataFrame(
        {
            "url": ["https://gcn.gsfc.nasa.gov/gcn3/31120.gcn3"],
            "warc_ts": pdf["warc_ts"].iloc[:1].to_numpy(),
            "html": [b""],
            "text": [GOLDEN_GCNS[31120]],
            "lang": ["en"],
        }
    )
    pdf = pd.concat([pdf[pdf["url"] != golden["url"].iloc[0]], golden], ignore_index=True)
    memo_texts = ["neutrino candidate in memo", "nothing relevant", "a second NEUTRINO memo"]
    memo = pd.DataFrame(
        {
            "url": [f"{MEMO_PREFIX}{i}" for i in range(len(memo_texts))],
            "warc_ts": pdf["warc_ts"].iloc[: len(memo_texts)].to_numpy(),
            "html": [b""] * len(memo_texts),
            "text": memo_texts,
            "lang": ["en"] * len(memo_texts),
        }
    )
    docs = pd.concat([pdf, memo], ignore_index=True)
    docs["warc_ts"] = docs["warc_ts"].astype("datetime64[us]")
    docs_path = str(tmp_path / "documents.parquet")
    docs.to_parquet(docs_path)
    out_dir = str(tmp_path / "out")

    r = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", f"spark.driver.defaultJavaOptions={DRIVER_JAVA_OPTIONS}",
            "--py-files",
            f"{repo}/dist/l2f_spark.zip,{repo}/scripts/example_plugin.py",
            f"{repo}/scripts/run_pipeline.py",
            "--documents", docs_path, "--output", out_dir,
            "--buckets", "2", "--plugin", "example_plugin",
        ],
        capture_output=True, text=True, cwd=repo, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])

    con = duckdb.connect()
    # the driver ends with compaction: graph/ holds exactly the printed
    # number of triples, all distinct
    n_graph, n_distinct = con.execute(
        "SELECT count(*), count(DISTINCT (subj, pred, obj_n3)) FROM "
        f"read_parquet('{out_dir}/graph/*/*.parquet', hive_partitioning = true)"
    ).fetchone()
    assert n_graph == n_distinct == summary["total_triples"] > 0
    rows = con.execute(
        f"SELECT subj, pred, obj FROM read_parquet('{out_dir}/triples/*/*.parquet') "
        "WHERE pred LIKE '%mentions_neutrino_plugin%'"
    ).fetchall()
    subjs = {s for s, _p, _o in rows}
    # plugin kind: the two neutrino memos emit under problematic MemoText
    # subjects (the middle memo has no valuable fact and is filtered)
    memo_subjs = {s for s in subjs if "problematicMemoText" in s}
    assert len(memo_subjs) == 2
    # plugin extractor on the BUILT-IN gcn battery also fired
    assert any("paper#gcn" in s for s in subjs)
    assert all(o == '"body"' or o == "body" for _s, _p, o in rows)

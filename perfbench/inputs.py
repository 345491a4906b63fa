"""Seeded workload inputs, their content fingerprints and the shim oracle.

Every input is generated from ``(workload, seed)`` by the package's own
corpus generators and written as a multi-file parquet table, so Spark
splits the scan across cores (a single-file, single-row-group table never
splits).  The fingerprint hashes the generated *content* (urls, texts, side
tables), not parquet bytes, so it is stable across library versions.

``pins.json`` holds the fingerprints of seeds 0-99 for every workload.  A
run whose fingerprint differs from its pin refuses to report: an edit to
``sources/corpus.py`` cannot silently change what a workload measures.
Re-pin with ``python3 perfbench/inputs.py --pin`` in a change of its own.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import random
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
PINS = os.path.join(HERE, "pins.json")

# Sizes keep a run under a minute on a 4-core host; see METRICS.md.
DENSE_DOCS = 4000
CRAWL_PAGES = 6000
# Share of crawl literature pages re-crawled under a second url.  An
# assumption, not a measured crawl rate: a small round share that still
# puts cross-bucket duplicates (ROADMAP item 5) in every seed's input at
# 2 buckets.  It gives about 30 tracking-parameter mirrors a seed; each
# lands in the other bucket with probability 1/2.
MIRROR_SHARE = 0.05
INPUT_FILES = 8  # multi-file table: scan tasks split across cores
WORKLOADS = ("dense_oneshot", "crawl_incremental")


class FingerprintMismatch(Exception):
    """Generated input differs from the pinned fingerprint."""


class Inputs:
    """One workload's generated documents, side tables and parquet files."""

    def __init__(self, workload: str, seed: int, docs: pd.DataFrame, corpus):
        self.workload = workload
        self.seed = seed
        self.docs = docs
        self.balrog = corpus.balrog
        self.amon_notices = corpus.amon_notices
        self.ads_authors = corpus.ads_authors
        self.gazetteer = corpus.gazetteer
        self.fingerprint = _fingerprint(docs, corpus)
        self.files: list[str] = []

    def write(self, directory: str) -> None:
        """Write ``docs`` as ``INPUT_FILES`` parquet files, in row order."""
        os.makedirs(directory, exist_ok=True)
        table = pa.Table.from_pandas(self.docs[["url", "text"]], preserve_index=False)
        n = table.num_rows
        self.files = []
        for i in range(INPUT_FILES):
            lo, hi = i * n // INPUT_FILES, (i + 1) * n // INPUT_FILES
            path = os.path.join(directory, f"part-{i:02d}.parquet")
            pq.write_table(table.slice(lo, hi - lo), path)
            self.files.append(path)


def _fingerprint(docs: pd.DataFrame, corpus) -> str:
    h = hashlib.sha256()
    for url, text in zip(docs["url"], docs["text"]):
        h.update(url.encode())
        h.update(b"\0")
        h.update(text.encode("utf-8", "surrogatepass"))
        h.update(b"\1")
    for side in (corpus.balrog, corpus.amon_notices, corpus.ads_authors, corpus.gazetteer):
        h.update(side.to_csv(index=False).encode())
    return h.hexdigest()[:16]


def mirror_url(url: str, i: int) -> str:
    """The url of a mirror fetch, modelled on the variants
    ``datapipe.urls.url_canonical_dedup`` merges: even ``i`` appends a
    tracking parameter (the url keeps its kind prefix), odd ``i`` moves the
    page to the mobile host (the url-prefix scan then drops it as
    non-literature)."""
    if i % 2 == 0:
        return url + ("&" if "?" in url else "?") + "utm_source=mirror"
    scheme, rest = url.split("://", 1)
    return f"{scheme}://m.{rest.removeprefix('www.')}"


def _with_mirrors(docs: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Re-crawl a seeded share of literature pages under a second url.

    The mirror keeps the page text.  A tracking-parameter mirror yields the
    same facts under the same subjects, and its url hashes to its own
    incremental bucket, which is how crawl duplicates reach different
    buckets; a mobile-host mirror is filler to the url-prefix scan."""
    from literature_to_facts_spark.engine.kinds import KIND_OTHER, classify_url

    rng = random.Random(seed * 7919 + 1)
    lit = [i for i, u in enumerate(docs["url"]) if classify_url(u) != KIND_OTHER]
    picked = sorted(rng.sample(lit, int(len(lit) * MIRROR_SHARE)))
    mirrors = docs.iloc[picked].copy()
    mirrors["url"] = [mirror_url(u, i) for i, u in enumerate(mirrors["url"])]
    # interleave mirrors through the table so every input file holds some
    out = pd.concat([docs, mirrors])
    order = list(range(len(out)))
    rng.shuffle(order)
    return out.iloc[order].reset_index(drop=True)


def generate(workload: str, seed: int) -> Inputs:
    """Build the inputs of ``workload`` for ``seed`` (deterministic)."""
    from literature_to_facts_spark.sources.corpus import (
        build_bench_documents,
        build_corpus,
    )

    if workload == "dense_oneshot":
        docs = build_bench_documents(DENSE_DOCS, seed=seed)
        sides = build_corpus(n_docs=0, seed=seed, include_golden=False)
    elif workload == "crawl_incremental":
        sides = build_corpus(n_docs=CRAWL_PAGES, seed=seed)
        docs = _with_mirrors(sides.documents, seed)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return Inputs(workload, seed, docs[["url", "text"]].reset_index(drop=True), sides)


def check_pin(inputs: Inputs) -> None:
    """Raise FingerprintMismatch when the pinned fingerprint differs."""
    with open(PINS) as f:
        pins = json.load(f)
    pinned = pins.get(inputs.workload, {}).get(str(inputs.seed))
    if pinned is not None and pinned != inputs.fingerprint:
        raise FingerprintMismatch(
            f"{inputs.workload} seed {inputs.seed}: input fingerprint "
            f"{inputs.fingerprint} != pinned {pinned}; the generators changed, "
            "so runs are not comparable with runs of the pinned inputs"
        )


# ---------------------------------------------------------------------------
# reference shim oracle
# ---------------------------------------------------------------------------


def shim_triples(inputs: Inputs, cache_dir: str) -> list:
    """Per input row, the (subj, pred, obj_n3) facts ``shim/reference_shim``
    extracts from it; the expected graph of any prefix of the table is the
    union of its rows' sets.

    The shim runs row at a time, so its result is cached per (workload,
    seed, fingerprint) under ``cache_dir``."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(
        cache_dir, f"shim-{inputs.workload}-{inputs.seed}-{inputs.fingerprint}.pkl"
    )
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    out = _run_shim(inputs.docs, inputs)
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        pickle.dump(out, f)
    os.replace(tmp, path)
    return out


def _run_shim(docs: pd.DataFrame, inputs: Inputs) -> list:
    from literature_to_facts_spark.engine.kinds import KIND_OTHER, classify_url
    from literature_to_facts_spark.shim import reference_shim as rs

    side = rs.SideTables(
        balrog={r["url_json"]: r for _, r in inputs.balrog.iterrows()},
        amon_notices={r["url"]: r["notice_text"] for _, r in inputs.amon_notices.iterrows()},
        ads_authors={r["subject"]: r["gcn_authors"] for _, r in inputs.ads_authors.iterrows()},
    )
    out: list = []
    by_text: dict = {}  # mirrors repeat a page's text: same facts
    for url, text in zip(docs["url"], docs["text"]):
        kind = classify_url(url)
        if kind == KIND_OTHER:
            out.append(frozenset())
            continue
        if (kind, text) not in by_text:
            try:
                _, triples = rs.extract_doc_facts(kind, rs.decode_doc(kind, text), side)
            except Exception:  # identity failure: the reference drops the doc
                triples = []
            by_text[(kind, text)] = frozenset(
                (s.strip("<>"), p.strip("<>").split("#")[-1], o) for s, p, o in triples
            )
        out.append(by_text[(kind, text)])
    return out


def expected_graph(per_row: list, n_rows: int) -> set:
    """The shim's graph over the first ``n_rows`` input rows."""
    out: set = set()
    for facts in per_row[:n_rows]:
        out |= facts
    return out


def _pin(seeds) -> None:
    pins = {}
    for w in WORKLOADS:
        pins[w] = {str(s): generate(w, s).fingerprint for s in seeds}
        print(w, "pinned", len(seeds), file=sys.stderr)
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    if sys.argv[1:] != ["--pin"]:
        sys.exit("usage: python3 perfbench/inputs.py --pin")
    _pin(range(100))

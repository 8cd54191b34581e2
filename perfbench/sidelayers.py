"""Layers that no kept workload's timed loop calls, measured once in a
traced run so that every named layer has per-layer figures:

- ``QuerySuite`` (in the ``batch_dedup`` traced run): the frozen
  ``bench.BENCH_QUERIES`` list, imported, over a seeded star-schema dataset
  generated in the shape of the test tables, each query's row count gated
  against its DuckDB ``oracle_sql()`` twin where that twin is not one of
  the recursive-CTE clusterings (``SLOW_ORACLES``, 20-46 s each).
- ``IncrementalFold`` (in the ``stream_ingest`` traced run): one
  ``DedupIndex.add_increment`` of 20 docs (2% of a 1000-doc planted
  corpus) into an 800-doc index built from the same corpus, gated against
  an untimed batch exact ∪ minhash ∪ simhash -> CC run over the same docs.

Each provides ``run(spark, tracer) -> (ops, why)``: ``ops`` is how many
gated operations ran, ``why`` the list of failed gates. The per-layer
metrics are read from the tracer afterwards (``workloads.layer_metrics``).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

from corpus import Truth, write_table

# BENCH_QUERIES name -> query family (the q.<family>.s per-layer metrics)
QUERY_FAMILY = {
    "minhash_clusters_fast": "minhash", "minhash_clusters": "minhash",
    "simhash_candidates": "simhash", "simhash_candidates_fast": "simhash",
    "suffix_span_edges": "suffix", "suffix_span_edges_fast": "suffix",
    "exact_dup_groups": "exact",
    "ngram_jaccard_pairs": "ngram",
    "retrieval_metrics": "metrics",
    "embedding_knn": "ann", "ann_lsh_topk": "ann", "embedding_dup_pairs": "ann",
    "ann_lsh_topk_allcorpus": "ann",
    "ann_ivf_topk": "ivf",
    "media_dedup": "multimodal",
    "token_stats_by_lang": "text", "top_docs_per_lang": "text", "lang_guess_counts": "text",
    "quality_scores": "text", "pii_scrub": "text", "gopher_quality": "text",
    "clean_text_docs": "text",
    "decontamination": "decontaminate",
    "dedup_corpus": "report", "dedup_report": "report", "source_dup_stats": "report",
    "corpus_split": "report", "dedup_keep2": "report",
    "docs_by_source_list": "sql", "events_rolling": "sql", "events_rollup": "sql",
    "pricing_summary": "sql", "events_hourly": "sql", "active_customers_by_nation": "sql",
}
QUERY_FAMILIES = sorted(set(QUERY_FAMILY.values()))
# oracles that recompute the clustering as a DuckDB recursive CTE: 20-46 s
# each at 500 docs on 4 cores, more than a run can spend on its gate
SLOW_ORACLES = {"minhash_clusters", "dedup_corpus", "dedup_report", "source_dup_stats",
                "dedup_keep2"}


def _files(root: str) -> dict:
    """path -> (size, mtime_ns) of every file below ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns)
    return out


class IncrementalFold:
    """Base index: the corpus's docs with ``doc_id % 5 != 0`` (800);
    the fold: ``doc_id % 50 == 0`` (20 docs). Planted clusters cross the
    split, so the fold links new docs into carried clusters."""

    base_mod, fold_mod = 5, 50

    def __init__(self, corpus: str, work: str):
        from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig

        self.cfg = DedupConfig()
        self.corpus = corpus
        self.truth = Truth(corpus)
        self.root = os.path.join(work, "dedup-index")

    def run(self, spark, tr):
        from pyspark.sql import functions as F

        from cs588_data_science_bug_duplicate_detector_spark.operators.cc import (
            connected_components,
        )
        from cs588_data_science_bug_duplicate_detector_spark.operators.exact import exact_dup_edges
        from cs588_data_science_bug_duplicate_detector_spark.operators.incremental import (
            DedupIndex,
            incremental_exact_edges,
            incremental_minhash_edges,
            incremental_simhash_edges,
        )
        from cs588_data_science_bug_duplicate_detector_spark.operators.minhash import (
            minhash_edges,
            release_cached_deps,
        )
        from cs588_data_science_bug_duplicate_detector_spark.operators.simhash import simhash_edges

        sc, cfg = spark.sparkContext, self.cfg
        shutil.rmtree(self.root, ignore_errors=True)
        docs = spark.read.parquet(os.path.join(self.corpus, "pages")).select("doc_id", "text")
        base = docs.where(F.col("doc_id") % self.base_mod != 0)
        inc = docs.where(F.col("doc_id") % self.fold_mod == 0)
        idx = DedupIndex(self.root, cfg)
        with tr.span("incremental.base", sc):
            idx.add_increment(base, "doc_id", "text")

        before = _files(self.root)
        with tr.span("incremental.fold", sc) as s:
            labels = idx.add_increment(inc, "doc_id", "text")
        after = _files(self.root)
        written = sum(size for p, (size, mt) in after.items() if before.get(p) != (size, mt))
        inc_sig = sum(size for p, (size, _mt) in after.items()
                      if os.sep + "inc=1" + os.sep in p)
        s["index_mb"] = sum(size for size, _mt in after.values()) / (1024.0 * 1024.0)
        s["write_amp"] = written / inc_sig if inc_sig else 0.0

        with tr.span("incremental.edges", sc) as s2:
            every, old = idx.signatures(spark), idx.signatures(spark, upto=1)
            new = every.join(old.select("id"), "id", "left_anti")
            mh, _hot = incremental_minhash_edges(new.select("id", "minhash"),
                                                 old.select("id", "minhash"), cfg)
            sh = incremental_simhash_edges(new.select("id", "simhash"),
                                           old.select("id", "simhash"), cfg)
            ex = incremental_exact_edges(new.select("id", "text_md5"), old.select("id", "text_md5"))
            s2["edges_new"] = mh.unionByName(sh).unionByName(ex).distinct().count()
            release_cached_deps(mh)
            release_cached_deps(sh)
        s["edges_new"] = s2["edges_new"]

        # the gate's reference: batch exact ∪ minhash ∪ simhash -> CC over the same docs
        with tr.span("incremental.reference", sc):
            folded = base.unionByName(inc)
            bm, _hot = minhash_edges(folded, "doc_id", "text", cfg)
            bs = simhash_edges(folded, "doc_id", "text", cfg)
            edges = bm.unionByName(bs).unionByName(exact_dup_edges(folded, "doc_id", "text"))
            ref = connected_components(edges.distinct(), vertices=folded.select("doc_id"),
                                       pre_deduped=True)
            n_ref = ref.select("cluster_id").distinct().count()
            release_cached_deps(bm)
            release_cached_deps(bs)

        rows = labels.select("id", "cluster_id").collect()
        label_of = {self.truth.url_of_id[r["id"]]: r["cluster_id"] for r in rows}
        urls = {u for i, u in self.truth.url_of_id.items()
                if i % self.base_mod != 0 or i % self.fold_mod == 0}
        score = self.truth.score(label_of, False, urls=urls)
        s["pair_recall"] = score["pair_recall"]
        why = []
        if len(rows) != len(urls) or set(label_of) != urls \
                or any(v is None for v in label_of.values()):
            why.append(f"fold labelled {len(rows)} rows for {len(urls)} docs")
        if len(set(label_of.values())) != n_ref:
            why.append(f"fold has {len(set(label_of.values()))} clusters, batch reference {n_ref}")
        if score["pair_recall"] < 0.99:
            why.append(f"fold pair_recall {score['pair_recall']:.4f} < 0.99")
        shutil.rmtree(self.root, ignore_errors=True)
        return 1, why


def cached_tables(cache_root: str, seed: int, n_docs: int) -> str:
    """A seeded dataset with the test tables' names and schemas: the
    documents come from ``datagen.generate_pages_pdf``, the rest from a
    numpy generator. One parquet file per table."""
    from cs588_data_science_bug_duplicate_detector_spark.datagen import generate_pages_pdf

    out = os.path.join(cache_root, f"v1-tables-seed{seed}-n{n_docs}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    pages, _truth, _spans = generate_pages_pdf(n_docs, seed=seed)
    documents = pd.DataFrame({
        "doc_id": np.arange(len(pages), dtype="int64"),
        "text": pages["text"].to_numpy(),
        "lang": pages["lang"].to_numpy(),
        "source": pages["url"].str.extract(r"//([^.]+)\.", expand=False).to_numpy(),
        "n_chars": pages["text"].str.len().astype("int64").to_numpy(),
    })
    # embeddings: 10 labelled centres, every 10th vector a near copy of its predecessor
    n_vec, dim, n_lab = n_docs, 64, 10
    centres = rng.normal(size=(n_lab, dim))
    label = rng.integers(0, n_lab, n_vec)
    vec = centres[label] + rng.normal(scale=0.8, size=(n_vec, dim))
    vec[10::10] = vec[9::10][: len(vec[10::10])] + rng.normal(scale=0.01, size=(len(vec[10::10]), dim))
    label[10::10] = label[9::10][: len(label[10::10])]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    embeddings = pd.DataFrame({"vec_id": np.arange(n_vec, dtype="int64"),
                               "embedding": list(vec.astype("float32")),
                               "label": label.astype("int32")})
    n_ev = 2 * n_docs
    t0 = pd.Timestamp("2024-01-01")
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": t0 + pd.to_timedelta(np.sort(rng.uniform(0, 30 * 86400, n_ev)), unit="s"),
        "user_id": rng.integers(0, 15, n_ev).astype("int64"),
        "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], n_ev),
        "value": np.round(rng.uniform(0, 200, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    n_nat, n_cust, n_ord, n_li = 25, 150, 1500, 6000
    nation = pd.DataFrame({"n_nationkey": np.arange(n_nat, dtype="int32"),
                           "n_name": [f"NATION_{i}" for i in range(n_nat)],
                           "n_regionkey": (np.arange(n_nat) % 5).astype("int32")})
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, n_nat, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["FURNITURE", "BUILDING", "MACHINERY", "AUTOMOBILE"], n_cust),
    })
    days = pd.to_timedelta(rng.integers(0, 7 * 365, n_ord), unit="D")
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        # a third of the customers never order, so the semi-join filters
        "o_custkey": rng.integers(0, 2 * n_cust // 3, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(100, 5e5, n_ord), 2),
        "o_orderdate": pd.Timestamp("1995-01-01") + days,
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED"], n_ord),
    })
    days = pd.to_timedelta(rng.integers(0, 7 * 365, n_li), unit="D")
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
        "l_partkey": rng.integers(0, 200, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, 10, n_li).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 1e5, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["N", "A", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": pd.Timestamp("1995-01-02") + days,
    })
    for name, df in (("documents", documents), ("embeddings", embeddings), ("events", events),
                     ("nation", nation), ("customer", customer), ("orders", orders),
                     ("lineitem", lineitem)):
        write_table(df, os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, "_DONE"), "w") as f:
        json.dump({"seed": seed, "n_docs": n_docs}, f)
    return out


class QuerySuite:
    """``bench.BENCH_QUERIES`` with bench.py's contract: one untimed
    flagship query, ``clear_label_cache``, then every query in list order,
    each materialized with ``count()`` inside its own span."""

    n_docs = 500

    def __init__(self, cache: str, seed: int):
        self.tables = cached_tables(cache, seed, self.n_docs)

    def run(self, spark, tr):
        import duckdb

        import __spark_entry__ as entrymod
        from bench import BENCH_QUERIES

        qs, oracles = entrymod.queries(), entrymod.oracle_sql()
        d = self.tables
        qs["minhash_clusters_fast"](spark, d).count()
        entrymod.clear_label_cache()
        counts = {}
        for name in BENCH_QUERIES:
            with tr.span("q." + QUERY_FAMILY[name], query=name) as s:
                counts[name] = s["rows"] = qs[name](spark, d).count()
        entrymod.clear_label_cache()

        con = duckdb.connect()
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(d, f)}'")
        why = []
        for name in BENCH_QUERIES:
            if name not in oracles or name in SLOW_ORACLES:
                continue
            n = con.execute(f"SELECT count(*) FROM ({oracles[name]})").fetchone()[0]
            if n != counts[name]:
                why.append(f"query {name}: {counts[name]} rows, oracle {n}")
        con.close()
        return len(BENCH_QUERIES), why

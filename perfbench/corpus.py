"""Seeded benchmark inputs and the planted-truth scorer.

Inputs come from the package's own generator (``datagen.generate_pages_pdf``)
and are written driver-side with pyarrow — no Spark — into a cache keyed by
(workload, seed, size). Generation is therefore paid once per key and never
counted in ``setup_s``. The truth and span tables are written next to the
pages; the engine under test only ever reads the pages.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import defaultdict

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_VERSION = 1


def write_table(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path,
                   coerce_timestamps="us", allow_truncated_timestamps=True)


def cached_corpus(cache_root: str, workload: str, seed: int, n_docs: int,
                  n_files: int = 1) -> str:
    """Directory holding ``pages/`` (``n_files`` parquet files; with more
    than one, doc i goes to file ``i % n_files`` so every planted cluster
    spans several files), ``truth.parquet`` and ``spans.parquet``."""
    from cs588_data_science_bug_duplicate_detector_spark.datagen import generate_pages_pdf

    key = f"v{CACHE_VERSION}-{workload}-seed{seed}-n{n_docs}-f{n_files}"
    out = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "pages"))
    pages, truth, spans = generate_pages_pdf(n_docs, seed=seed)
    # a small long id per page: the streaming source carries (doc_id, text)
    pages.insert(0, "doc_id", range(len(pages)))
    for i in range(n_files):
        write_table(pages.iloc[i::n_files], os.path.join(out, "pages", f"part-{i:03d}.parquet"))
        # distinct, increasing mtimes: the file stream source orders by them
        t = 1_700_000_000 + i
        os.utime(os.path.join(out, "pages", f"part-{i:03d}.parquet"), (t, t))
    write_table(truth, os.path.join(out, "truth.parquet"))
    write_table(spans, os.path.join(out, "spans.parquet"))
    with open(os.path.join(out, "_DONE"), "w") as f:
        json.dump({"n_docs": n_docs, "seed": seed, "n_files": n_files}, f)
    return out


class Truth:
    """Planted truth of one corpus, keyed by url."""

    def __init__(self, corpus_dir: str):
        truth = pq.read_table(os.path.join(corpus_dir, "truth.parquet")).to_pandas()
        spans = pq.read_table(os.path.join(corpus_dir, "spans.parquet")).to_pandas()
        pages = pq.read_table(os.path.join(corpus_dir, "pages"), columns=["doc_id", "url"]).to_pandas()
        self.urls = set(pages["url"])
        self.url_of_id = dict(zip(pages["doc_id"].astype("int64"), pages["url"]))
        groups: dict[int, list[str]] = defaultdict(list)
        for url, cid in zip(truth["url"], truth["true_cluster_id"]):
            groups[int(cid)].append(url)
        self.pairs = {
            _pair(a, b)
            for members in groups.values()
            for i, a in enumerate(members)
            for b in members[i + 1:]
        }
        self.span_pairs = {_pair(a, b) for a, b in zip(spans["url_a"], spans["url_b"])}

    def score(self, label_of: dict, spans_allowed: bool, urls: set | None = None) -> dict:
        """``label_of``: url -> predicted cluster id for every doc (of
        ``urls`` when given: the truth is then restricted to those docs).

        pair_recall: truth pairs placed in one predicted cluster.
        false_merge_pairs: predicted same-cluster pairs outside the truth
        pairs (and, when ``spans_allowed``, outside the planted long-span
        pairs the suffix detector is meant to link).
        pair_precision: 1 - false_merge_pairs / predicted pairs."""
        sizes: dict = defaultdict(int)
        for c in label_of.values():
            sizes[c] += 1
        predicted = sum(n * (n - 1) // 2 for n in sizes.values())
        pairs = self.pairs if urls is None else {
            (a, b) for a, b in self.pairs if a in urls and b in urls}
        hit = sum(1 for a, b in pairs if label_of.get(a) is not None
                  and label_of.get(a) == label_of.get(b))
        span_hit = 0
        if spans_allowed:
            span_hit = sum(1 for a, b in self.span_pairs - pairs
                           if label_of.get(a) is not None and label_of.get(a) == label_of.get(b))
        false_merges = predicted - hit - span_hit
        return {
            "true_pairs": len(pairs),
            "pair_recall": hit / len(pairs) if pairs else 1.0,
            "false_merge_pairs": false_merges,
            "pair_precision": 1.0 - false_merges / predicted if predicted else 1.0,
        }


def _pair(a: str, b: str) -> tuple[str, str]:
    return (a, b) if a < b else (b, a)

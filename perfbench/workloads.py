"""The perfbench workloads. Each is one closed loop with a single client
(this driver process): a pass starts only after the previous one returned.

A workload provides
- ``prepare(spark)``: per-session input registration (part of ``setup_s``);
- ``warmup(spark)``: one untimed pass over a small corpus of its own;
- ``run_pass(spark, k)``: one untraced pass -> ``Pass``;
- ``traced_pass(spark, k, tracer)``: the same work with a span around every
  public call into a layer -> ``Pass`` (the per-layer metrics are read from
  the tracer afterwards by ``layer_metrics``);
- ``check(spark, p)``: the correctness gate of one pass -> (ok, score, why);
- ``side_layers(cache)``: the layers its traced run measures beside the
  pass (see sidelayers.py).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from corpus import Truth, cached_corpus
from harness import MB, median
from sidelayers import QUERY_FAMILIES, IncrementalFold, QuerySuite

PAGES_COLS = ["url", "warc_ts", "html", "text", "lang"]
STREAM_SCHEMA = "doc_id long, text string"
AWAIT_S = 60  # a streaming query still running after this failed (normal: < 20 s)
WARM_SEED = 0  # warm-up corpora are the same for every run, so they are generated once


@dataclass
class Pass:
    wall_s: float
    op_s: list            # latency of every op in the pass
    out: dict = field(default_factory=dict)   # what check() needs


def _du_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / MB


class BatchDedup:
    """``plans.pipeline.run_pipeline`` with all four detectors over a seeded
    planted corpus (with one boilerplate farm of n/25 members, so the
    hot-bucket cap path runs). One op is one pipeline run."""

    name = "batch_dedup"
    n_docs = 1000
    warm_docs = 1000
    spans_allowed = True   # the suffix detector links planted long-span pairs

    def __init__(self, cache: str, work: str, seed: int):
        from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig

        # the corpus is small enough for a pass to fit the run budget, so the
        # hot-bucket caps are scaled down with it: the farm (n/25 = 40 docs)
        # must exceed them for the cap path (star edges) to run
        self.cfg = DedupConfig(bucket_cap=32, simhash_chunk_cap=32)
        self.work = work
        self.seed = seed
        self.corpus = cached_corpus(cache, self.name, seed, self.n_docs)
        self.warm_corpus = cached_corpus(cache, self.name + "-warm", WARM_SEED, self.warm_docs)
        self.truth = Truth(self.corpus)

    def _pages(self, spark, corpus: str):
        return spark.read.parquet(os.path.join(corpus, "pages")).select(*PAGES_COLS)

    def prepare(self, spark) -> None:
        self.pages = self._pages(spark, self.corpus)
        n = self.pages.count()
        if n != self.n_docs:
            raise RuntimeError(f"input holds {n} pages, expected {self.n_docs}")

    def warmup(self, spark) -> None:
        from cs588_data_science_bug_duplicate_detector_spark.plans.pipeline import run_pipeline

        wd = os.path.join(self.work, "warmup")
        run_pipeline(spark, self._pages(spark, self.warm_corpus), wd, self.cfg, resume=False)
        shutil.rmtree(wd, ignore_errors=True)

    def run_pass(self, spark, k: int) -> Pass:
        from cs588_data_science_bug_duplicate_detector_spark.plans.pipeline import run_pipeline

        wd = os.path.join(self.work, f"pass{k}")
        t0 = time.perf_counter()
        run = run_pipeline(spark, self.pages, wd, self.cfg, resume=False)
        wall = time.perf_counter() - t0
        return Pass(wall, [wall], {"labels": run.labels, "workdir": wd,
                                   "stages": run.stats["stages"]})

    def traced_pass(self, spark, k: int, tr) -> Pass:
        """``run_pipeline``'s stage order replayed through the same public
        functions, each materialized inside its own span so the stage
        counters are attributable. The minhash detector is replayed at the
        granularity of its public building blocks (band, cap, pair,
        verify), composed as ``minhash_edges_from_sigs`` composes them."""
        from pyspark.sql import functions as F

        from cs588_data_science_bug_duplicate_detector_spark.functions.extract import (
            with_extracted_text,
        )
        from cs588_data_science_bug_duplicate_detector_spark.operators.cc import (
            connected_components,
        )
        from cs588_data_science_bug_duplicate_detector_spark.operators.exact import exact_dup_edges
        from cs588_data_science_bug_duplicate_detector_spark.operators.minhash import (
            band_table,
            candidate_pairs,
            capped_band_table,
            release_cached_deps,
            verify_pairs,
            with_dual_signatures,
        )
        from cs588_data_science_bug_duplicate_detector_spark.operators.simhash import (
            simhash_edges_from_sigs,
        )
        from cs588_data_science_bug_duplicate_detector_spark.operators.suffix import (
            suffix_edges,
            window_table,
        )
        from cs588_data_science_bug_duplicate_detector_spark.sources.tableio import TableIO

        cfg, sc = self.cfg, spark.sparkContext
        wd = os.path.join(self.work, f"traced{k}")
        io = TableIO(wd)
        held = []

        def keep(df):
            held.append(df.persist())
            return df

        def write(df, name):
            with tr.span("tableio.write", sc, table=name) as s:
                io.write(df, name)
            s["mb"] = _du_mb(io._path(name))
            return io.read(spark, name)

        def fingerprint(df, key):
            """The count + content checksum run_pipeline takes of each
            stage's input to key its checkpoints."""
            with tr.span("pipeline.fingerprint", sc, key=key):
                df.agg(F.count("*"), F.coalesce(F.expr(f"bit_xor(xxhash64({key}))"),
                                                F.lit(0))).collect()

        t0 = time.perf_counter()
        start = tr.now()
        fingerprint(self.pages, "url, text")
        with tr.span("extract", sc) as s:
            docs = keep(with_extracted_text(self.pages, "html", "text").select(
                "url", F.xxhash64("url").alias("doc_id"), "text", "lang"))
            s["rows"] = docs.count()
        documents = write(docs, "documents")
        with tr.span("pipeline.fingerprint", sc, key="id collisions"):
            documents.agg(F.countDistinct("url"), F.countDistinct("doc_id")).collect()
        fingerprint(documents, "doc_id, text")
        with tr.span("sign", sc) as s:
            sigs = keep(with_dual_signatures(documents.select("doc_id", "text"), "text", cfg)
                        .drop("text"))
            s["rows"] = sigs.count()
        signatures = write(sigs, "signatures")

        size, cap = F.col("bucket_size"), cfg.bucket_cap
        msigs = keep(signatures.select("doc_id", "minhash"))
        with tr.span("minhash.band", sc) as s:
            bands = keep(band_table(msigs, "doc_id", cfg))
            s["rows"] = bands.count()
        with tr.span("minhash.cap", sc) as s:
            bw = keep(capped_band_table(bands, cfg).where(size >= 2))
            s["rows"] = bw.count()
            s["hot_buckets"] = bw.where(size > cap).select("band_key").distinct().count()
        with tr.span("minhash.pair", sc) as s:
            pairs = keep(candidate_pairs(bw.where(size <= cap).select("band_key", "id"), cfg))
            star = keep(bw.where((size > cap) & (F.col("id") != F.col("root")))
                        .select(F.col("root").alias("src"), F.col("id").alias("dst")).distinct())
            s["candidates"] = pairs.count() + star.count()
        detector_spans = []
        with tr.span("minhash.verify", sc) as s:
            detector_spans.append(s["id"])
            auto = pairs.where(F.col("n_bands") >= cfg.auto_accept_bands).select("src", "dst")
            ambiguous = pairs.where(F.col("n_bands") < cfg.auto_accept_bands).select("src", "dst")
            verified = verify_pairs(ambiguous.unionByName(star), msigs, "doc_id", cfg)
            mh = keep(auto.unionByName(verified.select("src", "dst")).distinct())
            s["edges"] = mh.count()
        with tr.span("simhash", sc) as s:
            detector_spans.append(s["id"])
            sh = simhash_edges_from_sigs(signatures.select("doc_id", "simhash"), "doc_id", cfg)
            keep(sh)
            s["edges"] = sh.count()
            release_cached_deps(sh)
        with tr.span("suffix.windows", sc) as s:
            s["windows"] = keep(window_table(documents, "doc_id", "text", cfg)).count()
        with tr.span("suffix", sc) as s:
            detector_spans.append(s["id"])
            sx = keep(suffix_edges(documents, "doc_id", "text", cfg))
            s["edges"] = sx.count()
        with tr.span("exact", sc) as s:
            detector_spans.append(s["id"])
            ex = keep(exact_dup_edges(documents, "doc_id", "text"))
            s["edges"] = ex.count()

        parts = [ex.withColumn("detector", F.lit("exact")),
                 mh.withColumn("detector", F.lit("minhash")),
                 sh.withColumn("detector", F.lit("simhash")),
                 sx.withColumn("detector", F.lit("suffix"))]
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        edges = write(union, "candidate_edges")
        fingerprint(edges, "src, dst")
        n_edges = sum(tr.spans[i]["edges"] for i in detector_spans)

        rounds = []
        with tr.span("cc", sc) as s:
            cc = connected_components(
                edges.select("src", "dst"),
                vertices=documents.select("doc_id"),
                reliable=True,
                checkpoint_dir=os.path.join(wd, "_cc_checkpoints"),
                on_iteration=lambda it, n: rounds.append(n),
            )
            labels = keep(documents.select("url", "doc_id").join(
                cc.withColumnRenamed("id", "doc_id"), "doc_id"))
            labels.count()
            s["rounds"] = len(rounds)
            s["edges_in"] = n_edges
        labels = write(labels, "component_labels")
        wall = time.perf_counter() - t0
        end = tr.now()
        for df in held:
            df.unpersist()
        return Pass(wall, [wall], {"labels": labels, "workdir": wd, "span_window": (start, end)})

    def check(self, spark, p: Pass):
        rows = p.out["labels"].select("url", "cluster_id").collect()
        label_of = {r["url"]: r["cluster_id"] for r in rows}
        score = self.truth.score(label_of, self.spans_allowed)
        why = []
        if len(rows) != len(label_of) or set(label_of) != self.truth.urls \
                or any(v is None for v in label_of.values()):
            why.append("not every doc has exactly one label")
        if score["pair_recall"] < 0.99:
            why.append(f"pair_recall {score['pair_recall']:.4f} < 0.99")
        return not why, score, "; ".join(why)

    def side_layers(self, cache: str):
        return QuerySuite(cache, self.seed)

    def pipeline_edges(self, spark, p: Pass) -> dict:
        """Edges per detector in an untraced pass's own checkpoint, to
        cross-check the traced replay."""
        from pyspark.sql import functions as F

        edges = spark.read.parquet(os.path.join(p.out["workdir"], "candidate_edges"))
        return {r["detector"]: r["n"] for r in
                edges.groupBy("detector").agg(F.count("*").alias("n")).collect()}


class StreamIngest:
    """An availableNow replay, one file per trigger, over ``n_files`` fixed
    files of planted docs: ``signature_log_sink`` first, then
    ``streaming_candidate_edges(state_ttl_ms=None)`` into the path-based
    ``verified_edges_sink`` (the composition ``q_streaming_batch_equiv``
    drives). One op is one file's ingest: its signature-log micro-batch
    plus its candidate-edge micro-batch."""

    name = "stream_ingest"
    n_files = 2
    docs_per_file = 50
    warm_docs = 20
    spans_allowed = False

    def __init__(self, cache: str, work: str, seed: int):
        from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig

        self.cfg = DedupConfig()
        self.work = work
        self.seed = seed
        self.n_docs = self.n_files * self.docs_per_file
        self.corpus = cached_corpus(cache, self.name, seed, self.n_docs, self.n_files)
        self.warm_corpus = cached_corpus(cache, self.name + "-warm", WARM_SEED, self.warm_docs, 1)
        self.truth = Truth(self.corpus)

    def prepare(self, spark) -> None:
        n = spark.read.schema(STREAM_SCHEMA).parquet(os.path.join(self.corpus, "pages")).count()
        if n != self.n_docs:
            raise RuntimeError(f"stream source holds {n} docs, expected {self.n_docs}")

    def warmup(self, spark) -> None:
        self._replay(spark, self.warm_corpus, os.path.join(self.work, "warmup"), 1, None)

    def _replay(self, spark, corpus: str, d: str, n_files: int, tr):
        from cs588_data_science_bug_duplicate_detector_spark.streaming.stateful import (
            signature_log_sink,
            streaming_candidate_edges,
            verified_edges_sink,
        )

        shutil.rmtree(d, ignore_errors=True)
        src = os.path.join(corpus, "pages")
        sink_calls: list = []

        def timed(name, fn):
            if tr is None:
                return fn

            def call(batch_df, batch_id):
                t = tr.now()
                try:
                    fn(batch_df, batch_id)
                finally:
                    sink_calls.append((name, t, tr.now(), batch_id))
            return call

        def source():
            return (spark.readStream.schema(STREAM_SCHEMA)
                    .option("maxFilesPerTrigger", 1).parquet(src))

        def run(name, df_writer, ckpt):
            q = df_writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
            try:
                if not q.awaitTermination(AWAIT_S):
                    raise RuntimeError(f"{name} stream did not finish in {AWAIT_S}s")
            finally:
                q.stop()
            if q.exception() is not None:
                raise RuntimeError(f"{name} stream failed: {q.exception()}")
            return {p["batchId"]: p for p in q.recentProgress}

        sig_dir, edge_dir = os.path.join(d, "sigs"), os.path.join(d, "edges")
        t0 = time.perf_counter()
        spans = {}
        for name, make in (
            ("stream.sig_log", lambda: source().writeStream.foreachBatch(
                timed("sig_log.sink", signature_log_sink("doc_id", "text", self.cfg, sig_dir)))),
            ("stream.edges", lambda: streaming_candidate_edges(
                source(), self.cfg, state_ttl_ms=None).writeStream.foreachBatch(
                timed("verify.sink", verified_edges_sink(sig_dir, "doc_id", self.cfg, edge_dir)))),
        ):
            if tr is None:
                spans[name] = (None, run(name, make(), os.path.join(d, "ckpt-" + name)))
            else:
                with tr.span(name) as s:
                    spans[name] = (s["id"], run(name, make(), os.path.join(d, "ckpt-" + name)))
        wall = time.perf_counter() - t0

        sig_prog, edge_prog = spans["stream.sig_log"][1], spans["stream.edges"][1]
        if sorted(sig_prog) != list(range(n_files)) or sorted(edge_prog) != list(range(n_files)):
            raise RuntimeError(f"expected {n_files} micro-batches per stream, got "
                               f"{sorted(sig_prog)} / {sorted(edge_prog)}")
        ops = [(sig_prog[b]["durationMs"]["triggerExecution"]
                + edge_prog[b]["durationMs"]["triggerExecution"]) / 1000.0
               for b in range(n_files)]
        if tr is not None:
            for name, s, e, b in sink_calls:
                parent = spans["stream.sig_log" if name == "sig_log.sink" else "stream.edges"][0]
                tr.add(name, s, e, parent, batch_id=b)
        return wall, ops, {"edge_dir": edge_dir, "progress": edge_prog, "workdir": d}

    def run_pass(self, spark, k: int) -> Pass:
        wall, ops, out = self._replay(spark, self.corpus, os.path.join(self.work, f"pass{k}"),
                                      self.n_files, None)
        return Pass(wall, ops, out)

    def traced_pass(self, spark, k: int, tr) -> Pass:
        start = tr.now()
        wall, ops, out = self._replay(spark, self.corpus, os.path.join(self.work, f"traced{k}"),
                                      self.n_files, tr)
        out["span_window"] = (start, tr.now())
        return Pass(wall, ops, out)

    def check(self, spark, p: Pass):
        from pyspark.sql import functions as F

        from cs588_data_science_bug_duplicate_detector_spark.operators.cc import union_find_oracle

        log = spark.read.parquet(p.out["edge_dir"])
        rows = log.select("src", "dst", F.col("est_jaccard").isNull().alias("unverified")).collect()
        unverified = sum(1 for r in rows if r["unverified"])
        ids = list(self.truth.url_of_id)
        root = union_find_oracle([(r["src"], r["dst"]) for r in rows], ids)
        label_of = {self.truth.url_of_id[i]: root[i] for i in ids}
        score = self.truth.score(label_of, self.spans_allowed)
        score["edges_out"] = len(rows)
        why = []
        if not rows:
            why.append("edge log is empty")
        if unverified:
            why.append(f"{unverified} edges left unverifiable with the signature log complete")
        return not why, score, "; ".join(why)


    def side_layers(self, cache: str):
        return IncrementalFold(cached_corpus(cache, "incremental", self.seed, 1000), self.work)


WORKLOADS = {w.name: w for w in (BatchDedup, StreamIngest)}


def layer_metrics(tr, passes: list, scores: list) -> dict:
    """Per-layer metrics from a traced pass. A layer the workload never
    called reports 0."""
    def tot(name, key=None):
        return tr.total(name, key)

    def attr(name, key):
        return sum(s.get(key, 0) for s in tr.spans if s["name"] == name)

    def prog_median(key):
        vals = [p["durationMs"].get(key, 0) / 1000.0 for pr in progress for p in pr.values()]
        return median(vals)

    def state(key):
        return [p["stateOperators"][0][key] for pr in progress for p in pr.values()
                if p["stateOperators"]]

    progress = [p.out["progress"] for p in passes if "progress" in p.out]
    mh_spans = ("minhash.band", "minhash.cap", "minhash.pair", "minhash.verify")
    candidates = attr("minhash.pair", "candidates")
    sink = lambda n: median(s["end"] - s["start"] for s in tr.spans if s["name"] == n)
    m = {
        "extract.s": tot("extract"),
        "extract.rows": attr("extract", "rows"),
        "sign.s": tot("sign"),
        "sign.exec_s": tot("sign", "exec_s"),
        "sign.busy": tot("sign", "exec_s") / (tot("sign") * tr.cores) if tot("sign") else 0.0,
        "minhash.band.s": tot("minhash.band"),
        "minhash.cap.s": tot("minhash.cap"),
        "minhash.pair.s": tot("minhash.pair"),
        "minhash.verify.s": tot("minhash.verify"),
        "minhash.candidates": candidates,
        "minhash.edges": attr("minhash.verify", "edges"),
        "minhash.verify_yield": attr("minhash.verify", "edges") / candidates if candidates else 0.0,
        "minhash.hot_buckets": attr("minhash.cap", "hot_buckets"),
        "minhash.shuffle_mb": sum(tot(n, "shuffle_mb") for n in mh_spans),
        "simhash.s": tot("simhash"),
        "simhash.edges": attr("simhash", "edges"),
        "simhash.shuffle_mb": tot("simhash", "shuffle_mb"),
        "suffix.windows.s": tot("suffix.windows"),
        "suffix.s": tot("suffix"),
        "suffix.windows": attr("suffix.windows", "windows"),
        "suffix.edges": attr("suffix", "edges"),
        "suffix.shuffle_mb": tot("suffix", "shuffle_mb"),
        "suffix.spill_mb": tot("suffix", "spill_mb") + tot("suffix.windows", "spill_mb"),
        "exact.s": tot("exact"),
        "exact.edges": attr("exact", "edges"),
        "cc.s": tot("cc"),
        "cc.rounds": attr("cc", "rounds"),
        "cc.edges_in": attr("cc", "edges_in"),
        "tableio.write_s": tot("tableio.write"),
        "tableio.write_mb": attr("tableio.write", "mb"),
        "stateful.batch_s": prog_median("triggerExecution"),
        "stateful.add_batch_s": prog_median("addBatch"),
        "stateful.plan_s": prog_median("queryPlanning"),
        "stateful.wal_s": prog_median("walCommit"),
        "stateful.state_rows": state("numRowsTotal")[-1] if state("numRowsTotal") else 0,
        "stateful.state_mb": state("memoryUsedBytes")[-1] / MB if state("memoryUsedBytes") else 0.0,
        "stateful.commit_ms": median(state("commitTimeMs")),
        "stateful.groups": sum(state("numRowsUpdated")),
        "stateful.edges_out": sum(s.get("edges_out", 0) for s in scores),
        "sig_log.sink_s": sink("sig_log.sink"),
        "verify.sink_s": sink("verify.sink"),
        "pipeline.fingerprint.s": tot("pipeline.fingerprint"),
        "incremental.fold.s": tot("incremental.fold"),
        "incremental.index_mb": attr("incremental.fold", "index_mb"),
        "incremental.write_amp": attr("incremental.fold", "write_amp"),
        "incremental.edges_new": attr("incremental.fold", "edges_new"),
    }
    for key in ("jobs", "tasks", "exec_s", "busy", "shuffle_mb"):
        m["incremental.fold." + key] = tot("incremental.fold", key)
    for fam in QUERY_FAMILIES:
        m[f"q.{fam}.s"] = tot("q." + fam)
    return m

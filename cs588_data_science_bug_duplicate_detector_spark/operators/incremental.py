"""Incremental dedup: fold a new crawl increment into an existing corpus
index without re-pairing the old corpus against itself.

The reference recomputes its duplicate structure from scratch on every
run (``/root/reference/preprocess_data.py`` rebuilds the full pair set);
at web scale the corpus is append-mostly — a daily crawl adds ~0.1% new
documents — and re-running old-vs-old discovery is 99.8% wasted work.
This module maintains a persisted index (MinHash + SimHash signatures +
exact-text md5 per doc — the full production detector set — plus current
cluster labels) and, per increment:

1. signs ONLY the new documents with the pipeline's signer,
   ``sign_docs`` (one Arrow pass for both hash signatures, plus the
   text md5 — the Python hot path is proportional to the increment,
   never the corpus);
2. discovers candidate pairs with >= 1 NEW endpoint with the pipeline's
   edge union, ``detect_edges``, called with the stored index as the old
   side: new band keys / simhash chunk keys / text md5s are joined
   against it, and because all three key families are pure functions of
   content+config, an old bucket that contains no new member cannot
   produce a new pair — those buckets are dropped by a key semi-join
   before any pairing happens;
3. folds the new edges into the previous labels (``fold_labels``): old
   clusters enter connected-components as star edges (cluster_id ->
   member), so the CC input is O(|old docs| + |new edges|), not
   O(all edges ever). The batch pipeline skips this step: its CC reads
   the whole edge checkpoint.

Scale notes (the 1000-executor story):
- Per-increment Python/signature cost: O(|increment|). Old docs are
  never re-tokenized or re-hashed in Python; their band keys are
  re-derived JVM-side from the stored 128-slot signatures (xxhash64 over
  array slices — whole-stage codegen over a columnar scan that prunes to
  the (id, minhash) columns).
- The band-key semi-join shuffles old bands once per increment. With AQE
  + runtime bloom-filter join (Spark 3.3+,
  ``spark.sql.optimizer.runtime.bloomFilter.enabled``) the new side's
  band-key set is pushed into the old-side scan, so the shuffled volume
  approaches only the TOUCHED buckets. For small daily increments the
  stored signature table can additionally be bucketed by band-key prefix
  (Iceberg bucket transform) to skip the shuffle entirely; the Parquet
  backend here keeps the seam simple.
- Batch is the fold with an empty old side for the whole detect step:
  ``run_pipeline`` runs ``sign_docs`` and ``detect_edges`` on its
  ``signatures`` checkpoint with ``old = new.where(F.lit(False))``,
  which the optimizer prunes before planning. Each detector has one
  rule — ``exact.exact_edges``, ``minhash.lsh_edges``,
  ``simhash.hamming_edges`` — and the two hash rules share the
  bucket-pairing core ``operators.buckets.pair_buckets``, so the
  touched-bucket semi-join, the singleton drop, the cap split and the
  star rules exist once: capped buckets contribute star edges to the
  bucket root (linear, not quadratic) for new members only, plus root
  -> every old member when the root itself is new — old members'
  intra-bucket connectivity is already captured by the carried labels.
- Labels-as-star-edges keeps the CC input shallow: the previous
  partition collapses to one edge per non-root member, so incremental CC
  converges in ~2 rounds regardless of how many increments accumulated.

Correctness contract (pytest + driver ``incremental_dedup`` query): the
final incremental partition equals a from-scratch batch run (exact ∪
MinHash ∪ SimHash edges, CC) over the concatenated corpus. Band keys and
text hashes depend only on (content, config), so candidate discovery is
corpus-composition-independent; the equality is asserted end-to-end on
planted cross-increment duplicates.

One declared asymmetry: hot-bucket CAP truncation is history-dependent.
A bucket that was under ``bucket_cap`` in an earlier run had its pairs
fully verified then; if later increments push it over the cap, a
from-scratch run would keep only root-star edges while the fold retains
the previously-verified member<->member edges through the carried
labels. The fold therefore preserves AT LEAST the connectivity of the
batch run's verify outcomes — it can only differ by keeping old true
positives the batch cap would have truncated (the batch path documents
the same recall trade for its own caps). On corpora where no bucket
crosses a cap between folds — including the pytest fixtures and the
driver's sf0.001/sf0.01 corpora — the partitions are exactly equal.
Observed boundary case (round 6): at sf0.1 ONE simhash chunk bucket
(131 members vs chunk_cap=128) crosses the cap across increments, and
the fold keeps one true Hamming<=3 pair (doc 4113) that the batch
star-cap drops — exactly the declared direction (fold ⊇ batch
connectivity, extra edge is a verified true positive).
"""

from __future__ import annotations

import json
import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions.hashing import with_signatures
from .cc import connected_components
from .exact import exact_edges, text_md5_col
from .minhash import _attach_deps, lsh_edges, release_cached_deps
from .simhash import hamming_edges

# the signature column each signature-based detector reads, in the
# pipeline's detector order
SIG_COLUMN = {"exact": "text_md5", "minhash": "minhash", "simhash": "simhash"}


def sign_docs(docs: DataFrame, id_col: str, text_col: str, cfg: DedupConfig,
              detectors) -> DataFrame:
    """(id_col, + one column per signature detector in ``detectors``):
    what the pipeline's ``signatures`` checkpoint and the index's ``sigs``
    store per doc.

    The requested hash signatures come from ONE Arrow pass
    (``hashing.with_signatures``: one JVM->Python text transfer, one shared
    tokenization; char-shingle MinHash under ``shingle_mode="char"``).
    ``text_md5`` (``exact.text_md5_col``) is NULL for content-less docs.
    """
    df = docs.select(id_col, text_col)
    kernels = [k for k in ("minhash", "simhash") if k in detectors]
    if kernels:
        df = with_signatures(df, text_col, cfg, kernels)
    if "exact" in detectors:
        df = df.withColumn("text_md5", text_md5_col(text_col))
    return df.drop(text_col)


def detect_edges(new: DataFrame, old: DataFrame, cfg: DedupConfig,
                 detectors) -> tuple[DataFrame, dict]:
    """Signed (id, ...) docs, new and old -> ((src, dst, detector) edges
    with >= 1 new endpoint, {detector: hot-bucket frame}) for the
    signature detectors in ``detectors``; batch passes an empty old side.

    The edges carry the ``_cached_deps`` of every detector: release them
    once, after materializing.
    """
    parts, deps, hot = [], [], {}
    for det, col in SIG_COLUMN.items():
        if det not in detectors:
            continue
        n, o = new.select("id", col), old.select("id", col)
        if det == "exact":
            e = exact_edges(n, o)
        else:
            e, hot[det] = (lsh_edges if det == "minhash" else hamming_edges)(n, o, "id", cfg)
        deps.extend(getattr(e, "_cached_deps", []))
        parts.append(e.withColumn("detector", F.lit(det)))
    return _attach_deps(reduce(DataFrame.unionByName, parts), deps), hot


def incremental_minhash_edges(new_sigs: DataFrame, old_sigs: DataFrame,
                              cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    """Verified LSH edges with >= 1 new endpoint, plus hot-bucket summary."""
    return lsh_edges(new_sigs, old_sigs, "id", cfg)


def incremental_simhash_edges(new_sigs: DataFrame, old_sigs: DataFrame,
                              cfg: DedupConfig) -> DataFrame:
    """Hamming-verified SimHash edges with >= 1 new endpoint."""
    return hamming_edges(new_sigs, old_sigs, "id", cfg)[0]


# exact-dup star edges with >= 1 new endpoint, from (id, text_md5)
incremental_exact_edges = exact_edges


def fold_labels(old_labels: DataFrame, new_edges: DataFrame,
                new_ids: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """(previous labels, new edges) -> updated labels over old + new ids.

    The previous partition enters CC as star edges (cluster_id ->
    member), so its contribution is one edge per non-root member — CC
    never re-reads historical edge sets. Up to ``cc._LOCAL_MAX_EDGES``
    carried + new edges it labels them on the driver; above, the star
    loop converges in ~2 rounds. A ``checkpoint_dir`` makes CC reliable:
    its round files land there.
    """
    carried = old_labels.where(F.col("id") != F.col("cluster_id")).select(
        F.col("cluster_id").alias("src"), F.col("id").alias("dst")
    )
    vertices = old_labels.select("id").unionByName(new_ids.select("id")).distinct()
    return connected_components(
        carried.unionByName(new_edges.select("src", "dst")).distinct(),
        vertices=vertices,
        pre_deduped=True,
        reliable=checkpoint_dir is not None,
        checkpoint_dir=checkpoint_dir,
    )


class DedupIndex:
    """Persisted incremental dedup index (Parquet layout).

    ::

        root/
          meta.json            config fingerprint + increment count
          sigs/inc=N/          (id, text_md5, minhash, simhash) per increment
          labels/v{N}/         full label snapshot after increment N

    ``meta.json`` is written LAST via atomic rename, so a crash mid-
    increment leaves the index readable at its previous state and the
    re-run simply overwrites the orphaned ``inc=N`` directory.

    Doc ids must be globally unique across increments (web-scale
    pipelines derive them from content/URL hashes, so this holds by
    construction; ``add_increment`` asserts it cheaply against the
    carried label count).
    """

    # the production detector set: every increment folds all three
    detectors = ("exact", "minhash", "simhash")

    def __init__(self, root: str, cfg: DedupConfig | None = None):
        self.root = root
        self.cfg = cfg or DedupConfig()
        os.makedirs(root, exist_ok=True)

    # --- layout helpers ---
    @property
    def _meta_path(self) -> str:
        return os.path.join(self.root, "meta.json")

    def _sig_dir(self, n: int) -> str:
        return os.path.join(self.root, "sigs", f"inc={n}")

    def _label_dir(self, n: int) -> str:
        return os.path.join(self.root, "labels", f"v{n}")

    def meta(self) -> dict:
        if not os.path.exists(self._meta_path):
            return {"n_increments": 0, "cfg_fp": self.cfg.fingerprint()}
        with open(self._meta_path) as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, self._meta_path)

    # --- reads ---
    def signatures(self, spark: SparkSession, upto: int | None = None) -> DataFrame:
        """All stored (id, text_md5, minhash, simhash); ``upto`` bounds
        the increment index (exclusive) via partition pruning on ``inc``."""
        self._recover_compaction()
        df = spark.read.option("basePath", os.path.join(self.root, "sigs")).parquet(
            os.path.join(self.root, "sigs")
        )
        if upto is not None:
            df = df.where(F.col("inc") < upto)
        return df.select("id", *(SIG_COLUMN[d] for d in self.detectors))

    def labels(self, spark: SparkSession) -> DataFrame:
        n = self.meta()["n_increments"]
        if n == 0:
            raise ValueError(f"empty index at {self.root}")
        return spark.read.parquet(self._label_dir(n - 1))

    def compact(self, spark: SparkSession) -> int:
        """Merge all completed increment dirs into one (``inc=0``).

        Daily increments leave one small parquet dir each; after a year
        the per-fold index scan opens ~365 directories of sub-optimal
        files (the classic small-files tax). Compaction rewrites every
        stored signature into a single staged directory, then swaps it in
        as ``inc=0`` and removes the others — ``meta.n_increments`` keeps
        counting upward (it is the NEXT write index, not a physical dir
        count; the ``inc < n`` partition filter still admits the merged
        dir). Returns the number of directories merged away.

        Crash contract (round-6 fix of the round-5 ADVICE finding): the
        delete/swap is WRITE-AHEAD LOGGED in meta.json. The staged merge
        is fully written (incl. _SUCCESS) BEFORE the intent is recorded,
        and only after the atomic intent write do source dirs go away —
        so a crash at ANY point leaves either (a) the original dirs
        intact (intent absent: the staged dir is garbage and is swept),
        or (b) a recorded intent that ``_recover_compaction`` — run at
        the top of every read/write entry point — finishes
        idempotently. A partial signature index is never readable.
        On an object store, still run compaction from a single
        maintenance job — renames are not atomic there.
        """
        self._recover_compaction()
        meta = self.meta()
        n = meta["n_increments"]
        existing = [
            i for i in range(n) if os.path.exists(self._sig_dir(i))
        ]
        if len(existing) <= 1:
            return 0
        staged = self._staged_dir
        shutil.rmtree(staged, ignore_errors=True)
        self.signatures(spark, upto=n).write.mode("overwrite").parquet(staged)
        # WAL intent: the staged copy is complete; from here the swap can
        # always be finished (or re-finished) by _recover_compaction
        meta["compact"] = {"merged": existing}
        self._write_meta(meta)
        self._finish_compaction(meta)
        return len(existing) - 1

    @property
    def _staged_dir(self) -> str:
        return os.path.join(self.root, "sigs_compact_tmp")

    def _finish_compaction(self, meta: dict) -> None:
        """Complete a WAL-logged compaction: delete merged source dirs,
        swap the staged merge in as inc=0, clear the intent. Idempotent —
        safe to re-run from any crash point after the intent write."""
        staged = self._staged_dir
        merged = meta["compact"]["merged"]
        if os.path.exists(os.path.join(staged, "_SUCCESS")):
            for i in merged:
                if i != 0:
                    shutil.rmtree(self._sig_dir(i), ignore_errors=True)
            # inc=0 goes last, immediately before the swap, so the staged
            # copy (still intact) always covers a crash in between
            shutil.rmtree(self._sig_dir(0), ignore_errors=True)
            os.replace(staged, self._sig_dir(0))
        elif os.path.isdir(staged):
            raise RuntimeError(
                f"compaction staging dir {staged} exists without _SUCCESS "
                "while a compaction intent is recorded — refusing to guess; "
                "inspect the index manually"
            )
        else:
            # staged dir already swapped in (crash landed after os.replace,
            # before the intent clear): only stray source dirs remain
            for i in merged:
                if i != 0:
                    shutil.rmtree(self._sig_dir(i), ignore_errors=True)
        meta.pop("compact", None)
        self._write_meta(meta)

    def _recover_compaction(self) -> None:
        """Finish (or roll back) an interrupted compact(). Intent absent:
        any staged dir is pre-intent garbage — remove it, sources are
        untouched. Intent present: the staged copy was complete when the
        intent was recorded, so finishing is always safe."""
        meta = self.meta()
        if meta.get("compact"):
            self._finish_compaction(meta)
        else:
            shutil.rmtree(self._staged_dir, ignore_errors=True)

    # --- the one write path ---
    def add_increment(self, docs: DataFrame, id_col: str, text_col: str,
                      reliable_cc: bool = False) -> DataFrame:
        """Sign, pair, and fold one increment; returns the updated labels.

        Cost profile: Python/signature work O(|docs|); pairing touches
        only LSH buckets and md5 groups containing a new doc; CC input is
        carried-star-edges + new edges.

        ``reliable_cc=True`` on a real cluster makes executor loss mid-fold
        replay from CC's last round file instead of restarting the loop
        (the policy the pipeline runs with its workdir). The round files
        land under ``<root>/_cc_checkpoints`` and are removed once the
        labels are written.
        """
        ckpt = os.path.join(self.root, "_cc_checkpoints") if reliable_cc else None
        spark = docs.sparkSession
        self._recover_compaction()
        meta = self.meta()
        if meta["cfg_fp"] != self.cfg.fingerprint():
            raise ValueError(
                "config fingerprint mismatch: index was built with a different "
                f"DedupConfig ({meta['cfg_fp']} != {self.cfg.fingerprint()})"
            )
        n = meta["n_increments"]
        sign_docs(
            docs.select(F.col(id_col).alias("id"), text_col), "id", text_col, self.cfg, self.detectors
        ).write.mode("overwrite").parquet(self._sig_dir(n))
        new_sigs = spark.read.parquet(self._sig_dir(n))
        new_ids = new_sigs.select("id")

        if n:
            old_sigs, old_labels = self.signatures(spark, upto=n), self.labels(spark)
        else:
            # the first increment is the batch run: an empty old side, which
            # the optimizer prunes before planning
            old_sigs = new_sigs.where(F.lit(False))
            old_labels = new_ids.select("id", F.col("id").alias("cluster_id")).where(F.lit(False))
        edges, _hot = detect_edges(new_sigs, old_sigs, self.cfg, self.detectors)
        labels = fold_labels(old_labels, edges, new_ids, ckpt)
        labels.write.mode("overwrite").parquet(self._label_dir(n))
        release_cached_deps(edges)
        if ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)
        out = spark.read.parquet(self._label_dir(n))
        n_docs = out.count()
        # count the materialized parquet, not the incoming plan (no recompute)
        expected = int(meta.get("total_docs", 0)) + new_sigs.count()
        if n_docs != expected:
            raise ValueError(
                f"label count {n_docs} != docs ever added {expected}: "
                "duplicate doc ids across increments?"
            )
        self._write_meta(
            {
                "cfg_fp": self.cfg.fingerprint(),
                "n_increments": n + 1,
                "total_docs": n_docs,
            }
        )
        # each label snapshot is O(corpus); keep only the current one and
        # its predecessor (crash safety: meta never points at a snapshot
        # that could be mid-delete), prune everything older
        for stale in range(n - 1):
            shutil.rmtree(self._label_dir(stale), ignore_errors=True)
        return out

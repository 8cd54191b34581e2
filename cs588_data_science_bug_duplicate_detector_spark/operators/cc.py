"""Connected components: a driver-side union-find for small edge sets,
alternating large-star / small-star above a row bound.

Distributed replacement for the reference's in-memory union-find
(``/root/reference/preprocess_data.py:116-142``). Same output contract:
every vertex labeled with its component's MIN member id (≙ the
reference's root-as-cluster-id convention — labels are compared as
partitions, not raw values).

The deduplicated edge set is always materialized first; its observed
summary gives the distinct edge count ``n``. When ``n <= _LOCAL_MAX_EDGES``
it is collected over Arrow and labeled on the driver by a
vectorized numpy union-find — one job instead of a loop whose every
round is materialized, which at interactive sizes costs far more
in per-stage scheduling than in work. Above the bound the edges stay
distributed, in the star loop:

Algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond"): converges in O(log n) rounds; each round is two
join+aggregate passes over the edge DataFrame — no collect_list, so a
10^9-leaf star never materializes an adjacency list in one task.
Lineage is truncated every round (iterative plans otherwise grow
unboundedly — SURVEY.md §4): by ``localCheckpoint``, or with
``reliable=True`` by a parquet round file under the caller's
``checkpoint_dir``. The loop reads and writes no session setting, so it
runs at the session's shuffle width.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Distinct edge sets up to this size are labeled on the driver (see the
# module docstring). On a 4-core host the driver path beat the star loop at
# every size measured, up to ~950k real dedup edges (3.1 s vs 7.3 s), so
# the bound caps driver memory, not speed: one collect of at most this many
# (src, dst) longs, 16 MB of Arrow.
_LOCAL_MAX_EDGES = 1_000_000
# Star-loop rounds before an unconverged edge set raises.
_MAX_ROUNDS = 50


def _large_star(e: DataFrame) -> DataFrame:
    """For each u: connect every strictly-larger neighbor to min(Γ(u) ∪ {u})."""
    sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.select("src", F.least(F.col("mn"), F.col("src")).alias("m"))
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges high->low; connect all smaller neighbors (and u) to the min."""
    o = (
        e.select(F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    mins = o.groupBy("src").agg(F.min("dst").alias("m"))
    out = (
        o.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .unionByName(mins.select(F.col("src"), F.col("m").alias("dst")))
    )
    return out.where(F.col("src") != F.col("dst")).distinct()


def _union_find(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Edge endpoint arrays -> (ids, min-member root per id), vectorized.

    Ids are compacted by ``np.unique``, so index order is id order. Each
    pass hooks the larger root of every edge to the smaller one, then
    pointer-jumps until every parent is a root. ``parent[x] <= x`` holds
    throughout, so the forest stays acyclic and each root is its
    component's min member; passes stop when both ends of every edge share
    a root.
    """
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    a, b = inv[: len(src)], inv[len(src):]
    parent = np.arange(len(ids))
    while True:
        ra, rb = parent[a], parent[b]
        if np.array_equal(ra, rb):
            return ids, ids[parent]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _driver_labels(e: DataFrame) -> DataFrame:
    """Materialized edges(src, dst) -> labels(id, cluster_id), unioned on
    the driver: one Arrow collect, one local relation back."""
    t = e.toArrow()
    ids, roots = _union_find(t.column("src").to_numpy(), t.column("dst").to_numpy())
    return e.sparkSession.createDataFrame(
        pa.table({"id": ids, "cluster_id": roots}), "id long, cluster_id long"
    )


def _summary_metrics():
    # bit_xor: overflow-free (ANSI mode) and order-independent checksum of the
    # distinct edge set; equal (count, checksum) across rounds => converged.
    return (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("chk"),
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    on_iteration=None,
    reliable: bool = False,
    pre_deduped: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """edges(src,dst) [+ vertices(id)] -> labels(id, cluster_id=min member).

    Vertices absent from any edge become singleton clusters (their own id)
    when ``vertices`` is supplied. ``pre_deduped=True`` skips the initial
    distinct() when the caller already dedup'd the edge set (saves a full
    shuffle — callers like the pipeline otherwise pay it twice).

    The deduplicated edge set is materialized first. Up to
    ``_LOCAL_MAX_EDGES`` distinct edges it is collected and labeled on the
    driver (``_union_find``); ``on_iteration`` and the per-round files
    then never come into play, as no loop runs. Above the bound the star
    loop runs, at most ``_MAX_ROUNDS`` rounds, and every round is
    materialized to truncate lineage. Default is ``localCheckpoint``
    (memory, no disk round-trip — the rounds are the latency-critical
    serial section). ``reliable=True`` writes each materialization as
    parquet to ``<checkpoint_dir>/r<i>`` (``r0`` the init set, ``r<i>``
    round ``i``) and reads it back, so executor loss recomputes from the
    last round's files instead of restarting the loop. Each round's files
    replace the previous round's, and the driver path drops ``r0`` once it
    has collected it: a finished call leaves only the files its labels
    read, which the caller removes with the directory. Job-level resume is
    handled one level up by the pipeline's edge/label stage checkpoints.
    No session or SparkContext setting is read or written.

    The convergence summary (count + order-independent checksum) rides the
    SAME job as each materialization via ``observe`` — no separate
    aggregate job per round (the per-round fixed costs are what keep CC
    from scaling at small corpus sizes); the init summary's count picks
    the path.
    """
    if reliable and checkpoint_dir is None:
        raise ValueError("reliable=True needs a checkpoint_dir for its round files")
    spark = edges.sparkSession

    def materialize(df: DataFrame, i: int) -> tuple[DataFrame, tuple[int, int]]:
        obs = Observation()
        df = df.observe(obs, *_summary_metrics())
        if reliable:
            df.write.mode("overwrite").parquet(os.path.join(checkpoint_dir, f"r{i}"))
            out = spark.read.schema("src long, dst long").parquet(
                os.path.join(checkpoint_dir, f"r{i}")
            )
        else:
            out = df.localCheckpoint(eager=True)
        got = obs.get
        return out, (int(got["n"] or 0), int(got["chk"] or 0))

    def release(df: DataFrame, i: int) -> None:
        if reliable:
            shutil.rmtree(os.path.join(checkpoint_dir, f"r{i}"), ignore_errors=True)
        else:
            df.unpersist()

    init = edges.select(F.col("src").cast("long"), F.col("dst").cast("long")).where(
        F.col("src") != F.col("dst")
    )
    if not pre_deduped:
        init = init.distinct()
    # ALWAYS materialize the init set (even off a caller-persisted DF): the
    # round plans self-union the edges, and Spark's relation-dedup rewrites
    # expression ids in the union branches, which can MISS the outer cache
    # and silently recompute the whole upstream detect pipeline per round
    # (measured: 43s vs 2.6s for round 0 at 400k docs). The driver path
    # collects from it, so the upstream plan runs exactly once either way.
    e, prev = materialize(init, 0)
    if prev[0] <= _LOCAL_MAX_EDGES:
        labels = _driver_labels(e)
        release(e, 0)
    else:
        for it in range(_MAX_ROUNDS):
            e_next, cur = materialize(_small_star(_large_star(e)), it + 1)
            if on_iteration is not None:
                on_iteration(it, cur[0])
            release(e, it)
            e = e_next
            if cur == prev:
                break
            prev = cur
        else:
            # Labels derived from a still-evolving edge set would split true
            # components ACROSS cluster ids with no downstream signal — fail
            # loudly instead. The alternating algorithm converges in
            # O(log^2 n) rounds, so the bound covers any physical corpus;
            # hitting it means a checksum-collision oscillation or a
            # genuinely pathological graph.
            raise RuntimeError(
                f"connected_components did not converge within {_MAX_ROUNDS} rounds; "
                "labels from an unconverged edge set would silently split components. "
                "Inspect the edge graph."
            )
        labels = (
            e.select(F.col("src").alias("id"), F.col("dst").alias("cluster_id"))
            .unionByName(e.select(F.col("dst").alias("id"), F.col("dst").alias("cluster_id")))
            .groupBy("id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
    if vertices is not None:
        v = vertices.select(F.col(vertices.columns[0]).cast("long").alias("id"))
        labels = (
            v.join(labels, "id", "left")
            .select("id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id"))
        )
    return labels


def union_find_oracle(edges: list[tuple[int, int]], vertices: list[int] | None = None) -> dict[int, int]:
    """In-process union-find oracle for tests (same semantics as the
    reference's union-find at /root/reference/preprocess_data.py:116-142,
    reduced to min-member labels)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    def union(x: int, y: int) -> None:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    for s, d in edges:
        union(int(s), int(d))
    for v in vertices or []:
        find(int(v))
    return {x: find(x) for x in parent}

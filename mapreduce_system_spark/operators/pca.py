"""Top-k PCA by power iteration with deflation — matrix-free at any scale.

Extends the single-direction power iteration of ``emb_pca_power_iteration``
(queries/fresh8m.py) to the top-k principal directions of the (uncentered)
embedding corpus without ever forming the Gram matrix: component c runs the
same two corpus aggregates per round — scores ``s = X v`` keyed by row id,
loadings ``w = Xᵀ s`` keyed by position — and DEFLATES against the
already-extracted directions by orthogonal projection, which for the
implicit operator ``A = XᵀX`` is exact: iterating ``t ↦ proj⊥(A proj⊥(t))``
converges to the leading eigenvector of ``(I − VVᵀ) A (I − VVᵀ)``, i.e. the
next principal direction.

Scale shape (the 100 TB audit):

- the corpus-sized relation is touched exactly ``2·k·rounds`` times, every
  touch a partial+final aggregate whose output is bounded by n (scores) or
  d (loadings) — the Gram matrix (d², but built via an n·d² shuffle) and
  the covariance pivot are never materialized;
- every deflation / normalization object is k·d or smaller: the direction
  table is (component, pos, loading), dots are k-row aggregates, norms are
  one-row aggregates — all broadcast back, nothing collects to the driver
  except the dimension d (one scalar, read from one row);
- per-component state is ``localCheckpoint``ed (d rows) and the previous
  round's blocks released, so lineage stays O(1) in ``rounds`` exactly as
  ``operators/graph.py::pagerank`` does for its rank vectors;
- the exploded (id, pos, val) stream is cached for the fixture regime where
  it fits cluster storage; eviction is safe (Spark recomputes from the
  columnar scan), so at 100 TB the same plan degrades to re-scanning —
  the documented trade, not a correctness knob.

Float discipline for a future SQL oracle: the projection subtracts
``Σ_j (vⱼ·t) vⱼ`` with the dot and the scaled subtraction spelled as plain
sum/multiply aggregates, so an unrolled DuckDB twin can mirror every double
(the ``graph_pagerank`` verification pattern).

Reference contrast: the reference engine cannot iterate at all (one-shot
map→reduce, coordinator.go:126-141) and has no vector type
(KeyValue is string/string, worker.go:26-29).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_system_spark.caches import (
    persistent_rdd_ids,
    track_rdd_ids,
    tracked_cache,
    unpersist_rdd_ids,
)


def _project_out(vec: DataFrame, prev: DataFrame | None) -> DataFrame:
    """(pos, v) minus its projection onto every (component, pos, loading)
    direction in ``prev`` — k-row dot aggregate, broadcast back; exact
    pass-through when there is nothing to deflate against."""
    if prev is None:
        return vec
    dots = (
        vec.join(prev, "pos")
        .groupBy("component")
        .agg(F.sum(F.col("v") * F.col("loading")).alias("dot"))
    )
    proj = (
        prev.join(F.broadcast(dots), "component")
        .groupBy("pos")
        .agg(F.sum(F.col("dot") * F.col("loading")).alias("p"))
    )
    return vec.join(F.broadcast(proj), "pos", "left").select(
        "pos", (F.col("v") - F.coalesce("p", F.lit(0.0))).alias("v")
    )


def pca_topk(
    corpus: DataFrame,
    k: int = 2,
    rounds: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-``k`` principal directions of the (uncentered) corpus:
    (component, pos, loading), component 0 = leading. Directions are
    unit-norm and mutually orthogonal (pinned in tests); signs follow
    the iterate like any power method — compare loadings up to sign.

    ``rounds`` trades convergence for corpus passes (2 aggregates per
    round per component); with well-separated spectrum 3 rounds match
    the fixture corpus to 6 decimals, and a production caller loops to
    a Rayleigh tolerance the way ``clustering.kmeans_fit`` does.

    Each round materializes the d-row loading iterate ``w`` BEFORE the
    norm/normalize step: the norm rides ``v`` as a broadcast subtree,
    and the final round's separate norm checkpoint action would
    otherwise re-run the corpus-sized s→w aggregate chain (exchange
    reuse never spans actions). Every reader then reads d local rows
    and the corpus cache is touched exactly 2 times per round; the
    doubles are unchanged (0.91x, bench_runs/r18_pca_wckpt_ab.json).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    spark = corpus.sparkSession
    comp = tracked_cache(
        corpus.select(
            F.col(id_col).alias("id"), F.posexplode(vec_col).alias("pos", "vf")
        ).select("id", "pos", F.col("vf").cast("double").alias("val"))
    )
    drow = comp.agg(F.max("pos").alias("mx")).collect()[0]  # one driver scalar
    if drow["mx"] is None:
        raise ValueError("corpus has no vector components")
    d = int(drow["mx"]) + 1
    if k > d:
        # beyond d the deflated iterate is zero in exact arithmetic; in
        # floating point normalization amplifies deflation round-off into
        # an arbitrary (non-orthogonal) unit vector — refuse, don't emit
        raise ValueError(f"k ({k}) cannot exceed the dimensionality ({d})")
    positions = spark.range(d).select(F.col("id").cast("int").alias("pos"))
    prev: DataFrame | None = None
    prev_ids: set[int] = set()
    round_ids: set[int] = set()
    ref_nrm: DataFrame | None = None  # component 0's final norm (one row)
    ref_ids: set[int] = set()
    for ci in range(k):
        # uniform unit start (the fresh8m convention), deflated up front.
        # math.sqrt, not d**0.5: sqrt is IEEE correctly-rounded in both
        # CPython and DuckDB's C sqrt so `1.0/sqrt(d)` is bit-identical to
        # the oracle's, while pow(d, 0.5) may differ in the last ulp
        # (the parity class registry.py documents for computed doubles)
        v = positions.select("pos", F.lit(1.0 / math.sqrt(d)).alias("v"))
        v = _project_out(v, prev)
        nrm = None
        nrm_ids: set[int] = set()
        w_ids: set[int] = set()
        for r in range(rounds):
            s = (
                comp.join(F.broadcast(v), "pos")
                .groupBy("id")
                .agg(F.sum(F.col("val") * F.col("v")).alias("s"))
            )
            w = (
                comp.join(s, "id")
                .groupBy("pos")
                .agg(F.sum(F.col("val") * F.col("s")).alias("v"))
            )
            w = _project_out(w, prev)
            # materialize the d-row iterate once; the norm subtree and
            # the normalize branch below both read these blocks instead
            # of re-running the corpus aggregates (docstring)
            before_w = persistent_rdd_ids(spark)
            w = w.localCheckpoint(eager=True)
            new_w_ids = persistent_rdd_ids(spark) - before_w
            if w_ids:
                unpersist_rdd_ids(spark, w_ids)
            w_ids = new_w_ids
            nrm = w.agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm"))
            if r == rounds - 1:
                # the FINAL norm outlives the round (the exhaustion guard
                # and the ci=0 reference read it after this round's input
                # blocks are released) — checkpoint the one row so its
                # lineage is self-contained
                before_n = persistent_rdd_ids(spark)
                nrm = nrm.localCheckpoint(eager=True)
                nrm_ids = persistent_rdd_ids(spark) - before_n
            # nullif: an iterate orthogonal to the residual spectrum
            # (measure-zero) must go NULL, not abort under ANSI
            v = w.crossJoin(F.broadcast(nrm)).select(
                "pos", (F.col("v") / F.nullif(F.col("nrm"), F.lit(0.0))).alias("v")
            )
            # checkpoint the d-row iterate EVERY round: without this the
            # per-round join/projection subtrees nest and analysis cost
            # grows superlinearly in `rounds` (the pagerank per-iteration
            # discipline — block release keeps storage O(1) too)
            before_r = persistent_rdd_ids(spark)
            v = v.localCheckpoint(eager=True)
            new_round_ids = persistent_rdd_ids(spark) - before_r
            if round_ids:
                unpersist_rdd_ids(spark, round_ids)
            round_ids = new_round_ids
        if w_ids:
            # the final round's iterate blocks: nrm and v are checkpointed
            # on their own blocks now, so these are release-now garbage
            unpersist_rdd_ids(spark, w_ids)
        if ci == 0:
            # the guard's reference rides component 0's already-
            # checkpointed final norm (no second checkpoint); its blocks
            # are exempt from the per-component release below
            ref_nrm = nrm.select(F.col("nrm").alias("ref_nrm"))
            ref_ids = set(nrm_ids)
        # SPECTRUM-EXHAUSTION GUARD (r11 embeddings fuzz): when k exceeds
        # the corpus's effective rank, the deflated iterate is zero in
        # exact arithmetic and its computed norm is pure round-off
        # (~eps x data scale); normalizing that amplifies engine-specific
        # last ulps into an arbitrary unit vector — Spark and DuckDB
        # emitted DIFFERENT garbage directions on a rank-1 corpus. A
        # component whose final norm collapses below 1e-9 of component
        # 0's is exhausted: emit NULL loadings (both engines compute
        # their own ~eps norms, both fall far below the threshold, so
        # the CASE agrees cross-engine; the registered oracle mirrors
        # it). λ_k/λ_1 genuinely at 1e-9 is below what double-precision
        # power iteration can resolve anyway.
        new_dir = (
            v.crossJoin(F.broadcast(nrm))
            .crossJoin(F.broadcast(ref_nrm))
            .select(
                F.lit(ci).alias("component"),
                "pos",
                F.when(
                    F.col("nrm") >= F.lit(1e-9) * F.col("ref_nrm"), F.col("v")
                ).alias("loading"),
            )
        )
        before = persistent_rdd_ids(spark)
        prev = (
            new_dir if prev is None else prev.unionByName(new_dir)
        ).localCheckpoint(eager=True)
        step_ids = persistent_rdd_ids(spark) - before
        if prev_ids:
            unpersist_rdd_ids(spark, prev_ids)
        prev_ids = step_ids
        if nrm_ids:
            # the final-norm row is baked into prev's blocks now —
            # release, but never the ci=0 reference the guard still reads
            unpersist_rdd_ids(spark, nrm_ids - ref_ids)
    if round_ids:
        # the last round's iterate blocks — prev is checkpointed on its
        # own blocks, so these are release-now garbage, not a dependency
        unpersist_rdd_ids(spark, round_ids)
    if ref_ids:
        # the one-row guard reference (component 0's final norm) is baked
        # into prev's checkpointed blocks — release-now garbage
        unpersist_rdd_ids(spark, ref_ids)
    if prev_ids:
        track_rdd_ids(spark, prev_ids)
    return prev.orderBy("component", "pos")

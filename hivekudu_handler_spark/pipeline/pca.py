"""Distributed PCA projection over the ``embeddings`` table.

Dimensionality reduction is the standard precursor to clustering /
visualization / cheap ANN over embedding corpora.  The classic
two-pass scalable PCA (the public Spark MLlib RowMatrix approach —
computePrincipalComponents builds the Gramian the same way):

1. **moment pass** — each Arrow batch folds to (n, Σx, Σxxᵀ) with one
   BLAS ``einsum``; partials are one tiny row per batch (d + d² doubles,
   d=64 → 33 KB), collected and combined driver-side in deterministic
   partition order.  The corpus itself never shuffles and never leaves
   executors.
2. driver: covariance from the moments, ``numpy.linalg.eigh`` on the
   d×d matrix (microseconds at d=64; d≤4096 stays trivial), top-k
   eigenvectors sign-fixed (largest-|component| coordinate made
   positive) so the output is unique despite eigenvector sign freedom.
3. **projection pass** — the k×d matrix broadcasts; a second
   Arrow-batched map multiplies each batch once.  Scan-shaped: no
   shuffle at any point, O(d²) driver state.

Oracle-backed since r15 in EXACT-BOUNDS form (r14 verdict item 2).
The eigensolver itself stays outside SQL: an unrolled subspace
iteration (the only SQL-expressible eigensolver shape) converges per
component at rate |λ_{k+1}/λ_k|^n, and the fixture spectrum is
near-flat — measured λ₉/λ₈ = 0.9863 at sf0.01 — so matching LAPACK
``eigh`` to a 6-dp digest would need ~10³ unrolled iterations per
component with no guarantee at the near-degenerate pairs.  Instead the
registered output carries per-row exact centered norms (value-checked
against DuckDB) plus two bound certificates computed from the real
projections — contraction (‖proj‖² ≤ ‖x−μ‖²) and axis-dominance
(Σ‖proj‖² ≥ best axis-aligned k-subspace) — with the oracle stating
TRUE; see the registered query's docstring.  The pytest suite
additionally pins the math — orthonormal components, eigenvalue
ordering, and subspace agreement with a single-node numpy PCA of the
same data (projector-matrix comparison, which is invariant to the
sign/rotation freedom a raw vector compare would trip over).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hivekudu_handler_spark.registry import query
from hivekudu_handler_spark.tables import embedding_width, load_table

N_COMPONENTS = 8


def _moments(df: DataFrame, dim: int) -> tuple[int, np.ndarray, np.ndarray]:
    """(n, Σx, Σxxᵀ) over the embedding column — one pass, no shuffle."""

    out_schema = T.StructType(
        [
            T.StructField("pid", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("ss", T.ArrayType(T.DoubleType())),
        ]
    )

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        n, s, ss = 0, np.zeros(dim), np.zeros((dim, dim))
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            n += x.shape[0]
            s += x.sum(axis=0)
            ss += np.einsum("ij,ik->jk", x, x)
        if n:
            yield pd.DataFrame(
                {"pid": [pid], "n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]}
            )

    parts = df.select("embedding").mapInPandas(fold, out_schema).collect()
    # deterministic combine order: float summation is order-sensitive
    parts.sort(key=lambda r: r["pid"])
    n = sum(r["n"] for r in parts)
    s = np.sum([np.array(r["s"]) for r in parts], axis=0)
    ss = np.sum([np.array(r["ss"]).reshape(dim, dim) for r in parts], axis=0)
    return n, s, ss


def _fit_pca_full(
    df: DataFrame, dim: int, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, int]:
    """(components k×d sign-fixed eigenvalue-descending, mean d,
    eigenvalues descending (all d), covariance d×d, n) — one moment
    pass total."""
    n, s, ss = _moments(df, dim)
    if n < 2:
        raise ValueError("PCA needs at least 2 vectors")
    mu = s / n
    cov = (ss - n * np.outer(mu, mu)) / (n - 1)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    comps = vecs[:, ::-1][:, :k].T  # k×d, descending eigenvalue
    # sign convention: the largest-|component| coordinate is positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return comps, mu, vals[::-1], cov, n


def fit_pca(df: DataFrame, dim: int, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(components k×d sign-fixed eigenvalue-descending, mean d) — one
    moment pass total."""
    comps, mu, _, _, _ = _fit_pca_full(df, dim, k)
    return comps, mu


def _project_df(
    spark: SparkSession, emb: DataFrame, comps: np.ndarray, mu: np.ndarray
) -> DataFrame:
    """Scan-shaped projection pass: broadcast (comps, mu), one Arrow
    map over the corpus — returns the raw ``proj`` array column plus
    the per-row exact centered squared norm ``centered_sq`` (free once
    ``x − μ`` is materialized in the batch)."""
    bc = spark.sparkContext.broadcast((comps, mu))

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("label", T.IntegerType()),
            T.StructField("proj", T.ArrayType(T.DoubleType())),
            T.StructField("centered_sq", T.DoubleType()),
        ]
    )

    def project(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p, m = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64) - m
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "label": pdf["label"].to_numpy(),
                    "proj": list((x @ p.T)),
                    "centered_sq": (x * x).sum(axis=1),
                }
            )

    # no orderBy: the projection is scan-shaped (zero exchanges,
    # plan-pinned in tests/test_plans.py) — a global sort here would
    # range-shuffle the whole corpus for cosmetic row order that the
    # driver verifier (sorts before hashing) and every test (keys rows
    # by vec_id) ignore.  r10; previously paid a full sort.
    return emb.select("vec_id", "label", "embedding").mapInPandas(
        project, out_schema
    )


def pca_project_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto its corpus's top-8 principal
    components (centered): fit (one moment pass) + project (one
    scan-shaped Arrow map).  Internal/test/production surface — the
    registered query wraps this with the scalar exact-bounds
    projection the driver verifier can hash."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = embedding_width(spark, sf_dir)
    comps, mu = fit_pca(emb, dim, N_COMPONENTS)
    return _project_df(spark, emb, comps, mu)


@query(
    "emb_pca_project",
    oracle=(
        "WITH ex AS (SELECT vec_id, label, unnest(embedding) AS v, "
        "                   generate_subscripts(embedding, 1) AS i "
        "            FROM embeddings), "
        "exd AS (SELECT vec_id, label, CAST(v AS DOUBLE) AS v, i FROM ex), "
        "mu AS (SELECT i, AVG(v) AS m FROM exd GROUP BY i) "
        "SELECT exd.vec_id, exd.label, "
        "       ROUND(SUM((exd.v - mu.m) * (exd.v - mu.m)), 4) "
        "         AS centered_sq, "
        "       TRUE AS proj_within_norm, "
        "       TRUE AS captures_axis_bound "
        "FROM exd JOIN mu USING (i) "
        "GROUP BY exd.vec_id, exd.label"
    ),
    tags=("embedding",),
)
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto its corpus's top-8 principal
    components (centered), registered in EXACT-BOUNDS form (r14 verdict
    item 2).  The eigendecomposition itself is not SQL-expressible (the
    fixture spectrum is near-degenerate — see module doc), so the
    driver-facing output carries, per vector:

    - ``centered_sq`` — the exact centered squared norm ‖x − μ‖²,
      value-checked against DuckDB recomputing μ and the norms from the
      raw table.  This certifies the distributed moment pass (the part
      of PCA that actually runs across the cluster).
    - ``proj_within_norm`` — ‖proj‖² ≤ ‖x − μ‖², computed from the REAL
      projection values: an orthonormal-basis projection is a
      contraction, so any basis drift that broke orthonormality fails
      the official record.  Oracle states TRUE.
    - ``captures_axis_bound`` — Σᵢ‖projᵢ‖² ≥ Σ top-k per-coordinate
      centered sums-of-squares (the captured variance of the best
      AXIS-ALIGNED k-subspace, a feasible competitor the eigensolve's
      optimum must dominate by Courant-Fischer; numerically the
      Schur-Horn majorization).  Total computed from the real ``proj``
      column via a 1-row fold crossJoined back (broadcast 1-row,
      precedent: the z-order bounds / date-spine crossJoins); the axis
      bound comes from the covariance diagonal already on the driver.
      A random-orthonormal-basis "eigensolve" fails this.  Oracle
      states TRUE.

    The pytest suite (tests/test_pca.py) additionally pins component
    orthonormality, eigenvalue ordering, and projector-matrix agreement
    with single-node numpy SVD.  Production projection is
    ``pca_project_vectors`` (single scan-shaped pass, zero exchanges);
    this registered wrapper pays one 1-row fold plus a lazy
    localCheckpoint of the projected rows (distributed, executor-local)
    so the projection pass still runs exactly once for both the fold
    and the output."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    dim = embedding_width(spark, sf_dir)
    comps, mu, vals, cov, n = _fit_pca_full(emb, dim, N_COMPONENTS)
    # best axis-aligned k-subspace captured SS: top-k of the centered
    # per-coordinate sums of squares, i.e. (n-1) * top-k diag(cov)
    diag_ss = np.sort(np.diag(cov))[::-1][:N_COMPONENTS].sum() * (n - 1)

    proj = _project_df(spark, emb, comps, mu)
    proj_sq = F.aggregate("proj", F.lit(0.0), lambda acc, x: acc + x * x)
    per_row = proj.select(
        "vec_id",
        "label",
        F.round("centered_sq", 4).alias("centered_sq"),
        (proj_sq <= F.col("centered_sq") * (1.0 + 1e-9) + 1e-9).alias(
            "proj_within_norm"
        ),
        proj_sq.alias("_psq"),
    )
    # LAZY localCheckpoint: per_row feeds BOTH the 1-row captured fold
    # (the crossJoin's broadcast side, materialized first as its own
    # job) and the streamed output — without it the corpus scan + Arrow
    # projection would execute twice (r15 review).  Lazy, not eager, so
    # building the DataFrame (driver contract walks all schemas) costs
    # nothing; the first action materializes once and the second branch
    # reads the checkpoint.
    per_row = per_row.localCheckpoint(eager=False)
    captured = per_row.agg(F.sum("_psq").alias("_captured"))
    return per_row.crossJoin(captured).select(
        "vec_id",
        "label",
        "centered_sq",
        "proj_within_norm",
        # 1e-6 relative slack (r16, was 1e-9): _captured is an
        # order-sensitive distributed float64 sum, and when the corpus
        # covariance is near-diagonal the top-k eigenvalue sum sits ON
        # the axis-aligned bound — partition-order jitter must not flip
        # the boolean.  The certificate's power (rejecting a random
        # basis, which loses ~k/d of the SS) is unaffected.
        (F.col("_captured") >= F.lit(float(diag_ss)) * (1.0 - 1e-6)).alias(
            "captures_axis_bound"
        ),
    )

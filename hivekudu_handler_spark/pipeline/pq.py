"""Product quantization over the embeddings table — the missing rung of
the ANN ladder (brute force → LSH → IVF → **PQ/ADC**, the FAISS
progression).

Why PQ matters at 100 TB: a float32 d=64 vector is 256 bytes; its PQ
code (m=8 subspaces × 4-bit-addressable 16-centroid codebooks) is 8
bytes — a 32× compression that turns a petabyte-scale vector corpus into
something a scan can rank directly, no full-precision read.  The public
reference points are Jégou et al., "Product Quantization for Nearest
Neighbor Search" (TPAMI 2011) and the FAISS IndexPQ design.

Scale anatomy (every stage bounded or scan-shaped):

* **train** — per-subspace k-means on a DETERMINISTIC SAMPLE collected
  driver-side, exactly how FAISS trains (PQ codebooks are model state;
  training on ~100k sampled vectors is standard at ANY corpus size).
  The sample here is the lowest-``vec_id`` slice — deterministic without
  RNG, same convention as the IVF/k-means seeds.  Driver state: m × 16 ×
  (d/m) doubles — 8 KB at d=64.
* **encode** — codebooks broadcast; one Arrow-batched ``mapInPandas``
  pass computes all m argmin codes per vector with one (n, 16, m)
  einsum-free distance reduction.  Scan-shaped, zero shuffle.
* **search (ADC)** — each query builds an m×16 inner-product table to
  the codebooks (driver/numpy, microseconds); tables broadcast; one scan
  of the CODES (8 bytes/vec, not 256) accumulates approximate scores by
  table lookup, keeping a partition-local top-C.  Global merge ranks
  C·P·|queries| candidate rows — corpus-sized data never shuffles
  (same two-phase shape as ``brute_force_topk``).
* **re-rank** — the standard production finisher: the top-C≫k ADC
  candidates (and ONLY those) join back to the full-precision vectors
  for exact cosine, then exact top-k.  Candidate-sized join ≪ corpus.

All three keys are oracle-backed since r10: the train→encode→search
pipeline is deterministic end-to-end (lowest-vec_id sample, per-subspace
Lloyd, argmin codes, fixed tie-breaks), so the DuckDB oracles REPLAY it
— generated MATERIALIZED-CTE SQL from ``pipeline/replay.py`` (the
unmaterialized form is 2^iters-exponential under CTE inlining).
tests/test_pipeline.py additionally pins the PQ invariants: codes in
range, reconstruction error strictly below a mean-centroid baseline,
encode determinism, and ADC+re-rank recall@10 ≥ 0.8 vs the exact
``sim_topk_cosine`` ground truth — the same bar the LSH and IVF search
paths are held to.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hivekudu_handler_spark import pins
from hivekudu_handler_spark.registry import query
from hivekudu_handler_spark.pipeline.replay import (
    EMB_DIM,
    ivfpq_oracle,
    pq_adc_oracle,
    pq_encode_oracle,
)
from hivekudu_handler_spark.pipeline.similarity import _IVF_CENTROIDS, _IVF_NPROBE
from hivekudu_handler_spark.tables import embedding_width, load_table

_M = 8  # subspaces
_KSUB = 16  # centroids per subspace
_TRAIN_N = 2048  # training sample size (model-state-sized, not corpus)
_ITERS = 10
_N_QUERIES = 5  # vec_id < 5, same convention as sim_topk_cosine
_TOP_K = 10
_DSUB = EMB_DIM // _M  # fixture subvector width; runtime uses dim // _M
_OVERFETCH = 150  # ADC top-C candidates per query before exact re-rank
# C=150 holds recall@10 ≥ 0.8 at this codebook resolution (measured 0.76
# at C=50); candidates stay ≪ corpus, so the re-rank join cost is noise


def _normalize(e: DataFrame) -> DataFrame:
    """(vec_id, label, v): unit-L2 double vectors — PQ inner-product ADC
    then ranks by cosine, matching the exact ground truth.  Zero-norm
    vectors are EXCLUDED before the divide (mirrored by the replay
    oracle's filtered ``n`` CTE): Spark's 0.0/0.0 is NaN and would
    poison codes/scores with engine-specific NaN semantics; a vector
    with no direction has no PQ representation."""
    v = F.transform("embedding", lambda x: x.cast("double"))
    sq = F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    nrm = F.sqrt(sq)
    return (
        load_e_cols(e)
        .filter(sq > 0)
        .withColumn("v", F.transform(v, lambda x: x / nrm))
        .select("vec_id", "label", "v")
    )


def load_e_cols(e: DataFrame) -> DataFrame:
    return e.select("vec_id", "label", "embedding")


def _lloyd_numpy(x: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Deterministic single-node Lloyd for one subspace: init = first k
    rows (the sample is vec_id-ordered), ties break to the lowest
    centroid index (np.argmin), empty clusters keep their centroid."""
    cents = x[:k].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for j in range(k):
            mask = a == j
            if mask.any():
                cents[j] = x[mask].mean(axis=0)
    return cents


def pq_train(norm: DataFrame, dim: int) -> np.ndarray:
    """(m, ksub, dsub) codebooks from the deterministic low-vec_id
    sample."""
    sample = np.array(
        norm.orderBy("vec_id").limit(_TRAIN_N).select("v").toPandas()["v"].tolist()
    )
    dsub = dim // _M
    books = np.stack(
        [
            _lloyd_numpy(
                sample[:, m * dsub : (m + 1) * dsub], _KSUB, _ITERS
            )
            for m in range(_M)
        ]
    )
    return books


def pq_encode(norm: DataFrame, books: np.ndarray) -> DataFrame:
    """(vec_id, label, codes array<int>): one Arrow pass, argmin per
    subspace against the broadcast codebooks."""
    spark = norm.sparkSession
    bc = spark.sparkContext.broadcast(books)
    m, ksub, dsub = books.shape
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("label", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["v"].to_numpy())
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                sub = x[:, j * dsub : (j + 1) * dsub]
                d = ((sub[:, None, :] - b[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "label": pdf["label"].to_numpy(),
                    "codes": list(codes),
                }
            )

    return norm.mapInPandas(enc, schema)


def _fit_encode(spark: SparkSession, sf_dir: str):
    e = load_table(spark, sf_dir, "embeddings")
    dim = embedding_width(spark, sf_dir)
    # persist the normalized vectors: every PQ key evaluates ``norm``
    # several times (train sample, query collect, the encode pass, both
    # sides of the exact re-rank join) and the normalize chain is a
    # per-row HOF fold — cache it once, reads are columnar (r21);
    # pin-registered: a repeated call reuses it or releases it (r22)
    norm = pins.pin("pq.fit_encode.norm", _normalize(e))
    books = pq_train(norm, dim)
    return norm, books, pq_encode(norm, books)


@query(
    "emb_pq_encode",
    oracle=pq_encode_oracle(_M, _KSUB, _TRAIN_N, _ITERS, _DSUB),
    tags=("embedding", "vector"),
)
def emb_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-encode the corpus (m=8 subspaces × 16 centroids = 8 bytes per
    vector, 32× smaller than the float32 original).  Output is
    driver-hashable: the code word as a comma string plus the rounded
    per-vector reconstruction error (‖x − decode(code)‖², the quantity
    PQ training minimizes — pytest pins it strictly below a
    1-centroid-per-subspace baseline).

    Oracle-backed since r10: the whole train→encode pipeline is
    deterministic (lowest-vec_id sample, per-subspace Lloyd, argmin
    codes), so the DuckDB oracle REPLAYS it (``replay.pq_encode_oracle``
    — ~100 KB of generated, MATERIALIZED CTEs); codes and rounded
    errors match exactly on every fixture."""
    norm, books, codes = _fit_encode(spark, sf_dir)
    bc = spark.sparkContext.broadcast(books)
    m, ksub, dsub = books.shape
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("label", T.IntegerType()),
            T.StructField("code_str", T.StringType()),
            T.StructField("recon_err", T.DoubleType()),
        ]
    )

    def fmt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["v"].to_numpy())
            codes_ = np.empty((len(x), m), dtype=np.int32)
            err = np.zeros(len(x))
            for j in range(m):
                sub = x[:, j * dsub : (j + 1) * dsub]
                d = ((sub[:, None, :] - b[j][None, :, :]) ** 2).sum(axis=2)
                codes_[:, j] = d.argmin(axis=1)
                err += d[np.arange(len(x)), codes_[:, j]]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "label": pdf["label"].to_numpy(),
                    "code_str": [
                        ",".join(str(c) for c in row) for row in codes_
                    ],
                    "recon_err": np.round(err, 6),
                }
            )

    return norm.mapInPandas(fmt, schema)


@query(
    "sim_pq_adc",
    oracle=pq_adc_oracle(_M, _KSUB, _TRAIN_N, _ITERS, _DSUB, _N_QUERIES,
                         _OVERFETCH, _TOP_K),
    tags=("similarity", "vector"),
)
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance ANN: ADC table-lookup scoring over the 8-byte
    PQ codes retrieves top-``_OVERFETCH`` candidates per query, exact cosine
    re-ranks those candidates only, emitting the same (query_id,
    neighbor_id, rank, cosine) surface as ``sim_topk_cosine`` (recall@10
    pinned ≥ 0.8 against it in pytest).  The full-precision corpus is
    touched exactly twice: once to encode, once for the candidate-sized
    re-rank join.

    Oracle-backed since r10 (``replay.pq_adc_oracle``): codebook replay
    + ADC lookup sums in the kernel's j-ascending order + the same
    (adc DESC, vec_id) top-C and exact-dot re-rank; matches exactly on
    every fixture."""
    norm, books, codes = _fit_encode(spark, sf_dir)
    m, ksub, dsub = books.shape

    qrows = (
        norm.filter(F.col("vec_id") < _N_QUERIES)
        .orderBy("vec_id")
        .collect()
    )  # |queries| × d doubles of model-state, not data
    qids = [r["vec_id"] for r in qrows]
    qmat = np.array([r["v"] for r in qrows])
    # per-query m×16 inner-product tables: ADC score = Σ_j T[q, j, code_j]
    tables = np.stack(
        [
            np.stack(
                [
                    qmat[:, j * dsub : (j + 1) * dsub] @ books[j].T
                    for j in range(m)
                ],
                axis=1,
            )
        ]
    )[0]  # (|q|, m, ksub)
    bc = spark.sparkContext.broadcast((qids, tables))

    cand_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("adc", T.DoubleType()),
        ]
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, tabs = bc.value
        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.vstack(pdf["codes"].to_numpy())  # (n, m)
            vid = pdf["vec_id"].to_numpy()
            frames = []
            for qi, qid in enumerate(qids_):
                s = tabs[qi][np.arange(m)[None, :], c].sum(axis=1)
                keep = vid != qid  # no self-match, as in the ground truth
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "vec_id": vid[keep],
                            "adc": s[keep],
                        }
                    )
                )
            batch = pd.concat(frames, ignore_index=True)
            acc = batch if acc is None else pd.concat(
                (acc, batch), ignore_index=True
            )
            # partition-local top-C per query: bounded state, the corpus
            # never leaves the executors
            acc = (
                acc.sort_values(
                    ["query_id", "adc", "vec_id"],
                    ascending=[True, False, True],
                )
                .groupby("query_id", sort=False)
                .head(_OVERFETCH)
            )
        if acc is not None and len(acc):
            yield acc

    local = codes.mapInPandas(scan, cand_schema)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("vec_id")
    )
    cands = (
        local.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _OVERFETCH)
        .select("query_id", "vec_id")
    )
    # exact re-rank on the candidate set only
    qdf = norm.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda a, b: a * b),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    # candidates are C·|queries| rows — broadcast EXPLICITLY so the plan
    # stays a corpus-scan + broadcast probe at any corpus size (the
    # optimizer can't size a window output; without the hint a CBO miss
    # would shuffle the corpus for a 750-row join)
    exact = (
        norm.select("vec_id", "v")
        .join(F.broadcast(cands), "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", "vec_id", dot.alias("cos_raw"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("vec_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= _TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round("cos_raw", 4).alias("cosine"),
        )
    )


@query(
    "sim_ivfpq",
    oracle=ivfpq_oracle(_M, _KSUB, _TRAIN_N, _ITERS, _DSUB, _N_QUERIES,
                        _OVERFETCH, _TOP_K, _IVF_CENTROIDS, _IVF_NPROBE),
    tags=("similarity", "vector", "approx", "slow"),
)
def sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — the production composition (FAISS ``IVFPQ``): the
    coarse quantizer prunes WHICH vectors are scored, PQ codes cut WHAT
    a score costs, exact cosine re-ranks the survivors.

    Pipeline: corpus → IVF cell assignment (broadcast argmin scan,
    ``similarity._ivf_assign`` — no corpus exchange) joined onto the
    8-byte PQ codes; each query probes its ``_IVF_NPROBE`` nearest
    cells (probe lists computed driver-side from k×d model state and
    broadcast); the ADC table-lookup scan touches ONLY probed-cell
    codes, so per-query scan work is ~nprobe/k of the corpus at 8 bytes
    a vector instead of all of it at full precision — the two
    multiplicative prunings that make 10^9-vector search tractable.
    Top-``_OVERFETCH`` ADC candidates per query re-rank exactly
    (broadcast candidate join, same tail as ``sim_pq_adc``).

    Oracle-backed since r10 (``replay.ivfpq_oracle``): BOTH stacked
    approximations replay in SQL — the IVF probe restriction composes
    with the PQ codebook/ADC replay — and top-k sets match exactly on
    every fixture.  pytest pins recall@10 ≥ 0.8 against
    ``sim_topk_cosine`` and candidates ⊆ probed cells."""
    norm, books, codes = _fit_encode(spark, sf_dir)
    m, ksub, dsub = books.shape

    from hivekudu_handler_spark.pipeline.similarity import _ivf_assign

    cents = norm.filter(F.col("vec_id") < _IVF_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    assigned = _ivf_assign(norm.select("vec_id", "v"), cents).select(
        "vec_id", "cent_id"
    )
    coded = codes.join(assigned, "vec_id")

    # model state driver-side: queries (|q| × d) and centroids (k × d)
    qrows = norm.filter(F.col("vec_id") < _N_QUERIES).orderBy("vec_id").collect()
    qids = [r["vec_id"] for r in qrows]
    qmat = np.array([r["v"] for r in qrows])
    crows = cents.orderBy("cent_id").collect()
    cmat = np.array([r["cv"] for r in crows])
    cid = np.array([r["cent_id"] for r in crows])
    # nprobe nearest cells per query, cosine, ties to lower cent_id
    csim = (qmat @ cmat.T) / (
        np.linalg.norm(qmat, axis=1)[:, None] * np.linalg.norm(cmat, axis=1)[None, :]
    )
    order = np.lexsort((cid[None, :].repeat(len(qids), 0), -csim), axis=1)
    probe_pairs = [
        (int(q), int(cid[c]))
        for qi, q in enumerate(qids)
        for c in order[qi, :_IVF_NPROBE]
    ]
    probes = spark.createDataFrame(probe_pairs, "query_id long, cent_id int")

    # per-query ADC lookup tables (|q| × m × ksub inner products)
    tables = np.stack(
        [
            np.stack(
                [qmat[:, j * dsub : (j + 1) * dsub] @ books[j].T for j in range(m)],
                axis=1,
            )
        ]
    )[0]
    bc = spark.sparkContext.broadcast((qids, tables))

    cand_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("adc", T.DoubleType()),
        ]
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, tabs = bc.value
        qidx = {q: i for i, q in enumerate(qids_)}
        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.vstack(pdf["codes"].to_numpy())  # (n, m)
            qi = pdf["query_id"].map(qidx).to_numpy()
            vid = pdf["vec_id"].to_numpy()
            s = tabs[qi[:, None], np.arange(m)[None, :], c].sum(axis=1)
            keep = vid != pdf["query_id"].to_numpy()
            batch = pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy()[keep],
                    "vec_id": vid[keep],
                    "adc": s[keep],
                }
            )
            acc = batch if acc is None else pd.concat((acc, batch), ignore_index=True)
            acc = (
                acc.sort_values(
                    ["query_id", "adc", "vec_id"], ascending=[True, False, True]
                )
                .groupby("query_id", sort=False)
                .head(_OVERFETCH)
            )
        if acc is not None and len(acc):
            yield acc

    # cell-restricted rows: (vec_id, codes) × probing queries; the probe
    # list is |q|·nprobe rows — broadcast, the corpus side never shuffles
    restricted = coded.join(F.broadcast(probes), "cent_id").select(
        "query_id", "vec_id", "codes"
    )
    local = restricted.mapInPandas(scan, cand_schema)

    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("vec_id"))
    cands = (
        local.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _OVERFETCH)
        .select("query_id", "vec_id")
    )
    qdf = norm.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    )
    exact = (
        norm.select("vec_id", "v")
        .join(F.broadcast(cands), "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", "vec_id", dot.alias("cos_raw"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), F.col("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= _TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round("cos_raw", 4).alias("cosine"),
        )
    )

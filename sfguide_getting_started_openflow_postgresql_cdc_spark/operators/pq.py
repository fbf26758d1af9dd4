"""Product-quantization (PQ) ANN — the memory-bounded scale path.

The similarity family covers compute-bounded candidate pruning (sim2
LSH bucketing, sim4/IvfIndex coarse cells, ann_auto adaptive banding);
PQ attacks the OTHER 100 TB wall: the corpus no longer fits the
cluster's memory as raw floats. Each normalized vector is cut into
``PQ_M`` subvectors and each subvector quantized to its nearest
per-subspace codebook entry — ``PQ_M`` small ints per vector instead
of ``dim`` floats (64-dim float32 -> 8 codes = 32x compression), and
search never touches raw embeddings until a final shortlist rerank:

1. TRAIN (driver math, Jegou et al. 2011 recipe): per-subspace Lloyd
   iterations over a deterministic md5-hash-ordered sample — same
   sampling/determinism contract as ``train_ivf_centroids`` (a vec_id
   prefix is content-biased; hash order is a seeded uniform draw).
2. ENCODE (one corpus pass, Arrow-batched): argmin code per subspace —
   a numpy distance matmul per batch, no per-row Python. The codes
   frame is the ONLY thing search scans.
3. SEARCH / ADC: per query build a ``PQ_M x PQ_K`` lookup table of
   subspace dot products (driver math, tiny), ship it by value, and
   score every code row with table lookups — asymmetric distance
   computation: approximate dot(q, x) = sum_j LUT[j][code_j]. The top
   corpus-relative shortlist per query by approximate score (see
   ``PQ_SHORTLIST_FRAC``), then an EXACT cosine rerank over just the
   shortlist (broadcast semi join back to the raw embeddings) yields
   the final top-k, so emitted similarities are bit-identical to brute
   force for every survivor.

At 100 TB this composes with ``IvfIndex``: codes live next to the cell
partitioning (IVF-PQ), a query reads the probed cells' code files
(~0.1% of an already-32x-smaller table) and reranks a few hundred raw
vectors. Registered rows-only (the codebook/assignment pipeline is
engine-side math, like sim4/sim8); tests gate recall@{TOP_K} against
the sim1 brute-force oracle and pin encode determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sfguide_getting_started_openflow_postgresql_cdc_spark.cache import memo
from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.registry import query
from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.similarity import (
    N_QUERIES,
    TOP_K,
    arrow_dot,
    arrow_norm,
)
from sfguide_getting_started_openflow_postgresql_cdc_spark.sources.loader import load_table

PQ_M = 8  # subspaces (64-dim testdata -> 8 dims per subspace)
PQ_K = 256  # codes per subspace codebook (8-bit codes, the PQ standard)
PQ_LLOYD_ITERS = 5
PQ_SAMPLE = 512
# ADC shortlist reranked exactly, per query: corpus-RELATIVE (the
# ann_auto convention — a fixed count means a different recall at every
# scale). 8% of the corpus with a 100-row floor holds recall@10 >= 0.8
# on the testdata embeddings, which are near-random — PQ's worst case
# (real embedding clouds cluster, shrinking quantization error); the
# fraction is the recall/compute knob a deployment tunes down as
# structure improves.
PQ_SHORTLIST_FRAC = 0.08
PQ_SHORTLIST_MIN = 100


def train_pq_codebooks(sample, m: int = PQ_M, k: int = PQ_K,
                       iters: int = PQ_LLOYD_ITERS):
    """Per-subspace k-means codebooks over a (hash-ordered) sample of
    raw vectors. Vectors are L2-normalized FIRST (cosine contract: the
    ADC score approximates the dot of normalized vectors), then each
    subspace runs ``iters`` deterministic Lloyd passes in float64 —
    first-k init over the hash-ordered sample, empty clusters keep
    their previous centroid, numpy argmin breaks ties by first index.
    Returns an (m, k, dim/m) float64 array; driver-side math on a tiny
    matrix, exactly like ``train_ivf_centroids``."""
    import numpy as np

    X = np.asarray(sample, dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by {m} subspaces")
    ds = d // m
    k = min(k, X.shape[0])  # a codebook can't exceed its training set
    books = np.empty((m, k, ds), dtype=np.float64)
    for j in range(m):
        sub = X[:, j * ds : (j + 1) * ds]
        cents = sub[:k].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        books[j] = cents
    return books


def pq_code_column(codebooks):
    """Arrow-batched encoder column for an ``embedding`` input: argmin
    code per subspace, a single (rows x k) distance matmul per subspace
    per batch — no per-row Python. The closure ships the codebooks by
    value (plain nested lists — no package refs reach the workers)."""
    cb = [b.tolist() for b in codebooks]

    @F.pandas_udf("array<int>")
    def encode(col):
        import numpy as _np
        import pandas as _pd

        books = [_np.array(b) for b in cb]
        m, ds = len(books), books[0].shape[1]
        mat = _np.stack(col.to_numpy()).astype(_np.float64)
        mat = mat / _np.maximum(
            _np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
        )
        codes = _np.empty((mat.shape[0], m), dtype=_np.int32)
        for j in range(m):
            sub = mat[:, j * ds : (j + 1) * ds]
            # ||s - c||^2 = ||s||^2 - 2 s.c + ||c||^2; argmin needs only
            # the c-dependent terms
            d2 = (books[j] ** 2).sum(axis=1)[None, :] - 2.0 * (sub @ books[j].T)
            codes[:, j] = d2.argmin(axis=1)
        return _pd.Series(list(codes))

    return encode


def pq_encode(emb: DataFrame, codebooks) -> DataFrame:
    """(vec_id, embedding) -> (vec_id, codes array<int>) in one
    Arrow-batched pass (see :func:`pq_code_column`)."""
    return emb.select(
        "vec_id", pq_code_column(codebooks)(F.col("embedding")).alias("codes")
    )


def adc_score(
    codes_df: DataFrame, codebooks, q_rows, with_cell: bool = False
) -> DataFrame:
    """Asymmetric-distance scoring of every (query, code-row) pair:
    builds each query's ``m x k`` lookup table on the driver (tiny),
    ships tables + ids by value, and scores batches with pure table
    lookups — the corpus scan touches ONLY the codes column (plus
    ``cell`` when ``with_cell``, for IVF-PQ probe filtering downstream).
    ``q_rows``: [(query_id, embedding), ...]. Returns (query_id,
    vec_id[, cell], approx_sim).

    Driver-bounded by construction (one table per query lives on the
    driver and ships with the closure) — capped loudly rather than
    silently bottlenecking (r9 verdict task 5)."""
    import numpy as np

    from sfguide_getting_started_openflow_postgresql_cdc_spark.operators.ann_index import (
        MAX_ADC_QUERIES,
    )

    if len(q_rows) > MAX_ADC_QUERIES:
        raise ValueError(
            f"adc_score builds one lookup table per query on the driver "
            f"and is capped at {MAX_ADC_QUERIES} queries "
            f"(got {len(q_rows)}); batch the query set"
        )
    ds = codebooks.shape[2]
    luts, qids = [], []
    for qid, emb in q_rows:
        qv = np.asarray(emb, dtype=np.float64)
        qv = qv / max(np.linalg.norm(qv), 1e-12)
        luts.append(
            np.stack(
                [
                    codebooks[j] @ qv[j * ds : (j + 1) * ds]
                    for j in range(len(codebooks))
                ]
            ).tolist()
        )
        qids.append(int(qid))

    def make_adc(luts, ids, cell):
        def adc(batches):
            import numpy as _np
            import pandas as _pd

            L = _np.array(luts)  # (nq, m, k)
            nq, m, _ = L.shape
            for pdf in batches:
                c = _np.stack(pdf["codes"].to_numpy()).astype(_np.int64)
                n = len(pdf)
                # scores[q, row] = sum_j L[q, j, c[row, j]] — broadcast
                # fancy indexing to (nq, n, m), then reduce the j axis
                scores = L[
                    _np.arange(nq)[:, None, None],
                    _np.arange(m)[None, None, :],
                    c[None, :, :],
                ].sum(axis=2)
                data = {
                    "query_id": _np.repeat(
                        _np.array(ids, dtype=_np.int64), n
                    ),
                    "vec_id": _np.tile(pdf["vec_id"].to_numpy(_np.int64), nq),
                }
                if cell:
                    data["cell"] = _np.tile(
                        pdf["cell"].to_numpy(_np.int32), nq
                    )
                data["approx_sim"] = scores.reshape(-1)
                yield _pd.DataFrame(data)

        return adc

    schema = "query_id long, vec_id long, "
    schema += "cell int, " if with_cell else ""
    schema += "approx_sim double"
    cols = ["vec_id", "codes"] + (["cell"] if with_cell else [])
    return codes_df.select(*cols).mapInPandas(
        make_adc(luts, qids, with_cell), schema=schema
    )


@query("sim12_knn_pq")  # rows-only: codebook training is engine-side
def sim12_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-k search (module docstring): encode once, score codes
    with per-query lookup tables, exact-rerank the per-query shortlist.
    Output schema matches sim1/sim2/sim4 — (query_id, neighbor_id,
    similarity, rank) — and every emitted similarity is the EXACT
    cosine (the approximation only selects the shortlist)."""
    import math

    # the count, sample, encode, and rerank passes all read `emb`: one
    # persisted frame per (session, sf_dir) in the session memo registry
    # (cache.py), freed by its one ``release``
    emb = memo(spark, "sim12_emb", sf_dir, lambda: load_table(spark, sf_dir, "embeddings"))
    n_corpus = emb.count()  # one job; emb persisted for the later passes
    shortlist = max(PQ_SHORTLIST_MIN, math.ceil(n_corpus * PQ_SHORTLIST_FRAC))
    sample = [
        r["embedding"]
        for r in emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(PQ_SAMPLE)
        .collect()
    ]
    books = train_pq_codebooks(sample)
    codes = pq_encode(emb, books)

    q_rows = sorted(
        emb.filter(F.col("vec_id") < N_QUERIES).collect(),
        key=lambda r: r["vec_id"],
    )
    scored = adc_score(
        codes, books, [(r["vec_id"], r["embedding"]) for r in q_rows]
    ).filter(F.col("vec_id") != F.col("query_id"))
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("vec_id")
    )
    short = (
        scored.withColumn("r", F.row_number().over(w_adc))
        .filter(F.col("r") <= shortlist)
        .select("query_id", "vec_id")
    )

    # exact rerank over the shortlist only (bounded: N_QUERIES x
    # shortlist rows join back to their raw vectors)
    # r11 (guide §4.2): the rerank's dot/norm were Catalyst higher-order
    # folds (interpreted per element); the Arrow twins run the same
    # accumulation order over numpy batches — bit-identical (asserted in
    # tests/test_extensions.py::test_arrow_paths_bit_identical_to_folds)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        arrow_norm(F.col("embedding")).alias("qn"),
    )
    sim = arrow_dot(F.col("embedding"), F.col("qv")) / (
        arrow_norm(F.col("embedding")) * F.col("qn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("similarity").desc(), F.col("neighbor_id")
    )
    return (
        emb.join(F.broadcast(short), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            sim.alias("similarity"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )

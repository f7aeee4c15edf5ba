"""Similarity search over embedding columns (array<float>).

Search paths, all returning (q_id, c_id, rank, cos) top-k rows per query:

- brute force: exact cosine, ONE Arrow pass over the corpus with the
  collected query matrix in the closure;
- IVF (in memory, ``ivf_topk``, or persisted, ``ivf_search_indexed``):
  queries probe only their nprobe nearest k-means buckets;
- sign-LSH: candidates share a random-hyperplane bucket with the query;
- PQ and IVF-PQ (in memory, or persisted via ``build_ivfpq_index``): ADC
  scores from per-query lookup tables, a k*cand_mult candidate cut, then an
  exact cosine re-rank.

Every numpy-side path shares one set of kernels, so their arithmetic cannot
drift apart: ``_cos_rows`` (the float64 einsum cosine, zero norms score 0.0,
never NaN), ``_nearest`` (the subspace L2 encode), ``_train_books``
(maximin init + fixed Lloyd iterations per subspace), ``_adc`` and
``_ivfpq_slices`` (the IVF-PQ per-centroid-slice ADC), ``_topn`` (the
per-batch cut, ties to the lower id).  Query sets come through one loader,
``_load_queries``.

Contract of every search path:

- ids: ``q_id``/``c_id`` keep the input id column's type (long, string,
  decimal, ...), taken from the input schemas;
- an empty query set returns an empty DataFrame with the normal schema;
- NULL vectors: brute force keeps NULL queries and corpus rows, which
  score NULL and rank last; IVF probes a NULL query's first nprobe centroid
  ids and scores it NULL; PQ, IVF-PQ and LSH drop NULL queries and corpus
  rows.

Centroids and codebooks are deterministic: trained on a bounded,
hash-ordered sample driver-side (the standard IVF practice — index
libraries train coarse quantizers on a sample, never the corpus), maximin
init + fixed Lloyd iterations in numpy.  No runtime randomness anywhere, so
results are reproducible and oracle-checkable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def _dot_expr(a, b) -> F.Column:
    # cast each element to double BEFORE multiplying: float32 accumulation
    # is engine-dependent; double accumulation in element order is exactly
    # the same everywhere (and matches the DuckDB oracle bit-for-bit).
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def cosine_expr(a, b) -> F.Column:
    """Pure-JVM-expression cosine.  Correct but SLOW at volume: zip_with /
    aggregate are CodegenFallback — interpreted per element — and measured
    wall time on the same plan varied 40x with JIT profile luck.  Kept for
    tests and tiny inputs; the operators below use the Arrow-vectorized
    pandas_udf, which is the right shape for dense math at 100 TB.

    Zero-norm guard: a zero vector's cosine is defined as 0, never NaN —
    NaN compares GREATER than everything in Spark ordering, so an unguarded
    failed-embedding row would rank first in every top-k and pass every
    >= threshold filter."""
    den = F.sqrt(_dot_expr(a, a)) * F.sqrt(_dot_expr(b, b))
    return F.when(den > 0, _dot_expr(a, b) / den).otherwise(F.lit(0.0))


# DoubleType() instance (not the "double" DDL string): string return types
# are parsed through the active SparkSession, which does not exist yet at
# import time — a DataType instance keeps module import session-free.
@pandas_udf(DoubleType())
def _cosine_pudf(a: pd.Series, b: pd.Series) -> pd.Series:
    # Arrow hands each array column as a Series of np arrays; stacking gives
    # (batch, dim) matrices and one einsum per batch does all the dots.
    # NULL embeddings yield NULL (not a stage-killing np.stack crash); zero
    # vectors yield 0.0, never NaN (NaN sorts above everything in Spark).
    valid = (a.notna() & b.notna()).to_numpy()
    out = np.full(len(a), np.nan)  # NaN -> Arrow null -> Spark NULL
    if valid.any():
        out[valid] = _cos_rows(
            np.stack(a[valid].to_numpy()).astype(np.float64),
            np.stack(b[valid].to_numpy()).astype(np.float64),
        )
    return pd.Series(out)


def cosine(a, b) -> F.Column:
    return _cosine_pudf(a, b)


# ---- shared numpy kernels: every ANN path computes through these ----


def _norms(x: np.ndarray) -> np.ndarray:
    return np.sqrt(np.einsum("ij,ij->i", x, x))


def _cos_rows(a: np.ndarray, b: np.ndarray, nb: np.ndarray | None = None) -> np.ndarray:
    """Row-wise float64 cosine of matched rows: one einsum for the dots, one
    per side for the norms (``nb``: b's norms, when the caller reuses them
    across queries).  A zero norm scores 0.0, never NaN."""
    num = np.einsum("ij,ij->i", a, b)
    den = _norms(a) * (_norms(b) if nb is None else nb)
    return np.where(den > 0, num / np.where(den > 0, den, 1.0), 0.0)


def _unit(x: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(x, axis=1, keepdims=True)
    return x / np.where(n > 0, n, 1.0)


def _topn(s: np.ndarray, ids: np.ndarray, n: int) -> np.ndarray:
    """Column order of each row's top ``n`` scores, ties to the lower id.
    A per-batch (or per-slice) top cut is batch-boundary independent: any
    global top-n row ranks <= n inside its own batch."""
    return np.lexsort((np.broadcast_to(ids, s.shape), -s), axis=1)[:, :n]


def _nearest(xs: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """Nearest codeword per row by L2: argmin ||x-c||^2 = ||x||^2 - 2 x.c
    + ||c||^2, one GEMM instead of an O(n*k*d) broadcast-subtract temporary
    (ties -> lowest code, the np.argmin contract)."""
    return np.argmin(-2.0 * (xs @ cb.T) + (cb**2).sum(axis=1), axis=1)


def _pq_codes(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, m) int32 codes: each contiguous subvector's nearest codeword."""
    m, _ks, dsub = books.shape
    codes = np.empty((len(x), m), dtype=np.int32)
    for j in range(m):
        codes[:, j] = _nearest(x[:, j * dsub : (j + 1) * dsub], books[j])
    return codes


def _train_books(x: np.ndarray, m: int, ksub: int, iters: int = 8) -> np.ndarray:
    """Per-subspace L2 k-means codebooks (m, ksub, dim//m): maximin init
    from row 0 of the hash-ordered sample, then a fixed Lloyd count; empty
    cells keep their codeword.  No seeds — bit-identical every run."""
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    ks = min(ksub, len(x))
    books = np.empty((m, ks, dsub))
    for j in range(m):
        xs = x[:, j * dsub : (j + 1) * dsub]
        chosen = [0]
        d2 = ((xs - xs[0]) ** 2).sum(axis=1)
        for _ in range(1, ks):
            nxt = int(np.argmax(d2))
            chosen.append(nxt)
            d2 = np.minimum(d2, ((xs - xs[nxt]) ** 2).sum(axis=1))
        cb = xs[chosen].copy()
        for _ in range(iters):
            assign = _nearest(xs, cb)
            for c in range(ks):
                members = xs[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        books[j] = cb
    return books


def _luts(qn: np.ndarray, books: np.ndarray) -> np.ndarray:
    """ADC lookup tables: LUT[j] is the (nq, ksub) dot products of each unit
    query's subvector j with codebook j's entries."""
    m, _ks, dsub = books.shape
    return np.stack(
        [qn[:, j * dsub : (j + 1) * dsub] @ books[j].T for j in range(m)]
    )


def _adc(lut: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """(nq, n) approximate dot products: sum_j LUT[j][:, codes[:, j]]."""
    s = lut[0][:, codes[:, 0]]
    for j in range(1, len(lut)):
        s = s + lut[j][:, codes[:, j]]
    return s


def _ivfpq_codes(x: np.ndarray, cents: np.ndarray, books: np.ndarray):
    """IVF-PQ encode of raw vectors: nearest (unit) centroid, then the PQ
    codes of the unit vector's residual from it."""
    xn = _unit(x)
    cid = np.argmax(xn @ cents.T, axis=1)
    return cid, _pq_codes(xn - cents[cid], books)


def _ivfpq_tables(Q: np.ndarray, cents: np.ndarray, books: np.ndarray, nprobe: int):
    """Query side of IVF-PQ: (sim_qc, probing, lut).  sim_qc is the
    query.centroid term of every score, probing maps each centroid to the
    query rows that probe it (their nprobe nearest), lut the ADC tables."""
    qn = _unit(Q)
    sim_qc = qn @ cents.T
    order = np.argsort(-sim_qc, axis=1)[:, : min(nprobe, len(cents))]
    probing = {
        c: np.nonzero((order == c).any(axis=1))[0] for c in range(len(cents))
    }
    return sim_qc, probing, _luts(qn, books)


def _ivfpq_slices(cids, ids, codes, tables, top: int):
    """ADC-score each same-centroid slice of a batch against the queries
    probing it, score = q.(centroid + residual), and cut each slice to its
    top ``top`` per query.  Yields (query rows, batch rows, adc) per slice.
    Any split into slices gives the same final result (the _topn argument)."""
    sim_qc, probing, lut = tables
    for c in np.unique(cids):
        qi = probing.get(int(c))
        if qi is None or not len(qi):
            continue
        sel = np.nonzero(cids == c)[0]
        s = _adc(lut[:, qi], codes[sel]) + sim_qc[qi, int(c)][:, None]
        o = _topn(s, ids[sel], top)
        yield (
            np.repeat(qi, o.shape[1]),
            sel[o.ravel()],
            np.take_along_axis(s, o, axis=1).ravel(),
        )


# ---- query sets and result windows shared by every search path ----


def _query_frame(
    queries: DataFrame, id_col: str, vec_col: str, keep_null: bool = False
) -> DataFrame:
    q = queries if keep_null else queries.filter(F.col(vec_col).isNotNull())
    return q.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))


def _stack_queries(rows, dim: int = 0):
    """Collected (q_id, q_vec) rows -> (ids, Q, ok).  ``ids`` keep the id
    column's values (Arrow converts them back to its type); ``Q`` is the
    float64 (nq, dim) matrix with NaN rows for NULL vectors, which ``ok``
    marks False.  An empty set gives a (0, dim) matrix."""
    ids = np.array([r.q_id for r in rows])
    ok = np.array([r.q_vec is not None for r in rows], dtype=bool)
    vecs = [r.q_vec for r in rows if r.q_vec is not None]
    Q = np.full((len(rows), len(vecs[0]) if vecs else dim), np.nan)
    if vecs:
        Q[ok] = vecs
    return ids, Q, ok


def _load_queries(
    queries: DataFrame, id_col: str, vec_col: str, dim: int = 0,
    keep_null: bool = False,
):
    """Collect the query set driver-side in one job (see _stack_queries).
    NULL vectors are dropped unless ``keep_null``."""
    return _stack_queries(
        _query_frame(queries, id_col, vec_col, keep_null).collect(), dim
    )


def _corpus_pass(
    emb: DataFrame, id_col: str, vec_col: str, n: int | None, nq: int,
    schema, score, keep_null: bool = False,
) -> DataFrame:
    """ONE mapInPandas pass over the (c_id, c_vec) corpus rows:
    ``score(ids, vecs)`` turns each Arrow batch into candidate frames
    against the query matrix held in its closure; self-matches are dropped.
    With no queries the corpus is cut to zero rows — same plan and schema,
    nothing scored."""
    c = emb if keep_null else emb.filter(F.col(vec_col).isNotNull())
    c = _spread(
        c.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")),
        "c_id",
        n,
    )
    if not nq:
        c = c.limit(0)

    def _scan(batches):
        for pdf in batches:
            if len(pdf):
                yield from score(pdf["c_id"].to_numpy(), pdf["c_vec"].to_numpy())

    return c.mapInPandas(_scan, schema=schema).filter(F.col("q_id") != F.col("c_id"))


def _pair_schema(queries: DataFrame, emb: DataFrame, id_col: str, *scores: str):
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("q_id", queries.schema[id_col].dataType),
            T.StructField("c_id", emb.schema[id_col].dataType),
        ]
        + [T.StructField(s, T.DoubleType()) for s in scores]
    )


def _top_k(scored: DataFrame, k: int, c_col: str = "c_id") -> DataFrame:
    """The final ranking every path ends with: per q_id, cos desc (NULLS
    LAST), ties to the lower candidate id."""
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col(c_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col(c_col).alias("c_id"), "rank", F.round("cos", 6).alias("cos"))
    )


def _adc_cut(adc: DataFrame, k2: int) -> DataFrame:
    """Global candidate cut to the k2 best ADC scores per query.  Followed
    by _top_k's exact re-rank, both windows are q_id-partitioned, so they
    share ONE Exchange."""
    wa = W.partitionBy("q_id").orderBy(F.col("adc").desc(), F.col("c_id"))
    return adc.withColumn("rn", F.row_number().over(wa)).filter(F.col("rn") <= k2)


def _spread(
    df: DataFrame, id_col: str, n: int | None, rows_per_task: int = 2000
) -> DataFrame:
    """Spread a corpus DataFrame ahead of a compute-bound Python scan when
    the scan is starved for parallelism — sized by DATA, never by core
    count alone.

    Why (r15): the driver's fixture embeddings are 1-2 parquet files (one
    row group each — unsplittable), so every mapInPandas/Arrow pass over
    them ran as 1-2 TASKS regardless of core count — PERF_r14's scaling
    block read ~1.0 for the whole ANN family at 8 vs 32 cores because the
    corpus scans were single-task, and the pinned sf1 fixture made
    sim_pq_topk/sim_brute_force 4-6x slower than their probe-normalized
    expectation.  The dedup module has spread its doc scans this way since
    r2 (dedup._repartitioned).

    Sizing: target = ceil(n / rows_per_task) capped at the configured
    parallelism — ~2000-row slices amortize the per-task Arrow + numpy
    fixed costs (a measured spread-to-32 of a 2000-row corpus LOST 15-25%
    at sf0.1: 62-row batches are all overhead).  Callers pass ``n`` from
    catalog stats / parquet footers (the registry wrappers do); with n
    unknown the input is left alone — no surprise shuffles for library
    callers or tiny test fixtures.  When the scan already has >= target
    partitions (the 100 TB case: thousands of files) this is a no-op, so
    the shuffle only ever exists where the file layout starves the scan
    (guide §2: scale-adaptive partitioning, not a constant tuned for one
    mode).  Row-level results are unaffected: every consumer is either
    per-row (encode/bucketize/assign) or a per-batch top-cut proven
    batch-boundary-independent."""
    from tensorbase_spark.session import default_parallelism

    if n is None:
        return df
    target = min(default_parallelism(), max(1, -(-int(n) // rows_per_task)))
    if target <= 1 or df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(id_col))


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: every query x corpus pair, ranked per query.

    r15: ONE mapInPandas over the corpus with the collected query matrix
    in the closure, emitting each Arrow batch's top-(k+1) rows per query
    (the +1 absorbs a query matching itself; any global top-k row ranks
    <= k+1 inside its own batch, so the cut is batch-boundary
    independent).  The r14 shape crossJoined corpus x broadcast(queries)
    and scored the PAIR stream through a pandas UDF — n·nq materialized
    JVM rows and every corpus vector crossing the Python boundary nq
    times (at sf1: 4M pair rows ~ 4 GB of duplicated vectors through
    Arrow).  Now the corpus crosses ONCE and the window input is
    batches x nq x (k+1) skinny rows.  The per-pair arithmetic is
    _cos_rows, the kernel _cosine_pudf uses too — per-row reductions are
    independent of batch composition, so scores are bit-identical
    (verified old-vs-new at sf0.01/sf0.1 + the SQL oracle hash).
    NULL semantics preserved exactly: a NULL query or corpus vector
    scores NaN -> Arrow null -> Spark NULL, which sorts NULLS LAST under
    cos DESC with the c_id tiebreak — np.lexsort places NaN last the
    same way."""
    q_ids, Q, ok = _load_queries(queries, id_col, vec_col, keep_null=True)

    def _score(ids, raw):
        valid = np.array([v is not None for v in raw])
        s = np.full((len(q_ids), len(ids)), np.nan)
        if valid.any():
            X = np.stack(raw[valid]).astype(np.float64)
            nx = _norms(X)  # once per batch, shared by every query
            for qi in np.nonzero(ok)[0]:
                s[qi, valid] = _cos_rows(np.broadcast_to(Q[qi], X.shape), X, nx)
        order = _topn(s, ids, k + 1)  # +1 absorbs a query matching itself
        yield pd.DataFrame(
            {
                "q_id": np.repeat(q_ids, order.shape[1]),
                "c_id": ids[order.ravel()],
                "cos": np.take_along_axis(s, order, axis=1).ravel(),
            }
        )

    scored = _corpus_pass(
        emb, id_col, vec_col, n, len(q_ids),
        _pair_schema(queries, emb, id_col, "cos"), _score, keep_null=True,
    )
    return _top_k(scored, k)


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> DataFrame:
    """Embedding-space benchmark-leak scan: corpus items whose embedding is
    near-identical (cosine >= threshold) to any benchmark item — catches the
    paraphrased/reformatted contamination the n-gram scan misses.

    Exact, not bucketed: benchmarks are tiny relative to a 100 TB corpus,
    so the right plan is broadcast(benchmark) x streaming corpus — a
    map-side Arrow-batched cosine with NO shuffle of the corpus at all
    (same shape as brute_force_topk).  If the benchmark side ever outgrows
    the broadcast threshold, swap the benchmark side into the IVF index and
    probe per corpus row."""
    c = _spread(
        corpus.select(
            F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("c_vec")
        ),
        "corpus_id",
        n,
    )
    b = benchmark.select(
        F.col(id_col).alias("bench_id"), F.col(vec_col).alias("b_vec")
    )
    return (
        c.crossJoin(F.broadcast(b))
        .withColumn("cos", cosine(F.col("c_vec"), F.col("b_vec")))
        .filter(F.col("cos") >= threshold)
        .select(
            "corpus_id", "bench_id", F.round("cos", 6).alias("cos")
        )
    )


def _collect_training_sample(
    emb: DataFrame, id_col: str, vec_col: str, sample_size: int = 4096
) -> np.ndarray:
    """The bounded hash-ordered training sample as a UNIT-NORMALIZED
    (n, dim) float64 matrix — one collect job, shared by every trainer
    that needs the same sample (r14: IVF-PQ used to collect the identical
    rows twice, once for coarse centroids and once for residual
    codebooks)."""
    sample = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.col("i").cast("string")), F.col("i"))
        .limit(sample_size)
        .collect()
    )
    x = np.array([r.v for r in sample], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    return x / np.where(norms > 0, norms, 1.0)


def _train_centroids_np(
    emb: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    sample_size: int = 4096,
    iters: int = 5,
    x: np.ndarray | None = None,
) -> np.ndarray:
    """Numpy core of train_centroids: deterministic spherical k-means on the
    hash-ordered bounded sample.  Returns a (k, dim) unit-row matrix."""
    if x is None:
        x = _collect_training_sample(emb, id_col, vec_col, sample_size)
    k = min(n_centroids, len(x))
    # maximin init: start from row 0 (hash-ordered, so pseudo-random), then
    # repeatedly take the point least similar to its nearest chosen centroid
    chosen = [0]
    best_sim = x @ x[0]
    for _ in range(1, k):
        nxt = int(np.argmin(best_sim))
        chosen.append(nxt)
        best_sim = np.maximum(best_sim, x @ x[nxt])
    cents = x[chosen].copy()
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)  # argmax -> lowest index on ties
        for c in range(k):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return cents


def train_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    iters: int = 5,
) -> DataFrame:
    """Deterministic spherical k-means coarse quantizer.

    Training runs driver-side on a BOUNDED sample (at most ``sample_size``
    rows — the FAISS/IVF convention; at 100 TB you never Lloyd-iterate the
    corpus, you train the quantizer on ~100k sampled vectors and broadcast
    it).  Determinism, with no seeds: the sample is the ``sample_size``
    lowest md5(id) rows (a uniform but reproducible pseudo-sample), init is
    maximin/farthest-point, ties break on the lowest index, and the Lloyd
    iteration count is fixed.  Empty clusters keep their previous centroid.

    Returns a tiny (n_centroids)-row DataFrame (centroid_id, cent_vec) meant
    to be broadcast."""
    cents = _train_centroids_np(emb, n_centroids, id_col, vec_col, sample_size, iters)
    return _centroid_frame(emb.sparkSession, cents, range(len(cents)))


def _centroid_frame(spark, cents: np.ndarray, ids) -> DataFrame:
    """The tiny broadcastable (centroid_id, cent_vec) table."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("centroid_id", T.LongType(), False),
            T.StructField("cent_vec", T.ArrayType(T.DoubleType()), False),
        ]
    )
    return spark.createDataFrame(
        [(int(i), [float(v) for v in c]) for i, c in zip(ids, cents)], schema
    )


def _assign_multi(
    emb: DataFrame,
    cents: DataFrame,
    probes: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Assign every vector to its ``probes`` nearest centroids (multi-probe).

    The centroid matrix rides INSIDE an Arrow-batched UDF (the same shape
    the r7 fix gave embedding_near_dup_pairs._probe_ids): one corpus pass,
    one GEMM per batch, n x probes output rows — never the old
    crossJoin+window, which materialized n x k (vector, centroid) ROWS and
    went quadratic once auto-sized k started growing with n (r8 sf10 sweep:
    200k vectors x 196 centroids = 39M wide rows stalled the stage; this
    pass finishes in seconds).  Ranking is identical to the old window —
    cosine desc, centroid_id asc — because centroid rows are unit vectors,
    so per-vector dot order == cosine order; NULL/zero vectors score 0
    against every centroid and fall to the lowest centroid ids, exactly the
    old NULLS-LAST + tie-break outcome."""
    rows = cents.orderBy("centroid_id").collect()
    C = np.array([r.cent_vec for r in rows], dtype=np.float64)
    ids = np.array([r.centroid_id for r in rows], dtype=np.int64)
    return _assign_multi_np(emb, C, ids, probes, id_col, vec_col)


def _assign_multi_np(
    emb: DataFrame,
    C: np.ndarray,
    ids: np.ndarray,
    probes: int,
    id_col: str,
    vec_col: str,
    n: int | None = None,
) -> DataFrame:
    """Numpy-core of _assign_multi: callers that already hold the centroid
    matrix driver-side (they just trained it) skip the DataFrame
    round-trip collect job (r14)."""
    n_probe = min(probes, len(ids))

    from pyspark.sql import types as T

    @pandas_udf(T.ArrayType(T.LongType()))
    def _top(v: pd.Series) -> pd.Series:
        vals = [
            np.zeros(C.shape[1]) if x is None else np.asarray(x, dtype=np.float64)
            for x in v
        ]
        if not vals:
            return pd.Series([], dtype=object)
        order = _topn(np.stack(vals) @ C.T, ids, n_probe)
        return pd.Series([ids[t].tolist() for t in order])

    return _spread(
        emb.select(F.col(id_col).alias("v_id"), F.col(vec_col).alias("v_vec")),
        "v_id",
        n,
    ).select(
        "v_id", "v_vec", F.explode(_top(F.col("v_vec"))).alias("centroid_id")
    )


def assign_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF bucketing: deterministic k-means centroids (train_centroids);
    every vector is assigned to its nearest centroid by cosine.

    Returns (centroids, assigned) where assigned has centroid_id per row.
    One broadcast join + one window — a single pass over the corpus."""
    # train once, keep the matrix: building the centroid DataFrame AND
    # collecting it back (the pre-r14 shape) paid a scheduled job just to
    # round-trip numpy -> DataFrame -> numpy
    cents_np = _train_centroids_np(emb, n_centroids, id_col, vec_col)
    cents = _centroid_frame(emb.sparkSession, cents_np, range(len(cents_np)))
    assigned = _assign_multi_np(
        emb,
        cents_np,
        np.arange(len(cents_np), dtype=np.int64),
        1,
        id_col,
        vec_col,
        n=n,
    )
    return cents, assigned


def auto_n_centroids(n: int, target_bucket: int, floor: int = 16, probes: int = 1) -> int:
    """Corpus-derived centroid count: hold expected bucket size
    (n x probes / k) at ``target_bucket`` so per-bucket quadratic work is
    constant and total work is linear in n (the r7 sweep fix, PLANS §17).
    The floor preserves small-fixture layouts that recall tests pin."""
    return max(floor, -(-n * probes // max(1, target_bucket)))


def auto_n_bits(n: int, target_bucket: int, min_bits: int = 10) -> int:
    """Corpus-derived LSH width: ceil(log2(n / target_bucket)) with a
    fixture-preserving floor — expected bucket size n / 2^bits stays at or
    under ``target_bucket`` once n clears the floor's capacity."""
    ratio = max(2, -(-n // max(1, target_bucket)))
    return max(min_bits, (ratio - 1).bit_length())


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int | None = None,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
    target_bucket: int = 1024,
) -> DataFrame:
    """Approximate top-k: probe the nprobe nearest centroid buckets only.

    Join order: query -> its nprobe centroids -> only matching corpus
    buckets.  The corpus-side join key is centroid_id, so Catalyst prunes
    all other buckets before any dot product runs.

    ``n_centroids`` defaults to ceil(n / target_bucket), floor 16 — the
    same corpus-derived sizing that fixed the r7 embedding-near-dup
    quadratic (the r7 sweep measured the FIXED-16 default at 4.85x per 10x
    data: per-query candidates grow with bucket size; auto-scaled, bucket
    size — and so per-query probe cost — stays constant).  The floor keeps
    every fixture SF on the historical 16-centroid layout the recall tests
    pin.  Callers with a known corpus size pass ``n`` to skip the sizing
    count job; the persisted-index twins take nlist as an explicit build
    parameter, which remains the steady-state story."""
    if n_centroids is None:
        if n is None:
            n = emb.count()
        n_centroids = auto_n_centroids(n, target_bucket)
    cents, assigned = assign_centroids(emb, n_centroids, id_col, vec_col, n=n)
    scored = (
        _probe_frame(queries, cents, nprobe, id_col, vec_col)
        .join(assigned, "centroid_id")
        .filter(F.col("q_id") != F.col("v_id"))
        .withColumn("cos", cosine(F.col("q_vec"), F.col("v_vec")))
    )
    return _top_k(scored, k, "v_id")


def _probe_frame(
    queries: DataFrame, cents: DataFrame, nprobe: int, id_col: str, vec_col: str
) -> DataFrame:
    """(q_id, q_vec, centroid_id) for each query's nprobe nearest centroids,
    distributed: crossJoin the broadcast centroid table, rank per query by
    (cos desc, centroid_id asc); a NULL query vector's NULL cosines sort
    last, so it probes the first nprobe centroid ids."""
    q_cent = (
        _query_frame(queries, id_col, vec_col, keep_null=True)
        .crossJoin(F.broadcast(cents))
        .withColumn("cos_c", cosine(F.col("q_vec"), F.col("cent_vec")))
    )
    wq = W.partitionBy("q_id").orderBy(F.col("cos_c").desc(), F.col("centroid_id"))
    return (
        q_cent.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("q_id", "q_vec", "centroid_id")
    )


def _hyperplanes(dim: int, n_bits: int, n_tables: int) -> np.ndarray:
    """Deterministic random hyperplanes for sign-LSH: fixed-seed Gaussian,
    shape (n_tables, n_bits, dim).  No runtime randomness — the same planes
    every run, so results are reproducible."""
    rng = np.random.RandomState(0x5EED)
    return rng.standard_normal((n_tables, n_bits, dim))


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int | None = None,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
    target_bucket: int = 1024,
    min_bits: int = 10,
    probes: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Sign-LSH (random hyperplane) bucketed ANN — the alternative scale
    path to IVF: each vector hashes to one bucket per table (sign bits of
    n_bits hyperplane dot products packed into an int), candidates are
    corpus rows sharing ANY table's bucket with the query (equi-join on
    (table_idx, bucket)), and exact cosine ranks candidates only.

    vs IVF: no training pass at all (planes are data-independent), recall
    tuned by n_tables instead of nprobe, buckets are 2^n_bits per table.
    At 100 TB: one corpus pass computes all signatures (Arrow-batched),
    bucket keys are near-uniform by construction (no centroid skew), and
    the join is the same bounded band-join topology as MinHash.

    ``n_bits`` defaults to ceil(log2(n / target_bucket)), floor ``min_bits``
    (default 10, the historical fixed default): expected bucket size
    n / 2^n_bits — the per-query candidate volume the r7 sweep saw growing
    4.77x per 10x data under a fixed width — stays ~constant, so total
    candidate work stays linear.  A caller tuned for a small fixture layout
    lowers ``min_bits`` to keep that layout below the scaling point.  Pass
    ``n`` when known to skip the sizing count job.

    ``probes`` > 1 turns on QUERY-SIDE MULTI-PROBE (Lv et al., VLDB'07,
    simplified to single-bit flips): each query additionally probes the
    probes-1 Hamming-adjacent buckets whose sign bit had the SMALLEST
    hyperplane margin |w.x| — the buckets its true neighbors most likely
    fell into.  The corpus still hashes to ONE bucket per table, so corpus
    row volume is unchanged; per-query candidate volume is
    probes x n / 2^n_bits per table, which lets n_bits grow (narrower
    buckets, cheaper joins) at the same recall instead of widening
    buckets or adding tables (VERDICT r8 #4).  The auto-width rule
    accounts for it: n_bits defaults to ceil(log2(n x probes /
    target_bucket))."""
    if n_bits is None:
        if n is None:
            n = emb.count()
        n_bits = auto_n_bits(n * max(1, probes), target_bucket, min_bits)
    if dim is None:
        # callers that know the embedding width (fixture metadata, catalog
        # schema) pass ``dim`` and this probe job disappears (r14; it was
        # one scheduled first() job per search)
        dim = len(
            emb.select(vec_col).filter(F.col(vec_col).isNotNull()).first()[0]
        )
    planes = _hyperplanes(dim, n_bits, n_tables)
    powers = 1 << np.arange(n_bits)

    from pyspark.sql import types as T

    sig_schema = T.ArrayType(T.LongType())

    @pandas_udf(sig_schema)
    def _buckets(v: pd.Series) -> pd.Series:
        out = []
        for vec in v:
            if vec is None:
                out.append(None)
                continue
            x = np.asarray(vec, dtype=np.float64)
            bits = (np.einsum("tbd,d->tb", planes, x) > 0).astype(np.int64)
            out.append((bits @ powers).tolist())
        return pd.Series(out)

    n_probes = max(1, min(probes, n_bits if n_bits else 1))

    @pandas_udf(sig_schema)
    def _probe_buckets(v: pd.Series) -> pd.Series:
        # flat array of n_tables x n_probes buckets: for each table the
        # base bucket, then single-bit flips in ascending |margin| order
        out = []
        for vec in v:
            if vec is None:
                out.append(None)
                continue
            x = np.asarray(vec, dtype=np.float64)
            marg = np.einsum("tbd,d->tb", planes, x)
            base = ((marg > 0).astype(np.int64) @ powers)  # (t,)
            flip_order = np.argsort(np.abs(marg), axis=1)  # (t, b)
            buckets = [base]
            for j in range(n_probes - 1):
                buckets.append(base ^ (1 << flip_order[:, j]))
            out.append(np.stack(buckets, axis=1).reshape(-1).tolist())
        return pd.Series(out)

    def bucketize(df: DataFrame, prefix: str, probe: bool) -> DataFrame:
        udf = _probe_buckets if probe else _buckets
        base = df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(vec_col).alias(f"{prefix}_vec"),
        )
        if prefix == "c":  # corpus side: the signature UDF is the hot pass
            base = _spread(base, f"{prefix}_id", n)
        d = base.select(
            f"{prefix}_id",
            f"{prefix}_vec",
            F.posexplode(udf(F.col(f"{prefix}_vec"))).alias("pos", "bucket"),
        )
        per_table = n_probes if probe else 1
        return d.select(
            f"{prefix}_id",
            f"{prefix}_vec",
            (F.col("pos") / per_table).cast("int").alias("table_idx"),
            "bucket",
        )

    c = bucketize(emb, "c", probe=False)
    q = bucketize(queries, "q", probe=n_probes > 1)
    # NOTE (r14, measured): scoring BEFORE the pair dedup (to shuffle
    # skinny (q_id, c_id, cos) rows instead of vector payloads) was tried
    # and REVERTED — a close pair co-occurs in up to n_tables x probes
    # buckets, so pre-dedup scoring multiplied the Arrow cosine rows by
    # the duplication factor and lost ×1.32 at sf0.1 (control-normalized
    # A/B).  Dedup-then-score stays the right order; at 100 TB the
    # payload-shuffle concern is answered by PQ/IVF codes, not by
    # reordering this plan.
    cand = (
        q.join(c, ["table_idx", "bucket"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "q_vec", "c_id", "c_vec")
        .dropDuplicates(["q_id", "c_id"])
    )
    return _top_k(cand.withColumn("cos", cosine(F.col("q_vec"), F.col("c_vec"))), k)


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    probes: int = 8,
    exact: bool = False,
    target_bucket: int = 4096,
    n: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos) with
    cos >= threshold and id_a < id_b.

    Default path is BUCKETED, never all-pairs: every vector is multi-probe
    assigned to its ``probes`` nearest k-means centroids (one Arrow pass,
    centroid matrix in the UDF closure — no crossJoin, no ranking window),
    then each bucket scores ITSELF with one blocked float64 GEMM inside
    ``applyInPandas`` and emits only pairs already >= threshold.  The only
    corpus shuffle is the groupBy(centroid_id) Exchange carrying
    n x probes vector rows; qualifying pairs (tiny by definition) are
    deduped after.  Compare the r2 shape — equi-join building EVERY
    candidate pair row (vectors duplicated per pair) and scoring them one
    Arrow batch at a time — which at sf0.1 moved ~2 GB of vector pairs for
    a 2000-vector corpus: 11.1 s -> this plan 0.9 s, same results.

    The quadratic term is bounded by bucket size, GEMM-at-C-speed per
    bucket — and the bucket size is now held CONSTANT as the corpus grows:
    ``n_centroids`` defaults to ceil(n x probes / target_bucket) with a
    floor of 16, so total GEMM work stays linear in n (the round-7 sf1
    sweep caught the fixed-16 default going quadratic: 8.1x time at 10x
    data; auto-scaled, the same sweep is linear — PLANS.md §17).  The
    floor keeps every fixture SF on the exact historical 16-bucket layout,
    where 8 probes hold 100% recall at the test threshold 0.4 on all three
    fixture SFs — far below any real near-dup bar, so it needs more probes
    than production would — verified exhaustively against the exact path
    in tests and against the all-pairs DuckDB oracle at sf0.1.  At 100 TB
    pass probes 2-4 at production thresholds ~0.95 and let n_centroids
    scale (65k centroids for ~10^10 docs).
    A skewed bucket is one task but constant memory: the GEMM is chunked
    1024 rows at a time.

    ``exact=True`` is the all-pairs baseline used only as the small-N test
    oracle."""
    if exact:
        a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
        b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
        pairs = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
        scored = pairs.withColumn(
            "cos", cosine(F.col("vec_a"), F.col("vec_b"))
        ).filter(F.col("cos") >= threshold)
        return scored.select("id_a", "id_b", F.round("cos", 6).alias("cos"))

    from pyspark.sql import types as T

    if n_centroids is None:
        # hold the expected bucket size (n x probes / k) at target_bucket
        # so per-bucket GEMM work — the only quadratic term — is constant
        # and total work is linear in corpus size.  Callers that know the
        # corpus size (catalog stats, parquet footers) pass ``n`` and the
        # sizing count job disappears from the hot path (ADVICE r7 nit /
        # VERDICT r7 #2 — the count was the r7 bench regression).
        if n is None:
            n = emb.count()
        n_centroids = auto_n_centroids(n, target_bucket, probes=probes)
    cents = _train_centroids_np(emb, n_centroids, id_col, vec_col)
    k = len(cents)
    n_probe = min(probes, k)

    @pandas_udf(T.ArrayType(T.LongType()))
    def _probe_ids(v: pd.Series) -> pd.Series:
        # top-`n_probe` centroids by cosine, ties to the lowest centroid_id —
        # identical ranking to the r2 window (cosine desc, centroid_id asc):
        # centroid rows are unit vectors, so dot order == cosine order per v.
        X = np.stack(v.to_numpy()).astype(np.float64)
        top = _topn(X @ cents.T, np.arange(k), n_probe)
        return pd.Series(list(top.astype(np.int64)))

    assigned = _spread(
        emb.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("v_id"), F.col(vec_col).alias("v_vec")
        ),
        "v_id",
        n,
    ).select(
        "v_id", "v_vec", F.explode(_probe_ids(F.col("v_vec"))).alias("centroid_id")
    )

    id_type = emb.schema[id_col].dataType
    pair_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cos", T.DoubleType()),
        ]
    )
    thr = float(threshold)

    def _score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["v_id"].to_numpy()
        X = np.stack(pdf["v_vec"].to_numpy()).astype(np.float64)
        norms = _norms(X)
        safe = np.where(norms > 0, norms, 1.0)
        m = len(ids)
        out_a, out_b, out_c = [], [], []
        step = 1024  # chunked GEMM: memory ~ step x m doubles, skew-safe
        for s in range(0, m, step):
            e = min(s + step, m)
            C = (X[s:e] @ X.T) / (safe[s:e, None] * safe[None, :])
            C[(norms[s:e] == 0)[:, None] | (norms == 0)[None, :]] = 0.0
            ii, jj = np.nonzero(C >= thr)
            ga, gb = ids[s + ii], ids[jj]
            keep = ga < gb
            out_a.append(ga[keep])
            out_b.append(gb[keep])
            out_c.append(C[ii, jj][keep])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else [],
                "id_b": np.concatenate(out_b) if out_b else [],
                "cos": np.concatenate(out_c) if out_c else [],
            }
        )

    # a pair probing p shared buckets appears p times with bit-identical cos
    # (same float ops on the same vectors); dedup the skinny pair rows
    return (
        assigned.groupBy("centroid_id")
        .applyInPandas(_score_bucket, schema=pair_schema)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def label_knn_classify(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n: int | None = None,
) -> DataFrame:
    """kNN majority-vote over the label column — the standard embedding
    quality probe for a training-data pipeline."""
    q = _query_frame(queries, id_col, vec_col, keep_null=True)
    c = _spread(
        emb.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"),
            F.col(label_col).alias("c_label"),
        ),
        "c_id",
        n,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("cos", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    top = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    votes = top.groupBy("q_id", "c_label").agg(F.count("*").alias("votes"))
    wv = W.partitionBy("q_id").orderBy(F.col("votes").desc(), F.col("c_label"))
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("q_id", F.col("c_label").alias("pred_label"), "votes")
    )


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = 127 / max|v|,
    q_i = round(v_i * scale).

    This is the standard shuffle-volume lever for 100 TB similarity work:
    int8 vectors cut every exchange, broadcast, and cache 4x vs float32 at
    ~1% cosine error.  Pure higher-order-function expressions (transform /
    array_max / aggregate) — JVM codegen, no Python."""
    v = F.col(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.lit(127.0) / F.greatest(absmax.cast("double"), F.lit(1e-12))
    q = F.transform(v, lambda x: F.round(x.cast("double") * scale).cast("int"))
    return emb.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + F.abs(x)).alias("q_l1"),
        F.array_max(q).alias("q_max"),
        F.size(F.filter(q, lambda x: (x == 127) | (x == -127))).alias("n_sat"),
    )


def build_ivf_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> None:
    """Persist an IVF index: vectors written as parquet PARTITIONED BY
    centroid_id, centroids as a side table.  This is the storage layout that
    makes ANN work at 100 TB — a probe reads only nprobe/nlist of the corpus
    via *directory-level partition pruning*, before parquet even opens a
    footer.  Rebuild is a single pass (one broadcast join + window)."""
    cents, assigned = assign_centroids(emb, n_centroids, id_col, vec_col, n=n)
    assigned.select(
        F.col("v_id").alias(id_col), F.col("v_vec").alias(vec_col), "centroid_id"
    ).write.mode("overwrite").partitionBy("centroid_id").parquet(f"{path}/vectors")
    cents.write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_index_append(
    spark,
    path: str,
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental add to a persisted IVF index (the continuous-ingest
    path): new vectors are assigned to the EXISTING centroids — no
    retrain, the Faiss-style append contract; centroid drift is handled
    by periodic full rebuilds — and appended as NEW files inside their
    centroid partition directories.  Single pass, partition-local
    appends, existing files untouched; searches see the union
    immediately."""
    cents = spark.read.parquet(f"{path}/centroids")
    assigned = _assign_multi(new_vecs, cents, 1, id_col, vec_col)
    assigned.select(
        F.col("v_id").alias(id_col),
        F.col("v_vec").alias(vec_col),
        "centroid_id",
    ).write.mode("append").partitionBy("centroid_id").parquet(
        f"{path}/vectors"
    )


def _read_parquet_local(path: str):
    """A tiny side table read driver-side with pyarrow — a metadata-scale
    read that spends ZERO Spark jobs (r14: the per-search spark.read +
    crossJoin + window + localCheckpoint + distinct-collect chain cost 4
    scheduled jobs per invocation for a table of nlist rows)."""
    import pyarrow.parquet as pq

    return pq.read_table(path)


def ivf_search_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_collect: int = 10000,
) -> DataFrame:
    """Search a persisted IVF index.  The probe set becomes an IN filter on
    the partition column, so the scan shows PartitionFilters and touches only
    the probed directories (asserted in tests/test_plans.py).

    r14: centroids load via pyarrow (no Spark job) and the per-query probe
    ranking runs driver-side over the collected query matrix — the same
    _cos_rows arithmetic `_cosine_pudf` applies, the same (cos desc,
    centroid_id asc) order — replacing a crossJoin+window job, a
    localCheckpoint materialization and a distinct-collect job with one
    numpy pass (guide §1.2 step 1: remove whole jobs before tuning them).
    Equality with the in-memory IVF path stays pinned in tests.

    r15 (VERDICT r14 #6): the driver-side ranking only runs when the query
    set is small enough to collect safely — above ``max_query_collect``
    rows the pre-r14 distributed probe ranking (crossJoin + window over
    broadcast centroids) takes over, so a large query table can never OOM
    the driver.  Both paths produce identical results (pinned in tests:
    the ranking is the same (cos desc, centroid_id asc) order with the
    same NULLS-LAST behavior)."""
    crows = _read_parquet_local(f"{path}/centroids").to_pylist()
    crows.sort(key=lambda r: r["centroid_id"])
    C = np.array([r["cent_vec"] for r in crows], dtype=np.float64)
    cent_ids = np.array([r["centroid_id"] for r in crows], dtype=np.int64)
    vecs = spark.read.parquet(f"{path}/vectors")
    q_ids, Q, ok = _stack_queries(
        _query_frame(queries, id_col, vec_col, keep_null=True)
        .limit(max_query_collect + 1)
        .collect()
    )
    if len(q_ids) > max_query_collect:
        return _ivf_search_indexed_distributed(
            spark, C, cent_ids, vecs, queries, k, nprobe, id_col, vec_col
        )
    n_probe = min(nprobe, len(cent_ids))
    probe_rows = []
    for q_id, qv, valid in zip(q_ids.tolist(), Q, ok):
        if valid:
            cos = _cos_rows(np.broadcast_to(qv, C.shape), C)
            chosen = cent_ids[np.lexsort((cent_ids, -cos))[:n_probe]]
        else:
            # _cosine_pudf yields NULL cosines for a NULL query vector;
            # under (cos desc NULLS LAST, centroid_id asc) that means the
            # first n_probe centroid ids — replicate exactly
            chosen = cent_ids[:n_probe]
        q_vec = qv.tolist() if valid else None
        probe_rows += [(q_id, q_vec, int(c)) for c in chosen]
    from pyspark.sql import types as T

    probes = spark.createDataFrame(
        probe_rows,
        T.StructType(
            [
                T.StructField("q_id", queries.schema[id_col].dataType),
                T.StructField("q_vec", queries.schema[vec_col].dataType),
                T.StructField("centroid_id", T.LongType()),
            ]
        ),
    )
    probe_ids = sorted({c for _q, _v, c in probe_rows})
    return _rerank_probed(probes, vecs, probe_ids, k, id_col, vec_col)


def _rerank_probed(
    probes: DataFrame, vecs: DataFrame, probe_ids: list, k: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """Exact top-k over the probed buckets of a persisted IVF index: the
    IN filter on the partition column prunes the scan to those buckets."""
    candidates = vecs.filter(F.col("centroid_id").isin(probe_ids))
    scored = (
        probes.join(candidates, "centroid_id")
        .filter(F.col("q_id") != F.col(id_col))
        .withColumn("cos", cosine(F.col("q_vec"), F.col(vec_col)))
    )
    return _top_k(scored, k, id_col)


def _ivf_search_indexed_distributed(
    spark,
    C: np.ndarray,
    cent_ids: np.ndarray,
    vecs: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Distributed probe ranking for query sets too large to collect (the
    pre-r14 plan shape): queries stay a DataFrame, each crossJoins the
    broadcast centroid table and a per-query window keeps the nprobe best
    (cos desc, centroid_id asc) — identical ranking to the driver-side
    numpy path, including NULL query vectors falling to the first nprobe
    centroid ids (NULL cosines sort last, ties break on centroid_id)."""
    cents = _centroid_frame(spark, C, cent_ids)
    # localCheckpoint: the collect below would otherwise re-run the centroid
    # scoring when the returned plan executes
    probes = _probe_frame(queries, cents, nprobe, id_col, vec_col).localCheckpoint()
    probe_ids = sorted(
        {r.centroid_id for r in probes.select("centroid_id").distinct().collect()}
    )
    return _rerank_probed(probes, vecs, probe_ids, k, id_col, vec_col)


def _train_pq_np(
    emb: DataFrame,
    m: int,
    ksub: int,
    id_col: str,
    vec_col: str,
    sample_size: int = 4096,
    iters: int = 8,
    x: np.ndarray | None = None,
) -> np.ndarray:
    """Deterministic product-quantizer training (FAISS PQ convention, public:
    Jégou et al. 2011 "Product Quantization for Nearest Neighbor Search"):
    split the (L2-normalized) vector into m contiguous subvectors and run an
    independent small L2 k-means per subspace on the same bounded
    hash-ordered sample train_centroids uses.  Maximin init + fixed Lloyd
    count, ties to the lowest index — no seeds, bit-identical every run.
    Returns codebooks of shape (m, ksub, dim//m).  ``x``: a pre-collected
    unit-normalized sample matrix (skips the collect job)."""
    if x is None:
        x = _collect_training_sample(emb, id_col, vec_col, sample_size)
    return _train_books(x, m, ksub, iters)


def pq_encode(
    emb: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as m small codes (nearest codebook entry per
    subspace, on the normalized vector).  One Arrow-batched pass; the
    codebooks ride the UDF closure (m*ksub*dsub doubles — KBs).  The encoded
    corpus is dim*8 / m bytes-per-vector smaller: the representation that
    makes 100 TB of embeddings scannable from memory."""
    from pyspark.sql import types as T

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _codes(v: pd.Series) -> pd.Series:
        X = _unit(np.stack(v.to_numpy()).astype(np.float64))
        return pd.Series(list(_pq_codes(X, codebooks)))

    return emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("v_id"), _codes(F.col(vec_col)).alias("codes")
    )


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 256,
    cand_mult: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k with exact re-rank (the FAISS
    IVFPQ+refine shape):

    1. train codebooks on a bounded sample (driver, deterministic);
    2. encode the corpus once (Arrow pass — the only full-corpus work);
    3. ADC scan: per partition, score every code against every query with a
       per-query lookup table (LUT[j][code] = q_sub . codeword) — a numpy
       gather+sum per batch, no float vectors touched — and emit only each
       batch's top candidates per query;
    4. global candidate cut to k*cand_mult per query (window over the skinny
       ADC rows), then EXACT cosine re-rank of just those candidates.

    Queries ride the closure as a (nq, dim) matrix (bounded by contract —
    same envelope as brute_force_topk's broadcast).  Corpus bytes moved:
    m ints per row in stage 3, k*cand_mult vectors per query in stage 4."""
    # ONE collect job fetches the training sample AND the query set (r14;
    # they were two scheduled jobs): a tagged union, with the sample branch
    # re-sorted driver-side by the exact Spark ordering key (md5 of the
    # stringified id, then id — hashlib.md5 hexdigest == Spark md5() text)
    # so training sees the identical row order regardless of how the union
    # returns partitions.
    import hashlib as _hashlib

    from pyspark.sql import types as _T

    # the driver-side re-sort below replays Spark's md5(cast(id as string))
    # ordering via hashlib.md5(str(id)) — only valid when Python's str()
    # rendering equals Spark's string cast, i.e. integral/string ids
    # (ADVICE r14: float/decimal/timestamp ids would silently reorder the
    # training sample).  Other id types take the separate Spark-ordered
    # sample collect instead.
    _id_dt = emb.schema[id_col].dataType
    _union_ok = isinstance(
        _id_dt,
        (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType, _T.StringType),
    )
    samp_b = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(
            F.lit(0).alias("b"),
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
        )
        .orderBy(F.md5(F.col("q_id").cast("string")), F.col("q_id"))
        .limit(4096)
    )
    q_b = _query_frame(queries, id_col, vec_col).select(F.lit(1).alias("b"), "*")
    if _union_ok:
        rows = samp_b.unionByName(q_b).collect()
        srows = sorted(
            (r for r in rows if r.b == 0),
            key=lambda r: (_hashlib.md5(str(r.q_id).encode()).hexdigest(), r.q_id),
        )
    else:
        srows = samp_b.collect()  # Spark-ordered: no driver-side re-sort
        rows = srows + q_b.collect()  # b-tags still partition the two sets
    xs = _unit(np.array([r.q_vec for r in srows], dtype=np.float64))
    books = _train_pq_np(emb, m, ksub, id_col, vec_col, x=xs)
    q_ids, Q, _ok = _stack_queries([r for r in rows if r.b == 1], xs.shape[1])
    lut = _luts(_unit(Q), books)
    k2 = k * cand_mult

    def _score(ids, raw):
        # encode + ADC + the EXACT cosine of each per-batch survivor in ONE
        # Arrow pass (r15): the raw query matrix and the batch's raw vectors
        # are both in hand, so the re-rank needs no join, and candidate rows
        # carry two doubles instead of the raw vector.
        X = np.stack(raw).astype(np.float64)
        s = _adc(lut, _pq_codes(_unit(X), books))
        o = _topn(s, ids, k2 + 1)  # +1 absorbs a query matching itself
        qi = np.repeat(np.arange(len(q_ids)), o.shape[1])
        flat = o.ravel()
        yield pd.DataFrame(
            {
                "q_id": q_ids[qi],
                "c_id": ids[flat],
                "adc": np.take_along_axis(s, o, axis=1).ravel(),
                "cos": _cos_rows(Q[qi], X[flat]),
            }
        )

    adc = _corpus_pass(
        emb, id_col, vec_col, n, len(q_ids),
        _pair_schema(queries, emb, id_col, "adc", "cos"), _score,
    )
    return _top_k(_adc_cut(adc, k2), k)


def l2_normalize(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Unit-normalize every vector with pure JVM higher-order functions
    (aggregate for the norm, transform for the scale) — codegen'd, zero
    Python, zero shuffle.  The standard pre-pass that turns dot products
    into cosines downstream."""
    v = F.col(vec_col)
    norm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double"))
    )
    safe = F.greatest(norm, F.lit(1e-300))
    return emb.select(
        F.col(id_col),
        F.round(norm, 6).alias("norm"),
        F.transform(v, lambda x: F.round(x.cast("double") / safe, 6)).alias("unit_vec"),
    )


def mean_pool(
    emb: DataFrame,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Element-wise mean of embeddings per group (centroid pooling — the
    per-source/per-cluster representative vector).  posexplode -> partial
    avg per (group, position) -> re-assemble sorted.  Two shuffles, both
    map-side combined and bounded by groups x dim, never by corpus size."""
    pos = (
        emb.select(group_col, F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy(group_col, "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"), F.count("*").alias("n"))
    )
    return (
        pos.groupBy(group_col)
        .agg(
            F.max("n").alias("n_vecs"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: F.round(s["m"], 6),
            ).alias("mean_vec"),
        )
    )


def _pca_moments_np(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> tuple[int, np.ndarray, np.ndarray]:
    """EXACT full-corpus first and second moments, distributed: each
    partition emits one (n, sum_x, X^T X) partial (an Arrow batch of
    dim + dim² doubles — KBs), the driver combines.  Unlike the sampled
    centroid/codebook training, PCA moments are cheap to make exact: the
    reduction is a fixed-size matrix sum, so corpus size only adds
    partials, never state."""
    import pandas as _pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("g", T.ArrayType(T.DoubleType())),
        ]
    )

    def _partials(batches):
        n, s, g = 0, None, None
        for pdf in batches:
            vs = pdf[pdf.columns[0]].dropna()
            if not len(vs):
                continue
            X = np.stack(vs.to_numpy()).astype(np.float64)
            n += len(X)
            s = X.sum(axis=0) if s is None else s + X.sum(axis=0)
            gg = X.T @ X
            g = gg if g is None else g + gg
        if n:
            yield _pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]})

    parts = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(vec_col)
        .mapInPandas(_partials, schema=schema)
        .collect()
    )
    n = sum(r.n for r in parts)
    s = np.sum([np.asarray(r.s) for r in parts], axis=0)
    dim = len(s)
    g = np.sum([np.asarray(r.g).reshape(dim, dim) for r in parts], axis=0)
    return n, s, g


def pca_train(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact full-corpus PCA: covariance from the distributed moments, then
    a deterministic driver-side eigh (dim x dim — trivial for embedding
    dims).  Sign convention: each component's largest-|coord| entry is made
    positive, so the basis is bit-stable across runs.  Returns
    (mean, components[k, dim], eigvals[k] descending)."""
    n, s, g = _pca_moments_np(emb, id_col, vec_col)
    mean = s / n
    cov = g / n - np.outer(mean, mean)  # population covariance
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, comps, vals[order]


def pca_project(
    emb: DataFrame,
    mean: np.ndarray,
    comps: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project every vector onto the PCA basis — one Arrow pass, the
    (mean, components) ride the closure.  The k-dim output is the
    dimensionality-reduction lever: downstream ANN/clustering shuffles
    shrink by dim/k."""
    from pyspark.sql import types as T

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def _proj(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64) - mean
        P = X @ comps.T
        return pd.Series(list(P))

    return emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), _proj(F.col(vec_col)).alias("pca_vec")
    )


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 256,
    cand_mult: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> DataFrame:
    """IVF-PQ — the production ANN index shape (FAISS IVFPQ, Jégou et al.
    2011): coarse k-means buckets prune the corpus to nprobe/nlist, residual
    product quantization compresses what remains to m bytes/vector, ADC
    scores candidates from lookup tables, and an exact re-rank fixes the
    top-k.

    One Arrow pass encodes the corpus (nearest centroid + residual codes —
    centroids AND codebooks ride the closure); search touches only probed
    buckets via an applyInPandas group per centroid (the same equi-join-on-
    centroid_id topology the plain IVF uses, so at 100 TB the encoded
    corpus would be written PARTITIONED BY centroid_id and a probe reads
    nprobe directories of m-byte codes).  Residual PQ matters: residuals
    are centered near zero, so the same codebook budget quantizes them
    ~one centroid-radius finer than raw vectors.

    Search is ONE corpus pass (r15): encode, per-centroid-slice ADC, AND
    the exact cosine of each per-slice survivor, all inside a single
    mapInPandas over the raw embeddings, so the re-rank is two
    q_id-partitioned windows sharing one Exchange — no join back to the
    corpus.  The arithmetic is the indexed path's (_ivfpq_codes,
    _ivfpq_slices, _cos_rows), so both return identical results (pinned by
    the indexed-vs-memory equality test and the sim_ivfpq_full_cover
    oracle)."""
    cents, books = _train_ivfpq_np(emb, n_centroids, m, ksub, id_col, vec_col)
    q_ids, Q, _ok = _load_queries(queries, id_col, vec_col, cents.shape[1])
    tables = _ivfpq_tables(Q, cents, books, nprobe)
    k2 = k * cand_mult

    def _score(ids, raw):
        X = np.stack(raw).astype(np.float64)
        cid, codes = _ivfpq_codes(X, cents, books)
        for rep, sel, adc in _ivfpq_slices(cid, ids, codes, tables, k2 + 1):
            yield pd.DataFrame(
                {
                    "q_id": q_ids[rep],
                    "c_id": ids[sel],
                    "adc": adc,
                    "cos": _cos_rows(Q[rep], X[sel]),
                }
            )

    adc = _corpus_pass(
        emb, id_col, vec_col, n, len(q_ids),
        _pair_schema(queries, emb, id_col, "adc", "cos"), _score,
    )
    return _top_k(_adc_cut(adc, k2), k)


def _train_ivfpq_np(
    emb: DataFrame,
    n_centroids: int,
    m: int,
    ksub: int,
    id_col: str,
    vec_col: str,
) -> tuple[np.ndarray, np.ndarray]:
    """Driver-side IVF-PQ training on the bounded hash-ordered sample:
    spherical coarse centroids + per-subspace residual codebooks.  The
    sample is collected ONCE and shared between the coarse k-means and the
    residual codebooks (r14; it was two identical collect jobs)."""
    xs = _collect_training_sample(emb, id_col, vec_col)
    cents = _train_centroids_np(
        emb, n_centroids, id_col, vec_col, x=xs
    )  # unit rows
    # per-subspace codebooks on the RESIDUALS from each row's centroid
    res = xs - cents[np.argmax(xs @ cents.T, axis=1)]
    return cents, _train_books(res, m, ksub)


def _ivfpq_encode(
    emb: DataFrame,
    cents: np.ndarray,
    books: np.ndarray,
    id_col: str,
    vec_col: str,
    n: int | None = None,
) -> DataFrame:
    """One Arrow pass: nearest centroid + residual codes per vector."""
    from pyspark.sql import types as T

    enc_schema = T.StructType(
        [
            T.StructField("v_id", emb.schema[id_col].dataType),
            T.StructField("centroid_id", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def _encode(batches):
        for pdf in batches:
            cid, codes = _ivfpq_codes(
                np.stack(pdf["v"].to_numpy()).astype(np.float64), cents, books
            )
            yield pd.DataFrame(
                {
                    "v_id": pdf["v_id"].to_numpy(),
                    "centroid_id": cid.astype(np.int32),
                    "codes": list(codes),
                }
            )

    return _spread(
        emb.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("v_id"), F.col(vec_col).alias("v")
        ),
        "v_id",
        n,
    ).mapInPandas(_encode, schema=enc_schema)


def build_ivfpq_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> None:
    """Persist an IVF-PQ index: the m-byte-per-vector code table written as
    parquet PARTITIONED BY centroid_id, plus the trained centroids and
    codebooks as side tables.  This is the 100 TB layout in full: a probe
    reads nprobe/nlist DIRECTORIES of codes (directory pruning before any
    footer opens), and each directory holds m ints per vector instead of
    the raw embedding — pruning x compression compose."""
    cents, books = _train_ivfpq_np(emb, n_centroids, m, ksub, id_col, vec_col)
    enc = _ivfpq_encode(emb, cents, books, id_col, vec_col, n=n)
    enc.write.mode("overwrite").partitionBy("centroid_id").parquet(f"{path}/codes")
    spark = emb.sparkSession
    from pyspark.sql import types as T

    cent_schema = T.StructType(
        [
            T.StructField("centroid_id", T.IntegerType(), False),
            T.StructField("vec", T.ArrayType(T.DoubleType()), False),
        ]
    )
    spark.createDataFrame(
        [(i, [float(x) for x in cents[i]]) for i in range(len(cents))], cent_schema
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    book_schema = T.StructType(
        [
            T.StructField("subspace", T.IntegerType(), False),
            T.StructField("code", T.IntegerType(), False),
            T.StructField("vec", T.ArrayType(T.DoubleType()), False),
        ]
    )
    rows = [
        (j, c, [float(x) for x in books[j, c]])
        for j in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    spark.createDataFrame(rows, book_schema).write.mode("overwrite").parquet(
        f"{path}/codebooks"
    )


def ivfpq_search_indexed(
    spark,
    path: str,
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    cand_mult: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted IVF-PQ index: centroids/codebooks load driver-side
    (tiny), the probe set becomes an IN filter on the codes table's
    partition column (PartitionFilters — only probed directories are read),
    ADC runs on the in-memory path's kernels, so results are identical
    (asserted in tests).  The exact re-rank joins the candidates back to
    ``emb``: the code table stores m-byte codes, not raw vectors."""
    # side tables are nlist / m*ksub rows — pyarrow reads them driver-side
    # with zero Spark jobs (r14; was two scheduled read+collect jobs)
    cent_rows = _read_parquet_local(f"{path}/centroids").to_pylist()
    cents = np.stack(
        [
            np.asarray(r["vec"])
            for r in sorted(cent_rows, key=lambda r: r["centroid_id"])
        ]
    )
    book_rows = _read_parquet_local(f"{path}/codebooks").to_pylist()
    mm = max(r["subspace"] for r in book_rows) + 1
    ks = max(r["code"] for r in book_rows) + 1
    dsub = len(book_rows[0]["vec"])
    books = np.empty((mm, ks, dsub))
    for r in book_rows:
        books[r["subspace"], r["code"]] = r["vec"]
    # ONE collect of the query set feeds both the probe-set partition
    # pruning (the union of every query's nprobe nearest centroids becomes
    # an IN filter on the partition column) and the ADC tables
    q_ids, Q, _ok = _load_queries(queries, id_col, vec_col, cents.shape[1])
    tables = _ivfpq_tables(Q, cents, books, nprobe)
    probe_ids = sorted(c for c, qi in tables[1].items() if len(qi))
    codes = spark.read.parquet(f"{path}/codes").filter(
        F.col("centroid_id").isin(probe_ids)
    )
    k2 = k * cand_mult

    def _score_batches(batches):
        # r14: mapInPandas over the (partition-pruned) code stream instead
        # of groupBy(centroid_id).applyInPandas — the ADC score needs no
        # cross-row grouping, only each row's OWN centroid id, so the
        # bucket Exchange was a whole shuffle stage spent on nothing.
        # Batches may mix centroids; _ivfpq_slices scores per same-cid slice.
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["v_id"].to_numpy()
            for rep, sel, adc in _ivfpq_slices(
                pdf["centroid_id"].to_numpy(),
                ids,
                np.stack(pdf["codes"].to_numpy()),
                tables,
                k2 + 1,
            ):
                yield pd.DataFrame({"q_id": q_ids[rep], "c_id": ids[sel], "adc": adc})

    adc = codes.mapInPandas(
        _score_batches, schema=_pair_schema(queries, emb, id_col, "adc")
    ).filter(F.col("q_id") != F.col("c_id"))
    c = emb.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        _adc_cut(adc, k2).select("q_id", "c_id")
        .join(c, "c_id")
        .join(F.broadcast(_query_frame(queries, id_col, vec_col, keep_null=True)), "q_id")
        .withColumn("cos", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    return _top_k(scored, k)

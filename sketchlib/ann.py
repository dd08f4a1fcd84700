"""Similarity search over embedding columns.

Brute-force cosine top-k as the exact baseline and an LSH-bucketed
(random hyperplane / SRP) variant as the scale path. Both stay
JVM-side: dot products via ``aggregate(zip_with(...))``; the LSH
variant turns the cross join into an equi-join on bucket signature.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def _norm(col):
    return F.sqrt(F.aggregate(col, F.lit(0.0),
                              lambda acc, x: acc + x.cast("double") * x.cast("double")))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y:
                                  x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def with_norms(df: DataFrame, vec_col: str, out_col: str = "nv") -> DataFrame:
    """Attach the L2 norm of ``vec_col`` — computed ONCE per vector in
    a vectorized pandas UDF (one einsum per Arrow batch), so pair-scoring
    stages never recompute norms per pair. Catalyst higher-order-function
    lambdas (F.aggregate/zip_with) are interpreted, not codegen; the
    Arrow-batched numpy kernel is the fast path for vector math."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _n(vs):
        import pandas as pd
        if len(vs) == 0:
            return pd.Series([], dtype=np.float64)
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        return pd.Series(np.sqrt(np.einsum("ij,ij->i", m, m)))

    return df.withColumn(out_col, _n(F.col(vec_col)))


def pair_cosine_udf():
    """Row-wise cosine over (va, vb, na, nb) columns: one numpy matmul
    per Arrow batch (einsum over the stacked pair block), norms taken
    from the precomputed columns. ~10-100x the interpreted
    aggregate/zip_with expression path on wide vectors."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(va, vb, na, nb):
        import pandas as pd
        if len(va) == 0:
            return pd.Series([], dtype=np.float64)
        a = np.stack([np.asarray(v, dtype=np.float64) for v in va])
        b = np.stack([np.asarray(v, dtype=np.float64) for v in vb])
        dots = np.einsum("ij,ij->i", a, b)
        return pd.Series(dots / (na.to_numpy() * nb.to_numpy()))

    return _cos


def cosine_topk(df: DataFrame, queries: DataFrame, k: int,
                id_col: str = "vec_id", vec_col: str = "embedding",
                sim_decimals: int = 6) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector (brute force —
    the correctness baseline; O(nq * n) dot products, JVM-side).

    Output: (query_id, neighbor_id, sim) with sim floored to
    ``sim_decimals``; ranking by (sim desc, neighbor_id asc); the
    query itself excluded.
    """
    base = df.select(F.col(id_col).alias("neighbor_id"),
                     F.col(vec_col).alias("v"),
                     _norm(F.col(vec_col)).alias("nv"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"),
                       _norm(F.col(vec_col)).alias("nq"))
    joined = (q.crossJoin(F.broadcast(base))
               .filter(F.col("neighbor_id") != F.col("query_id"))
               .withColumn("sim", _dot(F.col("qv"), F.col("v"))
                           / (F.col("nq") * F.col("nv"))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc())
    return (joined.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "neighbor_id",
                    (F.floor(F.col("sim") * (10 ** sim_decimals))
                     / (10 ** sim_decimals)).alias("sim"),
                    F.col("rn").alias("rank")))


def srp_signatures(df: DataFrame, n_bits: int = 16, seed: int = 7,
                   dim: int = 64, id_col: str = "vec_id",
                   vec_col: str = "embedding", n_tables: int = 1) -> DataFrame:
    """Signed-random-projection LSH signatures (Charikar 2002): bit i =
    sign(v . r_i) for fixed seeded Gaussian hyperplanes. Vectors with
    high cosine share many bits => bucket on the signature.

    All ``n_tables`` signatures are computed in ONE vectorized pandas
    UDF via a single (batch, dim) @ (dim, n_tables*n_bits) matmul —
    Arrow batch in, Arrow batch out, no per-row Python — then packed to
    int64 per table. Output adds ``srp_sigs: array<long>`` (len =
    n_tables). At 100 TB this is a narrow map over the scan: no
    shuffle, embarrassingly parallel, ~1 GFLOP per million rows."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_tables * n_bits))
    weights = (1 << np.arange(n_bits - 1, -1, -1, dtype=np.int64))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _sigs(vecs):
        import pandas as pd
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (m @ planes > 0).reshape(len(m), n_tables, n_bits)
        sigs = (bits * weights).sum(axis=2)
        return pd.Series(list(sigs))

    return df.withColumn("srp_sigs", _sigs(F.col(vec_col)))


def ann_topk_lsh(df: DataFrame, queries: DataFrame, k: int,
                 n_bits: int = 8, n_tables: int = 8, seed: int = 7,
                 dim: int = 64, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: union of ``n_tables`` SRP bucket joins, exact
    cosine re-rank inside the candidate set. The cross join of the
    brute-force baseline becomes an equi-join on (table, signature) —
    the scale path: candidate count ~ n / 2^n_bits per table instead
    of n, and the join shuffles only (id, vec, sig) tuples."""
    # candidates carry IDS ONLY through the bucket join + dedup — the
    # (n_tables x replicated) vector payloads never cross that shuffle;
    # vectors (with norms precomputed once each) are joined back to the
    # deduplicated candidate set, and cosine runs as one numpy einsum
    # per Arrow batch
    base = (srp_signatures(df, n_bits, seed, dim, id_col, vec_col, n_tables)
            .select(F.col(id_col).alias("neighbor_id"),
                    F.posexplode("srp_sigs").alias("tbl", "sig")))
    qs = (srp_signatures(queries, n_bits, seed, dim, id_col, vec_col,
                         n_tables)
          .select(F.col(id_col).alias("query_id"),
                  F.posexplode("srp_sigs").alias("tbl", "sig")))
    cand = (qs.join(base, ["tbl", "sig"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id")
            .dropDuplicates(["query_id", "neighbor_id"]))
    return exact_rerank_topk(cand, df, queries, k, id_col, vec_col)


def exact_rerank_topk(cand: DataFrame, df: DataFrame, queries: DataFrame,
                      k: int, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Exact-cosine re-rank of a (query_id, neighbor_id) candidate set:
    vectors (norms precomputed once each) joined back to the id-only
    candidates, cosine as one numpy einsum per Arrow batch, bounded
    top-k per query. Shared by every ANN blocking strategy (SRP-LSH,
    IVF) — only the candidate-generation join differs."""
    vecs = with_norms(df.select(F.col(id_col).alias("neighbor_id"),
                                F.col(vec_col).alias("v")), "v", "nv")
    qvecs = with_norms(queries.select(F.col(id_col).alias("query_id"),
                                      F.col(vec_col).alias("qv")),
                       "qv", "nq")
    scored = (cand.join(F.broadcast(qvecs), "query_id")
              .join(vecs, "neighbor_id")
              .withColumn("sim", pair_cosine_udf()(
                  F.col("qv"), F.col("v"), F.col("nq"), F.col("nv"))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc())
    # round (not floor): engineered recall-guaranteed corpora put the
    # true neighbors at cosine exactly 1.0, where both engines land
    # within ~1e-15 of 1.0 from opposite sides — floor at the 1e-6
    # grid is discontinuous there, round is not
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "neighbor_id",
                    F.round(F.col("sim"), 6).alias("sim"),
                    F.col("rn").alias("rank")))


# --------------------------------------------------------------------
# IVF (inverted-file) ANN — the cluster-probe scale path
# --------------------------------------------------------------------

def _unit_rows(vs) -> np.ndarray:
    """Stack an Arrow column of vectors into a (batch, dim) float64
    matrix with L2-normalized rows (zero vectors pass through)."""
    m = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return m / n


def ivf_train(df: DataFrame, nlist: int = 16, iters: int = 5,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> np.ndarray:
    """Train the IVF coarse quantizer: spherical k-means (cosine
    assignment, mean-then-renormalize update), fully deterministic —
    centroids initialize from the ``nlist`` smallest-id vectors and
    every step is order-independent numpy float64.

    Each Lloyd iteration is ONE Spark job: a ``mapInPandas`` pass emits
    per-batch partial sums ``(cluster, psum, n)`` — at most
    nlist rows per Arrow batch — and the driver folds them into new
    centroids. Driver traffic is O(nlist * partitions * dim) per
    iteration, independent of corpus size. At 100 TB, train on
    ``df.sample(...)``: a coarse quantizer needs ~10^3-10^4 points per
    centroid, not the corpus; assignment (below) still maps the full
    table."""
    init = (df.orderBy(F.col(id_col).asc()).limit(nlist)
            .select(vec_col).toPandas())
    cents = _unit_rows(init[vec_col])
    if len(cents) < nlist:
        raise ValueError(f"need >= nlist={nlist} vectors to train")

    for _ in range(iters):
        C = cents  # closure capture; broadcast with the task binary

        def part(batches, C=C):
            import pandas as pd
            for pdf in batches:
                if not len(pdf):
                    continue
                mn = _unit_rows(pdf[vec_col])
                a = (mn @ C.T).argmax(axis=1)
                rows = [(int(c), mn[a == c].sum(axis=0).tolist(),
                         int((a == c).sum())) for c in np.unique(a)]
                yield pd.DataFrame(rows, columns=["cluster", "psum", "n"])

        parts = (df.select(vec_col)
                 .mapInPandas(part, "cluster int, psum array<double>, n long")
                 .toPandas())
        new = cents.copy()
        for c, grp in parts.groupby("cluster"):
            s = np.sum(np.stack([np.asarray(p, dtype=np.float64)
                                 for p in grp["psum"]]), axis=0)
            nrm = np.linalg.norm(s)
            if nrm > 0.0:  # empty/degenerate cluster keeps its centroid
                new[int(c)] = s / nrm
        cents = new
    return cents


def ivf_assign(df: DataFrame, centroids: np.ndarray,
               vec_col: str = "embedding",
               out_col: str = "ivf_cluster") -> DataFrame:
    """Attach each vector's coarse cell: argmax cosine against the
    (nlist, dim) centroid matrix — one matmul per Arrow batch, a
    narrow map over the scan (no shuffle). Ties break to the lowest
    cluster index (numpy argmax), and cosine is scale-invariant, so
    positively-scaled copies of a vector land in ITS cell bit-exactly
    (normalization by a power-of-two norm is exact in IEEE754)."""
    from pyspark.sql.functions import pandas_udf
    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def _a(vs):
        import pandas as pd
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        return pd.Series((_unit_rows(vs) @ C.T).argmax(axis=1)
                         .astype("int32"))

    return df.withColumn(out_col, _a(F.col(vec_col)))


def ivf_probe(queries: DataFrame, centroids: np.ndarray, nprobe: int,
              vec_col: str = "embedding",
              out_col: str = "probe") -> DataFrame:
    """Attach each query's ``nprobe`` nearest coarse cells (stable
    argsort — ties break to the lowest cluster index)."""
    from pyspark.sql.functions import pandas_udf
    C = np.asarray(centroids, dtype=np.float64)
    np_ = int(min(nprobe, len(C)))

    @pandas_udf("array<int>")
    def _p(vs):
        import pandas as pd
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        s = _unit_rows(vs) @ C.T
        top = np.argsort(-s, axis=1, kind="stable")[:, :np_]
        return pd.Series([r.astype("int32").tolist() for r in top])

    return queries.withColumn(out_col, _p(F.col(vec_col)))


def ann_topk_ivf(df: DataFrame, queries: DataFrame, k: int,
                 nlist: int = 16, nprobe: int = 4, iters: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 centroids: np.ndarray | None = None) -> DataFrame:
    """Approximate top-k via an inverted file (IVF): train an
    nlist-cell coarse quantizer, assign every corpus vector to its
    cell, probe each query's ``nprobe`` nearest cells, and exact-rerank
    the candidates. The brute-force cross join becomes an equi-join on
    ``cluster`` — candidate count ~ n * nprobe / nlist — and, like the
    SRP path, only ids cross the candidate shuffle. ``nprobe == nlist``
    probes every cell and is EXACTLY ``cosine_topk`` (tested); at
    ``nprobe < nlist`` recall degrades gracefully with measured
    trade-off (tests/test_ann_ivf.py). Pass ``centroids`` to reuse a
    trained quantizer across query batches (at scale the index is
    built once and persisted with the table)."""
    if centroids is None:
        centroids = ivf_train(df, nlist=nlist, iters=iters,
                              id_col=id_col, vec_col=vec_col)
    base = ivf_assign(df, centroids, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("ivf_cluster").alias("cluster"))
    qs = (ivf_probe(queries, centroids, nprobe, vec_col)
          .select(F.col(id_col).alias("query_id"),
                  F.explode("probe").alias("cluster")))
    cand = (qs.join(base, "cluster")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id")
            .dropDuplicates(["query_id", "neighbor_id"]))
    return exact_rerank_topk(cand, df, queries, k, id_col, vec_col)


# ----------------------------------------------------------------- PQ

def _pq_init_sample(df: DataFrame, kcent: int, id_col: str,
                    vec_col: str, seed: int = 0x5EEDC0DE) -> DataFrame:
    """Deterministic shuffle-free pick of ``kcent`` init vectors: the
    kcent rows with the smallest seeded xxhash64(id). orderBy+limit
    compiles to TakeOrderedAndProject — each task keeps a local
    top-kcent, the driver merges; no Exchange, Sort, or Window node
    ever touches the training set (plan-pinned in tests/test_plans.py).
    Hash order doubles as a uniform pseudo-random spread across the
    corpus regardless of id density or layout."""
    return (df.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)).asc(),
                     F.col(id_col).asc())
            .limit(kcent)
            .select(vec_col))


def pq_train(df: DataFrame, m: int = 8, kcent: int = 256,
             iters: int = 5, id_col: str = "vec_id",
             vec_col: str = "embedding") -> np.ndarray:
    """Train a Product Quantizer (Jegou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI'11 — the canonical 100 TB ANN
    compression): split unit-normalized vectors into ``m`` subspaces
    and k-means each subspace to ``kcent`` centroids. Returns
    codebooks ``(m, kcent, dsub)`` float64.

    Fully deterministic: centroids initialize from the ``kcent``
    vectors with the smallest seeded xxhash64(id) — a pseudo-random
    spread over the whole corpus (unlike ivf_train's smallest-id rule,
    a contiguous id prefix is usually one locality cluster, which
    starves Lloyd of spread at PQ's much larger kcent). The selection
    compiles to TakeOrderedAndProject: per-partition local top-kcent
    merged on the driver — NO global sort, window, count job, or
    shuffle exchange (the round-4 init used row_number over an
    unpartitioned Window: a single-task sort of the training set;
    plan-pinned gone in tests/test_plans.py). Every Lloyd step is
    order-independent float64. Each iteration is ONE Spark job for
    ALL subspaces: a mapInPandas pass emits per-batch partial sums
    ``(sub, cluster, psum, n)`` — at most m*kcent rows per batch — and
    the driver folds them. Driver traffic O(m * kcent * dsub *
    partitions) per iteration, corpus-size-independent; at 100 TB
    train on ``df.sample(...)`` (a quantizer needs ~10^3 points per
    centroid, not the corpus)."""
    import pandas as pd

    probe = df.select(vec_col).limit(1).toPandas()
    dim = len(probe[vec_col].iloc[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m

    init = _pq_init_sample(df, kcent, id_col, vec_col).toPandas()
    X0 = _unit_rows(init[vec_col])
    if len(X0) < kcent:
        raise ValueError(f"need >= kcent={kcent} vectors to train")
    books = np.stack([X0[:, j * dsub:(j + 1) * dsub]
                      for j in range(m)])            # (m, kcent, dsub)

    for _ in range(iters):
        B = books

        def part(batches, B=B):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = _unit_rows(pdf[vec_col])
                rows = []
                for j in range(B.shape[0]):
                    Xs = X[:, j * dsub:(j + 1) * dsub]
                    # argmin ||x - c||^2 = argmax (2 x.c - ||c||^2)
                    d2 = (Xs @ B[j].T) * 2 - np.einsum(
                        "kd,kd->k", B[j], B[j])[None, :]
                    a = d2.argmax(axis=1)
                    for c in np.unique(a):
                        sel = Xs[a == c]
                        rows.append((j, int(c), sel.sum(axis=0).tolist(),
                                     int(len(sel))))
                yield pd.DataFrame(
                    rows, columns=["sub", "cluster", "psum", "n"])

        parts = (df.select(vec_col).mapInPandas(
            part, "sub int, cluster int, psum array<double>, n long")
            .toPandas())
        new = books.copy()
        for (j, c), grp in parts.groupby(["sub", "cluster"]):
            n = grp["n"].sum()
            if n:
                new[j, c] = np.sum(np.stack(
                    grp["psum"].to_numpy()), axis=0) / n
        books = new
    return books


def pq_encode(df: DataFrame, codebooks: np.ndarray,
              id_col: str = "vec_id",
              vec_col: str = "embedding",
              keep_cols: list[str] | None = None) -> DataFrame:
    """Encode unit-normalized vectors to ``(id, codes array<int>)`` —
    m codes of 0..kcent-1 each, 8-256x smaller than the raw vectors
    (the representation that actually fits 10^12 vectors in cluster
    memory). One mapInPandas pass; codebooks ride the task closure.
    ``keep_cols`` carries extra columns (e.g. the IVF cell) through the
    kernel, so index layouts like (id, cell, codes) need no join."""
    import pandas as pd

    m, kcent, dsub = codebooks.shape
    B = codebooks
    keep = list(keep_cols or [])

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _unit_rows(pdf[vec_col])
            codes = np.empty((len(X), m), dtype=np.int64)
            for j in range(m):
                Xs = X[:, j * dsub:(j + 1) * dsub]
                d2 = (Xs @ B[j].T) * 2 - np.einsum(
                    "kd,kd->k", B[j], B[j])[None, :]
                codes[:, j] = d2.argmax(axis=1)
            out = {"id": pdf[id_col], "codes": list(codes)}
            for c in keep:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    keep_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in keep)
    return (df.select(id_col, vec_col, *keep)
            .mapInPandas(enc, f"id long, codes array<bigint>{keep_schema}")
            .withColumnsRenamed({"id": id_col}))


def _local_cut(dist2: np.ndarray, ids: np.ndarray,
               k: int) -> tuple[np.ndarray, np.ndarray]:
    """One batch's top-k neighbors of one query as ``(ids, adc_sim)``.

    The local cut must use the SAME total order as the global window
    (adc_sim desc, neighbor_id asc): exact ADC ties are common
    (identical codes => identical sums), and two distinct tiny dist2
    values can round to one adc_sim near 1.0. A cut on raw dist2 or by
    position could then drop the smaller-id tied neighbor, making top-k
    depend on partition layout. So sort the adc_sim floats the window
    ranks (lexsort: last key primary)."""
    sim = 1.0 - dist2 / 2.0
    keep = np.lexsort((ids, -sim))[:k]
    return ids[keep], sim[keep]


def ann_topk_pq(codes_df: DataFrame, queries: DataFrame,
                codebooks: np.ndarray, k: int,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k by Asymmetric Distance Computation (ADC):
    per query, a ``(m, kcent)`` look-up table of exact
    query-subvector-to-centroid squared distances; a corpus CODES scan
    (never the raw vectors) sums m table entries per neighbor. Scale
    shape: LUTs ride the closure (nq * m * kcent doubles), each Arrow
    batch emits only its LOCAL top-k per query, and the global cut is
    a window rank over nq * k * n_batches rows — the corpus never
    shuffles. Output (query_id, neighbor_id, adc_sim) where adc_sim =
    1 - dist2/2 (the cosine a unit query would have with the
    reconstruction), ranked (adc_sim desc, neighbor_id)."""
    import pandas as pd

    m, kcent, dsub = codebooks.shape
    qp = queries.select(id_col, vec_col).toPandas()
    qids = qp[id_col].to_numpy()
    Q = _unit_rows(qp[vec_col])
    # LUT[q, j, c] = ||q_j - c_{j,c}||^2 (exact, float64)
    B = codebooks
    lut = np.empty((len(qids), m, kcent))
    for j in range(m):
        Qs = Q[:, j * dsub:(j + 1) * dsub]
        lut[:, j, :] = (np.einsum("id,id->i", Qs, Qs)[:, None]
                        - 2 * (Qs @ B[j].T)
                        + np.einsum("kd,kd->k", B[j], B[j])[None, :])

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy())        # (n, m)
            ids = pdf[id_col].to_numpy()
            # dist2[q, n] = sum_j LUT[q, j, codes[n, j]]
            d2 = np.zeros((len(qids), len(ids)))
            for j in range(m):
                d2 += lut[:, j, codes[:, j]]
            out = []
            for qi in range(len(qids)):
                row = d2[qi]
                # self-exclusion must happen BEFORE the local cut: if
                # the query's own row wins a local top-k slot, the
                # batch under-emits real candidates by one (visible
                # when a query's whole neighborhood lives in one
                # partition — e.g. cluster-aligned layouts)
                mask = ids != qids[qi]
                nb, sim = _local_cut(row[mask], ids[mask], k)
                out.append(pd.DataFrame({
                    "query_id": qids[qi], "neighbor_id": nb,
                    "adc_sim": sim}))
            yield pd.concat(out, ignore_index=True)

    local = codes_df.mapInPandas(
        scan, "query_id long, neighbor_id long, adc_sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id"))
    return (local.filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k).drop("rk")
            .orderBy("query_id", F.col("adc_sim").desc(), "neighbor_id"))


def ivfpq_index(df: DataFrame, centroids: np.ndarray,
                codebooks: np.ndarray, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """``(id, cell, codes)`` — the stored IVF-PQ layout (Jegou et al.
    TPAMI'11; the index structure behind every billion-scale ANN
    service): coarse cell for probe pruning, PQ codes for in-cell ADC.
    One narrow pass (assignment pandas_udf + encode kernel chained —
    no shuffle, no join: the cell rides through pq_encode's
    ``keep_cols``). At scale, WRITE THIS PARTITIONED BY ``cell``: a
    probe then prunes at the file level and the ADC scan touches only
    nprobe/nlist of the corpus bytes."""
    a = ivf_assign(df, centroids, vec_col, out_col="cell")
    return pq_encode(a, codebooks, id_col, vec_col, keep_cols=["cell"])


def ann_topk_ivfpq(codes_df: DataFrame, queries: DataFrame,
                   centroids: np.ndarray, codebooks: np.ndarray,
                   k: int, nprobe: int = 2,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ search — the composition that serves 10^12-vector
    corpora: each query probes its ``nprobe`` nearest coarse cells and
    ADC-scans ONLY the codes stored in those cells. ``codes_df`` is
    the (id, cell, codes) table from :func:`ivfpq_index`; raw vectors
    are never touched at query time.

    Scale shape: the probed-cell union becomes a Catalyst ``isin``
    filter on the codes scan (partition-prunable when the index is
    stored partitioned by cell); per-query LUTs and a probed-cell
    table ride the closure (nq * m * kcent doubles + nq * nlist
    bools), so a batch's probe masks are one table lookup; each
    Arrow batch emits its LOCAL top-k per query (ties broken by
    neighbor id, the same total order as the global cut); the global
    cut is a window rank over nq * k * n_batches rows. Nothing about
    the corpus ever shuffles. Output (query_id, neighbor_id, adc_sim)
    ranked (adc_sim desc, neighbor_id); ``nprobe >= nlist`` scans
    every cell and equals :func:`ann_topk_pq` exactly (tested)."""
    import pandas as pd

    m, kcent, dsub = codebooks.shape
    qp = queries.select(id_col, vec_col).toPandas()
    qids = qp[id_col].to_numpy()
    Q = _unit_rows(qp[vec_col])
    C = np.asarray(centroids, dtype=np.float64)
    np_ = int(min(nprobe, len(C)))
    sims = Q @ C.T
    probes = np.argsort(-sims, axis=1, kind="stable")[:, :np_]
    # probed[q, c]: query q probes cell c
    probed = np.zeros((len(qids), len(C)), dtype=bool)
    probed[np.arange(len(qids))[:, None], probes] = True
    cells_union = np.unique(probes).tolist()

    B = codebooks
    lut = np.empty((len(qids), m, kcent))
    for j in range(m):
        Qs = Q[:, j * dsub:(j + 1) * dsub]
        lut[:, j, :] = (np.einsum("id,id->i", Qs, Qs)[:, None]
                        - 2 * (Qs @ B[j].T)
                        + np.einsum("kd,kd->k", B[j], B[j])[None, :])

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy())
            ids = pdf[id_col].to_numpy()
            cells = pdf["cell"].to_numpy()
            d2 = np.zeros((len(qids), len(ids)))
            for j in range(m):
                d2 += lut[:, j, codes[:, j]]
            # probe restriction AND self-exclusion both before the
            # local cut (see ann_topk_pq on why self-exclusion inside
            # the kernel matters)
            masks = probed[:, cells] & (ids[None, :] != qids[:, None])
            out = []
            for qi in range(len(qids)):
                mask = masks[qi]
                if not mask.any():
                    continue
                nb, sim = _local_cut(d2[qi][mask], ids[mask], k)
                out.append(pd.DataFrame({
                    "query_id": qids[qi], "neighbor_id": nb,
                    "adc_sim": sim}))
            if out:
                yield pd.concat(out, ignore_index=True)

    local = (codes_df
             .filter(F.col("cell").isin(cells_union))
             .mapInPandas(
                 scan, "query_id long, neighbor_id long, adc_sim double"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id"))
    return (local.filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k).drop("rk")
            .orderBy("query_id", F.col("adc_sim").desc(), "neighbor_id"))

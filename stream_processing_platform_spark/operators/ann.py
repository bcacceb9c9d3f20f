"""Similarity search over embedding columns — brute-force, IVF, and PQ.

Brute-force cosine top-k is the exactness baseline (and the oracle-checked
query); IVF (inverted-file) is the 100 TB path: partition the corpus into
cells around centroids, probe only the nearest cells per query. Cell
assignment is a broadcast join against the (small) centroid set, so the
corpus is never shuffled all-pairs. PQ (product quantization, Jégou et
al. 2011) is the 100 TB MEMORY path: vectors compress to one small code
per subspace (64 float32 dims → 16 one-byte codes at the defaults, 16×),
and queries score candidates through a broadcast distance table without
ever touching the original vectors until the final exact re-rank of a
bounded candidate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stream_processing_platform_spark.functions.similarity import as_double_array, cosine
from stream_processing_platform_spark.functions.text import let


def _stack_checked(pdf, id_name: str, vec_name: str, dim: int):
    """``np.stack`` with a clear error for NULL / ragged embeddings.

    A bare ``np.stack`` over a batch containing a NULL vector or one of
    the wrong length dies with an opaque numpy shape error deep in an
    executor. The LSH sigrun path masks such rows because its expression
    twin defines all-zero semantics for them; the Arrow assignment /
    encoding twins here have NO defined degradation (their expression
    twins produce murky null-ordering artifacts), so the contract is a
    loud, named error: fix or filter upstream."""
    import numpy as np

    arrs = pdf[vec_name].to_numpy()
    lens = np.fromiter(
        (len(a) if a is not None else -1 for a in arrs),
        dtype=np.int64,
        count=len(pdf),
    )
    bad = lens != dim
    if bad.any():
        examples = pdf[id_name].to_numpy()[bad][:5].tolist()
        raise ValueError(
            f"{vec_name}: {int(bad.sum())} row(s) with NULL or non-{dim}-dim "
            f"vectors (example {id_name}s: {examples}); embeddings must be "
            f"non-null fixed-length arrays — filter or repair upstream"
        )
    return np.stack(arrs).astype(np.float64, copy=False)


def _prep(df: DataFrame, id_col: str, vec_col: str, id_alias: str, vec_alias: str) -> DataFrame:
    from stream_processing_platform_spark.partitioning import ensure_min_parallelism

    # Vector math is CPU-bound; widen single-file scans before it.
    return ensure_min_parallelism(df).select(
        F.col(id_col).alias(id_alias), as_double_array(F.col(vec_col)).alias(vec_alias)
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: for every query vector, the k nearest corpus
    vectors (excluding itself). Deterministic: ties broken by corpus id.

    Output: query_id, neighbor_id, cos, rank.
    Plan shape: broadcast(queries) × corpus → per-query top-k. The corpus
    side streams; only q×k rows survive the window filter.
    """
    q = _prep(queries, id_col, vec_col, "query_id", "_qv")
    c = _prep(corpus, id_col, vec_col, "neighbor_id", "_cv")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_cells: int = 16,
    nprobe: int = 4,
    train_iters: int = 0,
) -> DataFrame:
    """Approximate cosine top-k via IVF cells.

    Default centroids are a deterministic hash sample of the corpus: the
    ``num_cells`` rows with the smallest ``xxhash64(id)`` — id-agnostic
    (works on sparse, non-contiguous, or non-integer ids), no driver-side
    action (the sample is a distributed top-k, not a ``count()``), and
    stable across runs. ``train_iters > 0`` refines that same starting
    set with Lloyd's k-means iterations (``operators/clustering.py`` —
    one Arrow-vectorized scan + one k-group aggregate per iteration);
    the partition/probe plumbing is identical either way. Each corpus
    vector lands in one cell (broadcast join vs centroids); each query
    probes its ``nprobe`` nearest cells and ranks only those cells'
    members. Shuffle is bounded by cell id, never all-pairs.

    Output: query_id, neighbor_id, cos, rank (approximate; recall
    measured against brute_force_topk in tests).
    """
    c = _prep(corpus, id_col, vec_col, "cid", "_cv")
    centroids = _ivf_centroids(c, num_cells, train_iters)

    # Assign every corpus vector to its nearest centroid — Arrow matmul
    # argmax, expression twin pinned equal (see _assign_cells).
    assigned = _assign_cells(c, centroids, "cid", "_cv", keep_vec=True).select(
        "cell", F.col("cid").alias("neighbor_id"), F.col("_cv")
    )

    # Each query probes its nprobe nearest cells.
    q = _prep(queries, id_col, vec_col, "query_id", "_qv")
    probe_w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("cell").asc())
    probes = (
        q.crossJoin(F.broadcast(centroids))
        # rounded similarity (floor(x*1e6+0.5)/1e6): probe choice must be
        # a function of the rounded value so the duckdb oracle's rank
        # window picks identical cells
        .withColumn(
            "_sim",
            F.floor(cosine(F.col("_qv"), F.col("_centroid")) * 1e6 + F.lit(0.5)) / 1e6,
        )
        .withColumn("_rn", F.row_number().over(probe_w))
        .where(F.col("_rn") <= nprobe)
        .select("query_id", "_qv", "cell")
    )

    # Broadcast the PROBE side, stream the corpus: probes are q*nprobe rows
    # (small by construction — the query set, not the corpus), while
    # `assigned` is the full corpus and must never be broadcast. Streaming
    # the corpus also means the final rank-limit sees a non-query_id
    # partitioning, so Spark plants a map-side Partial WindowGroupLimit
    # before the query_id exchange — only ~k rows per query per partition
    # shuffle, instead of the whole probe-join candidate set.
    rank_w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        F.broadcast(probes).join(assigned, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
        .withColumn("rank", F.row_number().over(rank_w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _ivf_centroids(c: DataFrame, num_cells: int, train_iters: int) -> DataFrame:
    """Shared IVF centroid builder over the prepped corpus (``cid``,
    ``_cv``). ``train_iters == 0``: the deterministic hash sample
    (num_cells rows is tiny — the single-partition window after limit()
    touches only those rows, not the corpus). ``train_iters > 0``:
    k-means-refined from that exact starting set (same salt)."""
    if train_iters > 0:
        from stream_processing_platform_spark.operators.clustering import trained_centroids

        return trained_centroids(
            c, id_col="cid", vec_col="_cv", num_cells=num_cells, train_iters=train_iters
        )
    # Knuth multiplicative-hash ordering (shared with
    # kmeans_fit_reproducible), not xxhash64: equally deterministic and
    # id-agnostic, but SQL-expressible — which is what lets q_ann_ivf
    # carry a FULL duckdb oracle (r9) instead of a rows-only check.
    from stream_processing_platform_spark.operators.clustering import repro_hash_col

    cell_w = Window.orderBy("_h", "cid")
    return (
        c.withColumn("_h", repro_hash_col(F.col("cid")))
        .orderBy("_h", "cid")
        .limit(num_cells)
        .withColumn("cell", (F.row_number().over(cell_w) - 1).cast("int"))
        .select("cell", F.col("_cv").alias("_centroid"))
    )


def _pq_codebook(
    c: DataFrame, dim: int, num_subspaces: int, num_codes: int, train_iters: int
) -> DataFrame:
    """Shared PQ codebook builder over the prepped corpus
    (``neighbor_id``, ``_cv``). ``train_iters == 0``: the m-th
    normalized subvector of hash-sample j is code j of subspace m.
    ``train_iters > 0``: per-subspace k-means refined from that exact
    starting set (same salt), all subspaces trained in one pass per
    iteration (operators/clustering.py:pq_train_codebooks)."""
    if train_iters > 0:
        from stream_processing_platform_spark.operators.clustering import pq_train_codebooks

        return pq_train_codebooks(
            c, id_col="neighbor_id", vec_col="_cv", dim=dim,
            num_subspaces=num_subspaces, num_codes=num_codes, train_iters=train_iters,
        )
    # Knuth ordering with the 0x51 offset (distinct from the IVF cell
    # sample), not xxhash64: SQL-expressible, which is what lets
    # q_ann_pq carry a full duckdb oracle (r9).
    from stream_processing_platform_spark.operators.clustering import repro_hash_col

    code_w = Window.orderBy("_h", "neighbor_id")
    return (
        c.withColumn("_h", repro_hash_col(F.col("neighbor_id"), 0x51))
        .orderBy("_h", "neighbor_id")
        .limit(num_codes)
        .withColumn("code", (F.row_number().over(code_w) - 1).cast("int"))
        .select(
            "code",
            F.posexplode(_subvectors(_l2_normalized(F.col("_cv")), dim, num_subspaces)).alias(
                "m", "csub"
            ),
        )
    )


def _l2_normalized(col):
    """Unit-normalize so sub-space L2 ordering matches cosine ordering.
    The norm is let()-bound — referenced per element, evaluated once."""
    return let(
        F.sqrt(F.aggregate(col, F.lit(0.0), lambda a, x: a + x * x)),
        lambda norm: F.transform(col, lambda x: x / norm),
    )


def _subvectors(col, dim: int, num_subspaces: int):
    d = dim // num_subspaces
    return F.array(*[F.slice(col, m * d + 1, d) for m in range(num_subspaces)])


def _l2sq(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda s, v: s + v
    )


def _encode_codes(
    df: DataFrame,
    id_name: str,
    vec_name: str,
    codebook: DataFrame,
    dim: int,
    num_subspaces: int,
    normalize: bool,
    encode: str = "arrow",
) -> DataFrame:
    """PQ-encode every vector: one code per subspace, argmin L2 against
    the broadcast codebook. Output: (id_name, codes array<int>).

    ``encode="arrow"`` (default) collects the tiny (M x K x d) codebook
    to the driver and encodes each Arrow batch as one einsum in
    ``clustering._pq_assign_udf`` — the expression form explodes
    rows x subspaces, joins the codebook, and re-aggregates: a
    rows x subspaces x codes intermediate whose interpreted per-element
    L2 folds dominated q_ann_pq at sf0.1 (measured ~2x on the full
    query). Same argmin, same lowest-code tie-break (np.argmin takes
    the first minimum; codes are index-ordered); the admitted
    pairwise-vs-sequential summation delta only moves fp-noise ties —
    the expression twin is pinned code-for-code equal by pytest.
    ``normalize`` applies l2 normalization inside the encoder (the raw
    PQ form); residual vectors pass normalize=False."""
    if encode == "arrow":
        import numpy as np
        import pandas as pd

        rows = codebook.select("m", "code", "csub").collect()  # bounded: M x K x d
        M = 1 + max(r["m"] for r in rows)
        K = 1 + max(r["code"] for r in rows)
        d = len(rows[0]["csub"])
        CB = np.zeros((M, K, d), dtype=np.float64)
        for r in rows:
            CB[r["m"], r["code"]] = r["csub"]
        cb_sq = (CB * CB).sum(axis=2)  # (M, K)
        id_type = dict(df.dtypes)[id_name]
        schema = f"{id_name} {id_type}, codes array<int>"

        # mapInPandas, not a pandas_udf projection: the residual input
        # column is itself a zip_with expression, and Catalyst collapses
        # a UDF projection into downstream join/aggregate operators
        # where PythonUDF extraction fails (Cannot evaluate expression:
        # encode(...)) — an operator node is immune, same lesson as
        # _sem_members_arrow.
        def run(batches):
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                X = _stack_checked(pdf, id_name, vec_name, M * d)
                if normalize:
                    X = X / np.linalg.norm(X, axis=1, keepdims=True)
                S = X.reshape(n, M, d)
                cross = np.einsum("nmd,mkd->nmk", S, CB)
                dist = (S * S).sum(axis=2)[:, :, None] - 2.0 * cross + cb_sq[None, :, :]
                # rounded BEFORE the argmin (r9): the winning code is a
                # function of the 1e-6-rounded distance, so the einsum's
                # summation-order noise vs the expression fold can only
                # matter on a boundary — the accepted Arrow-twin
                # exception (pinned code-for-code by pytest), and what
                # makes the duckdb PQ oracle's argmin reproduce this one.
                dist = np.floor(dist * 1e6 + 0.5)
                codes = dist.argmin(axis=2).astype("int32")
                yield pd.DataFrame(
                    {id_name: pdf[id_name].to_numpy(), "codes": list(codes)}
                )

        return df.select(F.col(id_name), F.col(vec_name)).mapInPandas(run, schema)

    vec = _l2_normalized(F.col(vec_name)) if normalize else F.col(vec_name)
    subs = df.select(
        id_name, F.posexplode(_subvectors(vec, dim, num_subspaces)).alias("m", "sub")
    )
    # argmin as min(struct(dist, code)) — struct ordering is (dist asc,
    # code asc), so the result is deterministic AND the aggregate
    # partials combine map-side; a window-rank argmin would shuffle and
    # sort the full N x subspaces x codes expansion instead.
    return (
        subs.join(F.broadcast(codebook), "m")
        .withColumn("_d", F.floor(_l2sq(F.col("sub"), F.col("csub")) * 1e6 + F.lit(0.5)))
        .groupBy(id_name, "m")
        .agg(F.min(F.struct("_d", "code"))["code"].alias("code"))
        .groupBy(id_name)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))), lambda s: s["code"]
            ).alias("codes")
        )
    )


def _assign_cells(
    c: DataFrame,
    centroids: DataFrame,
    id_name: str = "cid",
    vec_name: str = "_cv",
    keep_vec: bool = False,
    assign: str = "arrow",
) -> DataFrame:
    """Nearest-centroid cell per corpus vector (max cosine, lowest-cell
    tie-break). Output: (cell, id_name[, vec_name]).

    ``assign="arrow"`` (default) computes all cells per Arrow batch as
    one normalized matmul argmax in mapInPandas — the expression form
    crossJoins the broadcast centroids and folds an interpreted cosine
    per (row x cell) expansion row. Same tie-break (cells index-sorted,
    np.argmax takes the first maximum); fp-noise ties are the only
    divergence channel and the expression twin is pinned row-for-row
    equal by pytest (same doctrine as _encode_codes)."""
    if assign == "arrow":
        import numpy as np
        import pandas as pd

        rows = sorted(
            centroids.select("cell", "_centroid").collect(),  # bounded: k x dim
            key=lambda r: r["cell"],
        )
        cells = np.array([r["cell"] for r in rows], dtype=np.int64)
        vecs = [r["_centroid"] for r in rows]
        dim = next((len(v) for v in vecs if v is not None), 0)
        bad = [i for i, v in enumerate(vecs) if v is None or len(v) != dim]
        if bad:
            raise ValueError(
                f"IVF centroid rows {bad} have NULL or non-{dim}-dim vectors "
                f"(the sampled corpus rows must be valid embeddings)"
            )
        C = np.ascontiguousarray(vecs, dtype=np.float64)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        id_type = dict(c.dtypes)[id_name]
        out_cols = f"cell int, {id_name} {id_type}" + (
            f", {vec_name} array<double>" if keep_vec else ""
        )

        def run(batches):
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                X = _stack_checked(pdf, id_name, vec_name, C.shape[1])
                sims = (X / np.linalg.norm(X, axis=1, keepdims=True)) @ Cn.T
                # rounded BEFORE the argmax (r9): the winning cell is a
                # function of the 1e-6-rounded similarity, so the matmul's
                # pairwise-sum noise vs the fold (~1e-15) can only matter
                # exactly on a boundary — the accepted Arrow-twin
                # exception, and what makes the duckdb IVF oracle's
                # argmax reproduce this one. np.argmax takes the first
                # max: lowest cell, same as min(struct(-sim, cell)).
                sims = np.floor(sims * 1e6 + 0.5) / 1e6
                cell = cells[sims.argmax(axis=1)].astype("int32")
                data = {"cell": cell, id_name: pdf[id_name].to_numpy()}
                if keep_vec:
                    data[vec_name] = list(X)
                yield pd.DataFrame(data)

        return c.select(F.col(id_name), F.col(vec_name)).mapInPandas(run, out_cols)

    # argmax as min(struct(-sim, cell)) — (sim desc, cell asc)
    # determinism preserved, and the aggregate combines map-side instead
    # of sorting the N x num_cells expansion through a rank window. The
    # vector rides along via first(): every expansion row of an id
    # carries the identical vector, so first() is value-deterministic.
    aggs = [
        F.min(F.struct((-F.col("_sim")).alias("_neg"), F.col("cell")))["cell"].alias("cell")
    ]
    if keep_vec:
        aggs.append(F.first(vec_name).alias(vec_name))
    rounded = F.floor(cosine(F.col(vec_name), F.col("_centroid")) * 1e6 + F.lit(0.5)) / 1e6
    out = (
        c.crossJoin(F.broadcast(centroids))
        .withColumn("_sim", rounded)
        .groupBy(id_name)
        .agg(*aggs)
    )
    cols = ["cell", id_name] + ([vec_name] if keep_vec else [])
    return out.select(*cols)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    num_subspaces: int = 16,
    num_codes: int = 64,
    refine: int = 16,
    train_iters: int = 0,
) -> DataFrame:
    """Approximate cosine top-k via product quantization + exact re-rank.

    Pipeline (every stage scale-shaped):

    1. **Codebooks** — ``num_codes`` deterministic hash-sample rows; the
       m-th subvector of sample j is code j of subspace m; or, with
       ``train_iters > 0``, the same starting set refined by per-subspace
       k-means (operators/clustering.py:pq_train_codebooks — all
       subspaces in one pass per iteration). Tiny either way:
       ``num_subspaces × num_codes`` rows, broadcast.
    2. **Encode** — each corpus vector → one code per subspace (argmin
       L2 over the broadcast codebook, rank-limited window per
       (vector, subspace)). The encoded corpus is ``num_subspaces``
       ints per vector — the memory path that lets 100 TB of float
       vectors sit in ~1.5 TB of codes.
    3. **ADC scoring** — per query, a (subspace × code) distance table,
       built against the same broadcast codebook and itself broadcast to
       the encoded corpus scan; approximate distance is
       ``sum_m table[m][code_m]`` via zip_with/aggregate, no Python.
    4. **Refine** — the top ``k*refine`` PQ candidates per query (window
       rank-limit) join BACK to the original vectors (broadcast of the
       bounded candidate set, corpus streams) for exact cosine, then the
       final top-k. Output schema matches ivf_topk:
       (query_id, neighbor_id, cos, rank).
    """
    c = _prep(corpus, id_col, vec_col, "neighbor_id", "_cv")
    q = _prep(queries, id_col, vec_col, "query_id", "_qv")

    # num_codes sample rows -> (m, code, csub) per subspace, broadcast.
    codebook = _pq_codebook(c, dim, num_subspaces, num_codes, train_iters)

    # Encode: nearest code per (vector, subspace) — Arrow einsum path,
    # expression twin pinned equal (see _encode_codes).
    encoded = _encode_codes(
        c, "neighbor_id", "_cv", codebook, dim, num_subspaces, normalize=True
    )

    # Per-query ADC table: dtable[m][code] = L2^2(q_sub_m, code vector),
    # on the 1e-6 INTEGER grid (r9): integer table entries make the
    # per-candidate sum exact and order-free, so candidate ranking is
    # bit-deterministic cross-engine — what the duckdb oracle replays.
    q_subs = q.select(
        "query_id",
        F.posexplode(_subvectors(_l2_normalized(F.col("_qv")), dim, num_subspaces)).alias(
            "m", "sub"
        ),
    )
    qtab = (
        q_subs.join(F.broadcast(codebook), "m")
        .withColumn("_d", F.floor(_l2sq(F.col("sub"), F.col("csub")) * 1e6 + F.lit(0.5)))
        .groupBy("query_id", "m")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("code", "_d"))), lambda s: s["_d"]
            ).alias("row")
        )
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "row"))), lambda s: s["row"]
            ).alias("dtable")
        )
    )

    # ADC scan: encoded corpus streams, per-query tables broadcast.
    pq_w = Window.partitionBy("query_id").orderBy(F.col("pq_dist").asc(), F.col("neighbor_id").asc())
    cands = (
        encoded.crossJoin(F.broadcast(qtab))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "pq_dist",
            F.aggregate(
                F.zip_with("codes", "dtable", lambda code, row: F.element_at(row, code + 1)),
                F.lit(0).cast("long"),
                lambda s, v: s + v,
            ),
        )
        .withColumn("_rn", F.row_number().over(pq_w))
        .where(F.col("_rn") <= k * refine)
        .select("query_id", "neighbor_id")
    )

    # Exact re-rank of the bounded candidate set: candidates broadcast,
    # corpus streams; queries broadcast for the cosine.
    return _exact_rerank(cands, c, q, k)


def _exact_rerank(cands: DataFrame, c: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Shared final stage of every approximate tier: exact cosine over
    the bounded (query_id, neighbor_id) candidate set — candidates and
    queries broadcast, corpus streams — then the true top-k. Directly
    oracle-checked by q_ann_rerank (a fixed candidate rule both engines
    can generate), so the scoring math of the PQ/IVF-PQ tiers has a
    DuckDB hash-MATCH even though their candidate GENERATION is
    approximate (recall-gated in pytest instead)."""
    rank_w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        F.broadcast(cands)
        .join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cos", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
        .withColumn("rank", F.row_number().over(rank_w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def rerank_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Public form of the exact re-rank stage: given an explicit
    candidate set (columns ``query_id``, ``neighbor_id``), score each
    pair with exact cosine and keep the top ``k`` per query. This is
    the composable primitive under pq_topk/ivfpq_topk — usable on its
    own to re-rank candidates from any external retriever."""
    c = _prep(corpus, id_col, vec_col, "neighbor_id", "_cv")
    q = _prep(queries, id_col, vec_col, "query_id", "_qv")
    return _exact_rerank(candidates, c, q, k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    num_cells: int = 16,
    nprobe: int = 4,
    num_subspaces: int = 16,
    num_codes: int = 64,
    refine: int = 16,
    train_iters: int = 0,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ: the combined index — IVF cells bound WHICH candidates are
    scored (``nprobe/num_cells`` of the corpus), PQ codes bound WHAT
    scoring a candidate costs (``num_subspaces`` table lookups instead
    of ``dim`` multiply-adds), and the exact re-rank restores cosine
    fidelity on the surviving ``k*refine`` per query. This is the
    FAISS-style composition: at 100 TB the scored structure is
    (cell, 16 one-byte codes) per vector — the float vectors are read
    only by the build stage and the final re-rank join.

    Both sub-indexes are built from the same deterministic hash samples
    as ivf_topk / pq_topk; the one extra build-time cost is a corpus-
    keyed join attaching codes to cell assignments (amortized: at scale
    both live in one precomputed index table).

    ``residual=True`` is the faithful FAISS composition: PQ encodes the
    RESIDUAL ``x/|x| − c/|c|`` (vector minus its cell centroid, both
    unit-normalized) instead of the raw vector, and each query builds a
    per-(query, cell) ADC table against ``q/|q| − c/|c|``. Residuals
    concentrate near zero, so the same code budget spends its precision
    on the part of the vector the cell doesn't already explain —
    measured recall lift in tests/test_ann_quality.py. Costs one extra
    broadcast join at build (attach centroids) and nprobe× more (still
    tiny) query-table rows. With ``train_iters > 0`` BOTH sub-indexes
    train: the IVF centroids k-means-refine as usual, and the PQ
    codebook k-means-trains over the residuals themselves
    (``normalize=False`` — residuals must not be re-normalized), from
    the same salt-0x52 hash-sample init as the untrained branch.

    Output schema matches the other tiers: query_id, neighbor_id, cos,
    rank. Recall vs brute force tested in test_ann_quality.
    """
    c = _prep(corpus, id_col, vec_col, "cid", "_cv")

    # --- IVF side: centroids, cell assignment, query probes ----------
    centroids = _ivf_centroids(c, num_cells, train_iters)
    assigned = _assign_cells(c, centroids, "cid", "_cv").select(
        F.col("cid").alias("neighbor_id"), "cell"
    )

    # --- PQ side: codebook + corpus codes ----------------------------
    cn = c.select(F.col("cid").alias("neighbor_id"), "_cv")
    if residual:
        ncent = centroids.select(
            "cell", _l2_normalized(F.col("_centroid")).alias("_ncent")
        )
        rres = (
            cn.join(assigned, "neighbor_id")
            .join(F.broadcast(ncent), "cell")
            .select(
                "neighbor_id",
                F.zip_with(
                    _l2_normalized(F.col("_cv")), F.col("_ncent"), lambda x, y: x - y
                ).alias("_rv"),
            )
        )
        if train_iters > 0:
            # k-means over the RESIDUALS themselves (normalize=False:
            # residuals are already centered near zero; re-normalizing
            # would destroy exactly the concentration the codebook
            # exploits), init'd from the same salt-0x52 hash sample the
            # untrained branch uses
            from stream_processing_platform_spark.operators.clustering import (
                pq_train_codebooks,
            )

            codebook = pq_train_codebooks(
                rres, id_col="neighbor_id", vec_col="_rv", dim=dim,
                num_subspaces=num_subspaces, num_codes=num_codes,
                train_iters=train_iters, salt=0x52, normalize=False,
            )
        else:
            from stream_processing_platform_spark.operators.clustering import repro_hash_col

            code_w = Window.orderBy("_h", "neighbor_id")
            codebook = (
                rres.withColumn("_h", repro_hash_col(F.col("neighbor_id"), 0x52))
                .orderBy("_h", "neighbor_id")
                .limit(num_codes)
                .withColumn("code", (F.row_number().over(code_w) - 1).cast("int"))
                .select(
                    "code",
                    F.posexplode(_subvectors(F.col("_rv"), dim, num_subspaces)).alias(
                        "m", "csub"
                    ),
                )
            )
        encoded = _encode_codes(
            rres, "neighbor_id", "_rv", codebook, dim, num_subspaces, normalize=False
        )
    else:
        codebook = _pq_codebook(cn, dim, num_subspaces, num_codes, train_iters)
        encoded = _encode_codes(
            cn, "neighbor_id", "_cv", codebook, dim, num_subspaces, normalize=True
        )

    # the index table: (neighbor_id, cell, codes) — corpus-keyed join,
    # built once (precomputed and reused at production scale)
    index = assigned.join(encoded, "neighbor_id")

    # --- query side: probes + ADC tables -----------------------------
    q = _prep(queries, id_col, vec_col, "query_id", "_qv")
    if not residual:
        # non-residual query path is the shared ivfpq_query
        return ivfpq_query(
            centroids, codebook, index, cn, q, k=k, dim=dim,
            num_subspaces=num_subspaces, nprobe=nprobe, refine=refine,
        )
    probe_w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("cell").asc())
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn(
            "_sim",
            F.floor(cosine(F.col("_qv"), F.col("_centroid")) * 1e6 + F.lit(0.5)) / 1e6,
        )
        .withColumn("_rn", F.row_number().over(probe_w))
        .where(F.col("_rn") <= nprobe)
        .select("query_id", "cell", "_qv")
    )
    # per-(query, cell) residual ADC table — the table depends on
    # WHICH cell is probed, so it's built per probe pair (q*nprobe
    # rows, still tiny and broadcast)
    q_subs = (
        probes.join(F.broadcast(ncent), "cell")
        .select(
            "query_id", "cell",
            F.posexplode(
                _subvectors(
                    F.zip_with(
                        _l2_normalized(F.col("_qv")), F.col("_ncent"), lambda x, y: x - y
                    ),
                    dim, num_subspaces,
                )
            ).alias("m", "sub"),
        )
    )
    probe_tabs = (
        q_subs.join(F.broadcast(codebook), "m")
        .withColumn("_d", F.floor(_l2sq(F.col("sub"), F.col("csub")) * 1e6 + F.lit(0.5)))
        .groupBy("query_id", "cell", "m")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("code", "_d"))), lambda s: s["_d"]
            ).alias("row")
        )
        .groupBy("query_id", "cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "row"))), lambda s: s["row"]
            ).alias("dtable")
        )
    )
    cands = _adc_candidates(probe_tabs, index, k, refine)
    return _exact_rerank(cands, cn, q, k)


def _adc_candidates(probe_tabs: DataFrame, index: DataFrame, k: int, refine: int) -> DataFrame:
    """ADC scoring inside probed cells only: broadcast the tiny
    per-query tables, stream the (cell, codes) index, rank-limit to the
    bounded candidate set."""
    pq_w = Window.partitionBy("query_id").orderBy(
        F.col("pq_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        F.broadcast(probe_tabs)
        .join(index, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "pq_dist",
            F.aggregate(
                F.zip_with("codes", "dtable", lambda code, row: F.element_at(row, code + 1)),
                F.lit(0.0),
                lambda s, v: s + v,
            ),
        )
        .withColumn("_rn", F.row_number().over(pq_w))
        .where(F.col("_rn") <= k * refine)
        .select("query_id", "neighbor_id")
    )


def ivfpq_query(
    centroids: DataFrame,
    codebook: DataFrame,
    index: DataFrame,
    corpus_prepped: DataFrame,
    queries_prepped: DataFrame,
    k: int,
    dim: int,
    num_subspaces: int,
    nprobe: int,
    refine: int,
) -> DataFrame:
    """The IVF-PQ QUERY path against prebuilt index artifacts —
    (``centroids``: cell/_centroid, ``codebook``: code/m/csub,
    ``index``: neighbor_id/cell/codes) — used by ``ivfpq_topk``: each
    query batch touches only the probed cells' codes plus the re-rank
    join."""
    q = queries_prepped
    probe_w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("cell").asc())
    probes = (
        q.crossJoin(F.broadcast(centroids))
        # rounded: probe choice must be a function of the 1e-6-rounded
        # similarity so the duckdb oracle picks identical cells (r9)
        .withColumn(
            "_sim",
            F.floor(cosine(F.col("_qv"), F.col("_centroid")) * 1e6 + F.lit(0.5)) / 1e6,
        )
        .withColumn("_rn", F.row_number().over(probe_w))
        .where(F.col("_rn") <= nprobe)
        .select("query_id", "cell")
    )
    q_subs = q.select(
        "query_id",
        F.posexplode(_subvectors(_l2_normalized(F.col("_qv")), dim, num_subspaces)).alias(
            "m", "sub"
        ),
    )
    qtab = (
        q_subs.join(F.broadcast(codebook), "m")
        # integer 1e-6 grid: exact order-free candidate sums (r9)
        .withColumn("_d", F.floor(_l2sq(F.col("sub"), F.col("csub")) * 1e6 + F.lit(0.5)))
        .groupBy("query_id", "m")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("code", "_d"))), lambda s: s["_d"]
            ).alias("row")
        )
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "row"))), lambda s: s["row"]
            ).alias("dtable")
        )
    )
    probe_tabs = probes.join(qtab, "query_id")  # q*nprobe rows, tiny
    cands = _adc_candidates(probe_tabs, index, k, refine)
    return _exact_rerank(cands, corpus_prepped, q, k)

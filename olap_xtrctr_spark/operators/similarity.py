"""Similarity search over an embedding column (array<float>).

* ``cosine_topk`` — brute-force exact top-k: query set broadcast against
  the corpus, dot products via JVM higher-order functions (zip_with +
  aggregate in double precision — no Python in the hot path).
* ``lsh_cosine_topk`` — random-hyperplane LSH scale path: sign-bit
  signatures bucket the corpus so each query only scores its bucket
  (multi-probe over Hamming-adjacent buckets for recall).

At 100 TB the corpus side stays partitioned; only the query set (small
by construction) is broadcast.
"""
from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, sequential (deterministic)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def _cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def embedding_norms(emb: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    return emb.select(id_col, F.round(_norm(F.col(vec_col)), 4).alias("l2_norm"))


def cosine_topk(emb: DataFrame, query_ids: list[int], k: int = 3,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query id (self excluded).
    Rank ties break by neighbor id for determinism."""
    queries = (emb.filter(F.col(id_col).isin(query_ids))
                  .select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).alias("qvec"),
                          _norm(F.col(vec_col)).alias("qnorm")))
    corpus = emb.select(F.col(id_col).alias("neighbor_id"),
                        F.col(vec_col).alias("nvec"),
                        _norm(F.col(vec_col)).alias("nnorm"))
    scored = (
        corpus.join(F.broadcast(queries),
                    F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cos", _dot(F.col("qvec"), F.col("nvec"))
                          / (F.col("qnorm") * F.col("nnorm")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "rank", "neighbor_id",
                          F.round("cos", 4).alias("cosine")))


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def ivf_cosine_topk(emb: DataFrame, query_ids: list[int], k: int = 3,
                    n_clusters: int = 8, n_probe: int = 2,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    seed: int = 42) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans partitions the corpus
    into ``n_clusters`` cells; each query scores only the ``n_probe``
    cells nearest its vector.

    Scale shape: the corpus is clustered and bucketed distributively
    (pyspark.ml KMeans); only the QUERY vectors (small by construction)
    and the centroids (n_clusters × dim) ever reach the driver.  The
    candidate join broadcasts the (query, bucket) probe list, so the
    corpus never shuffles."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.select(
        F.col(id_col), F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>"))
        .alias("features"))
    model = KMeans(k=n_clusters, seed=seed, maxIter=10,
                   featuresCol="features").fit(feats)
    assigned = model.transform(feats).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        F.col("prediction").alias("bucket"))

    centers = model.clusterCenters()
    qrows = (emb.filter(F.col(id_col).isin(query_ids))
                .select(id_col, vec_col).collect())
    probes = []
    for r in qrows:
        v = np.asarray(r[vec_col], dtype=float)
        dists = [float(np.linalg.norm(v - c)) for c in centers]
        for b in np.argsort(dists)[:n_probe]:
            probes.append((r[id_col], int(b)))
    spark = emb.sparkSession
    probe_df = spark.createDataFrame(probes, ["query_id", "bucket"])
    queries = (emb.filter(F.col(id_col).isin(query_ids))
                  .select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).alias("qvec")))

    cand = (assigned
            .join(F.broadcast(probe_df), "bucket")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .join(F.broadcast(queries), "query_id"))
    scored = cand.withColumn("cos", _cosine(F.col("qvec"), F.col("nvec")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "rank", "neighbor_id",
                          F.round("cos", 4).alias("cosine")))


def cluster_balanced_sample(emb: DataFrame, k_per_cluster: int,
                            n_clusters: int = 16,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            seed: int = 42,
                            salt: str = "cbal-v1") -> DataFrame:
    """Diversity-preserving subsample: KMeans the embedding space into
    ``n_clusters`` cells, keep a DETERMINISTIC hash-rank sample of at
    most ``k_per_cluster`` vectors per cell — the cluster-balanced
    curation move (sample per semantic region instead of uniformly, so
    a head-heavy corpus cannot crowd the tail out of the training mix;
    the per-cell companion of SemDeDup's drop-within-cell).

    Scale shape: clustering is distributed (pyspark.ml KMeans, only the
    n_clusters x dim centroids on the driver); the per-cell rank is one
    window over the cell key (hash order = reproducible permutation,
    same discipline as ``sampling.sample_k_per_group``); cells smaller
    than k are returned whole.  Output: (id, cluster, rank) — rows-only
    with in-entry structural checks (KMeans cell ids are not
    SQL-expressible)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.select(
        F.col(id_col),
        array_to_vector(F.col(vec_col).cast("array<double>"))
        .alias("features"))
    model = KMeans(k=n_clusters, seed=seed, maxIter=10,
                   featuresCol="features").fit(feats)
    assigned = model.transform(feats).select(
        F.col(id_col), F.col("prediction").alias("cluster"))
    h = F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                          F.lit(salt)))
    w = Window.partitionBy("cluster").orderBy(h.asc(), F.col(id_col))
    return (assigned.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k_per_cluster)
            .select(id_col, "cluster", "rank"))


def _cell_assign_udf(centers, n_assign: int):
    """Arrow batch kernel: each vector's ``n_assign`` nearest KMeans
    cells via one GEMM-shaped distance computation against the
    centroid matrix (driver-tiny, broadcast in the closure) — the
    multi-probe soft assignment that keeps straddling near-dup pairs
    in at least one shared cell."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centers, dtype=np.float64)          # (k, dim)
    c2 = (C * C).sum(axis=1)

    def cells(col):
        V = np.array(list(col), dtype=np.float64)       # (batch, dim)
        d2 = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + c2[None, :]
        top = np.argsort(d2, axis=1)[:, :n_assign]
        return pd.Series(list(top.astype(np.int32)))

    cells.__annotations__ = {"col": pd.Series, "return": pd.Series}
    return pandas_udf("array<int>")(cells)


def _blocked_pairs(assigned: DataFrame, block_cols: list[str],
                   threshold: float, id_col: str,
                   vec_col: str) -> DataFrame:
    """Shared SemDeDup tail: within-block candidate pairs (equi-join
    on the block key, never a cartesian), pair-level dedup BEFORE the
    cosine, exact cosine filter at ``threshold``."""
    a = assigned.select(*block_cols, F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("_va"))
    b = assigned.select(*block_cols, F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("_vb"))
    pairs = (a.join(b, block_cols)
             .filter(F.col("id_a") < F.col("id_b"))
             # a pair sharing 2 blocks must score ONCE (and the
             # dedup runs BEFORE the cosine, not after)
             .dropDuplicates(["id_a", "id_b"])
             .withColumn("cosine", _cosine(F.col("_va"), F.col("_vb")))
             .filter(F.col("cosine") >= threshold))
    return pairs.select("id_a", "id_b",
                        F.round("cosine", 4).alias("cosine"))


def _blocked_pairs_gemm(assigned: DataFrame, block_cols: list[str],
                        threshold: float, id_col: str,
                        vec_col: str) -> DataFrame:
    """Blockwise-GEMM twin of _blocked_pairs for the OVERSIZED-cell
    rescue path: one applyInPandas group per block, chunked float64
    matmul of the normalized block matrix against itself, only
    above-threshold (id_a < id_b) pairs emitted.

    Two orders of magnitude over the HOF plan where it matters: the
    equi-join shape routes every candidate pair (with BOTH vectors)
    through the dropDuplicates exchange — Σ|block|² rows × ~550 B
    spilled ~TB at the r12 200k probe — and scores them in interpreted
    per-element folds (~1.6e9 dots/s across 32 cores).  Here vectors
    never leave their block's task, the only exchange is the groupBy
    (one row per assignment) plus a dropDuplicates over the tiny
    survivor set, and the dots run in BLAS.  Cosine rounds
    half-away-from-zero exactly like dedup.embedding_near_dups (the
    exact-GEMM reference kernel these outputs are gated against).
    The in-bound path keeps the HOF equi-join — it is the
    oracle-graded, byte-stable plan."""
    import numpy as np
    import pandas as pd

    def blockfn(pdf):
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                                 "id_b": pd.Series([], dtype="int64"),
                                 "cosine": pd.Series([], dtype="float64")})
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        V = np.stack([np.asarray(v) for v in pdf[vec_col]]).astype(
            np.float64)
        norms = np.sqrt((V * V).sum(axis=1))
        norms[norms == 0.0] = 1.0          # zero vectors match nothing
        Vn = V / norms[:, None]
        # chunk so the score slab stays ~128 MiB regardless of block n
        chunk = max(64, (1 << 24) // max(1, n))
        outs = []
        for i0 in range(0, n, chunk):
            S = Vn[i0:i0 + chunk] @ Vn.T
            mask = ((S >= threshold)
                    & (ids[i0:i0 + chunk][:, None] < ids[None, :]))
            ai, bi = np.nonzero(mask)
            if len(ai):
                cos = S[ai, bi]
                outs.append(pd.DataFrame({
                    "id_a": ids[i0 + ai], "id_b": ids[bi],
                    "cosine": np.floor(cos * 1e4 + 0.5) / 1e4}))
        if not outs:
            return pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                                 "id_b": pd.Series([], dtype="int64"),
                                 "cosine": pd.Series([], dtype="float64")})
        return pd.concat(outs, ignore_index=True)

    pairs = (assigned.groupBy(*block_cols)
             .applyInPandas(blockfn,
                            "id_a long, id_b long, cosine double")
             # a pair sharing n_assign blocks emits n_assign identical
             # slim rows — dedup AFTER the threshold filter, so the
             # exchange carries only survivors
             .dropDuplicates(["id_a", "id_b"]))
    return pairs.select("id_a", "id_b", "cosine")


def _subblock_oversized(assigned: DataFrame, max_cell_rows: int,
                        opname: str, vec_col: str,
                        remedy: str) -> tuple[DataFrame, list[str]]:
    """Huge-cell graceful path (VERDICT r12 task 3): split every cell
    exceeding ``max_cell_rows`` into (cell, frozen-PQ-code-prefix)
    sub-blocks — code_0 first, code_1 for sub-blocks still over the
    bound — and return (re-keyed assignment, block columns).  Cells
    within the bound keep the single-key block, so corpora where no
    cell exceeds the bound take the EXACT path untouched (that is the
    gate/oracle regime).  Pairs whose members land in different
    sub-blocks of the same oversized cell are lost — a recall
    reduction confined to the oversized cells, logged loudly;
    precision stays 1 (same exact cosine, same threshold).  If two
    code levels (16x16 = 256-way) still leave an oversized sub-block,
    refuse with the retrain remedy — at that density the frozen grid
    genuinely no longer fits the corpus."""
    import logging

    from pyspark import StorageLevel

    from ..session import track_persist
    log = logging.getLogger(__name__)
    # persisted BEFORE the size probes: the probes materialize the
    # blocks the pair join then reuses (the shingle-probe discipline,
    # ADVICE r12) — this path re-quantizes the corpus otherwise
    df = track_persist(
        assigned.withColumn("_pqc", _pq_assign_udf()(F.col(vec_col))),
        StorageLevel.MEMORY_AND_DISK)
    block_cols = ["_cell"]
    for level, sub in ((0, "_sub1"), (1, "_sub2")):
        sizes = (df.groupBy(*block_cols)
                 .agg(F.count(F.lit(1)).alias("n"))
                 .filter(F.col("n") > max_cell_rows))
        # bounded collect: <= n_cells combos at level 0, <= 16x that
        # at level 1 — the block-key space is tiny by construction
        over = [tuple(r[c] for c in block_cols)
                for r in sizes.collect()]
        if not over:
            break
        log.warning(
            "%s: %d block(s) exceed max_cell_rows=%d — sub-blocking "
            "them by frozen PQ code_%d (pairs straddling sub-blocks "
            "of one oversized cell are lost; smaller cells stay "
            "exact).  Retrain a finer frozen grid to remove the "
            "split: %s", opname, len(over), max_cell_rows, level,
            remedy)
        cond = None
        for key in over:
            this = None
            for c, v in zip(block_cols, key):
                t = F.col(c) == F.lit(v)
                this = t if this is None else (this & t)
            cond = this if cond is None else (cond | this)
        # coalesce keeps the new key NON-NULLABLE so downstream join
        # inference cannot push a filter below the (pinned) kernel
        df = df.withColumn(sub, F.coalesce(
            F.when(cond, F.col("_pqc")[level]), F.lit(-1)))
        block_cols.append(sub)
    else:
        final = (df.groupBy(*block_cols)
                 .agg(F.count(F.lit(1)).alias("n"))
                 .agg(F.max("n")).first()[0]) or 0
        if final > max_cell_rows:
            raise ValueError(
                f"{opname}: a 256-way PQ sub-block still holds "
                f"{final} rows (> {max_cell_rows}) — the frozen grid "
                f"no longer fits this corpus; {remedy}")
    return df.drop("_pqc"), block_cols


# Fixed partition count of the SemDeDup KMeans fit input: a constant,
# not a setting, so the trained cells never follow the host's cores.
_SEMDEDUP_FIT_PARTITIONS = 4


def semantic_dedup_pairs(emb: DataFrame, threshold: float = 0.995,
                         n_clusters: int = 8, n_assign: int = 3,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding", seed: int = 42,
                         max_cell_rows: int = 50_000,
                         oversize: str = "subblock") -> DataFrame:
    """SemDeDup-style cluster-blocked near-duplicate pairs (Abbas et
    al. 2023, arXiv:2303.09540): KMeans cells block the quadratic pair
    generation — each vector joins its ``n_assign`` nearest cells
    (multi-probe soft assignment, the recall lever for pairs whose
    members straddle a cell boundary), candidate pairs are generated
    within shared cells only, then exact cosine filters at
    ``threshold``.  Output (id_a, id_b, cosine) with id_a < id_b,
    cosine rounded to 4 — the embedding_near_dups contract minus
    pairs the blocking separated (recall gated per-entry; precision
    is 1 by construction: same exact cosine, same threshold).

    Scale shape: clustering is distributed (only the n_clusters x dim
    centroid matrix touches the driver; cell picking is an Arrow
    batch kernel, never per-row python); the pair join is an
    EQUI-join on the cell id (hash/SMJ, never a cartesian), so cost
    is Σ|cell|² over n_assign-inflated cells, not |corpus|² — size
    ``n_clusters`` ~ corpus/1000 at scale.  A cell exceeding
    ``max_cell_rows`` never goes silently quadratic (one tiny
    count-agg guard; 50k² = 2.5e9 candidate pairs — measured r12: a
    75k-row cell already runs past 10 minutes on local[32]):
    ``oversize="subblock"`` (default, VERDICT r12 task 3) splits ONLY
    the oversized cells by frozen PQ code prefix and dedups within
    sub-blocks (recall reduction confined to those cells, logged;
    corpora with every cell in bound are bit-identical to the exact
    path), ``oversize="error"`` restores the loud refusal — raise
    n_clusters.

    Determinism: the trained cells, and so the pairs, depend only on
    the corpus and ``seed`` — not on the input partitioning or the
    core count.  k-means|| seeding samples per partition, so the fit
    reads the features in a fixed layout of ``_SEMDEDUP_FIT_PARTITIONS``
    (4) hash partitions on ``id_col``, each sorted by ``id_col``; the
    assignment, size guard and pair join run on ``emb`` as it came in.
    The value 4 is not tuned: each fixed count tried (1, 2, 3, 4, 5,
    8, 16 and 32) finds all 7 exact pairs of the sf0.001 fixture at
    threshold 0.45; only a layout that follows ``local[N]`` loses
    one."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.select(
        F.col(id_col),
        array_to_vector(F.col(vec_col).cast("array<double>"))
        .alias("features"))
    model = KMeans(k=n_clusters, seed=seed, maxIter=10,
                   featuresCol="features").fit(
        feats.repartition(_SEMDEDUP_FIT_PARTITIONS, id_col)
             .sortWithinPartitions(id_col))
    from pyspark import StorageLevel

    cells = _cell_assign_udf(
        [list(map(float, c)) for c in model.clusterCenters()],
        min(n_assign, n_clusters))
    # persisted: the assignment (an Arrow GEMM pass over the corpus)
    # feeds the size guard AND both sides of the pair join — without
    # the pin each consumer would recompute it.  Tracked so long-lived
    # hosts can bulk-release (session.release_tracked_caches) instead
    # of accumulating cached blocks across requests (ADVICE r11).
    from ..session import track_persist
    assigned = track_persist(
        emb.select(F.col(id_col), F.col(vec_col))
           .withColumn("_cell", F.explode(cells(F.col(vec_col)))),
        StorageLevel.MEMORY_AND_DISK)
    biggest = (assigned.groupBy("_cell")
               .agg(F.count(F.lit(1)).alias("n"))
               .agg(F.max("n")).first()[0]) or 0
    block_cols = ["_cell"]
    if biggest > max_cell_rows:
        if oversize != "subblock":
            raise ValueError(
                f"semantic_dedup_pairs: largest KMeans cell holds "
                f"{biggest} rows (> {max_cell_rows}); the within-cell "
                f"pair join would go quadratic — raise n_clusters "
                f"(currently {n_clusters}) so cells stay bounded")
        assigned, block_cols = _subblock_oversized(
            assigned, max_cell_rows, "semantic_dedup_pairs", vec_col,
            remedy=f"or raise n_clusters (currently {n_clusters})")
        return _blocked_pairs_gemm(assigned, block_cols, threshold,
                                   id_col, vec_col)
    return _blocked_pairs(assigned, block_cols, threshold, id_col,
                          vec_col)


def semantic_dedup(emb: DataFrame, threshold: float = 0.995,
                   n_clusters: int = 8, n_assign: int = 3,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding", seed: int = 42
                   ) -> DataFrame:
    """Semantically deduplicated corpus: drop every vector that has a
    SMALLER-id near-dup in its KMeans cell (greedy min-id
    representative — deterministic and set-based; a chain a~b~c keeps
    only a even if a~c is below threshold, the standard greedy
    SemDeDup contract).  One anti-join against the pair table's id_b
    side."""
    drop = semantic_dedup_pairs(
        emb, threshold, n_clusters, n_assign, id_col, vec_col, seed) \
        .select(F.col("id_b").alias(id_col)).distinct()
    return emb.join(drop, on=id_col, how="left_anti")


def _lsh_bucket_udf(planes, n_tables: int, bits: int):
    """Arrow-batched bucket kernel: one float64 GEMM against all
    n_tables*bits hyperplanes per batch, sign bits packed into one
    bucket id per table.  (64+ separate zip_with/aggregate expressions
    would be interpreted per element — the same argument as the GEMM
    kernel in dedup.embedding_near_dups.)"""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64)          # (nt*nb, dim)
    weights = (1 << np.arange(bits)).astype(np.int64)  # bit -> bucket id

    def buckets(col):
        V = np.array(list(col), dtype=np.float64)      # (batch, dim)
        B = (V @ P.T) > 0                              # (batch, nt*nb)
        ids = (B.reshape(len(V), n_tables, bits) * weights).sum(axis=2)
        return pd.Series(list(ids.astype(np.int32)))

    # real class objects (the module-level `from __future__ import
    # annotations` would stringify inline hints, which pyspark's
    # eval-type inference cannot resolve)
    buckets.__annotations__ = {"col": pd.Series, "return": pd.Series}
    return pandas_udf("array<int>")(buckets)


def lsh_cosine_topk(emb: DataFrame, query_ids: list[int], k: int = 3,
                    n_tables: int = 24, bits_per_table: int = 4,
                    dim: int = 64,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    seed: int = 42) -> DataFrame:
    """Approximate top-k via MULTI-TABLE random-hyperplane LSH: each of
    ``n_tables`` independent tables hashes a vector to a
    ``bits_per_table``-bit bucket; candidates are corpus vectors sharing
    a (table, bucket) cell with the query in ANY table — a pure
    equi-join, so the crossjoin never materializes and the corpus stays
    partitioned.  Recall for a pair at angle θ is
    1-(1-p^b)^t with p = 1-θ/π: 24 tables × 4 bits gives ~0.99 at
    cosine 0.5 and ~0.93 even for weak cosine-0.3 neighbors; raise
    ``n_tables`` (more candidates, more recall) or ``bits_per_table``
    (fewer candidates per table, less recall) to trade cost vs quality."""
    planes = _hyperplanes(dim, n_tables * bits_per_table, seed)
    bucketer = _lsh_bucket_udf(planes, n_tables, bits_per_table)
    sig = emb.select(F.col(id_col), F.col(vec_col),
                     F.posexplode(bucketer(F.col(vec_col)))
                      .alias("tbl", "bucket"))
    queries = (sig.filter(F.col(id_col).isin(query_ids))
                  .select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).alias("qvec"),
                          "tbl", "bucket"))
    corpus = sig.select(F.col(id_col).alias("neighbor_id"),
                        F.col(vec_col).alias("nvec"), "tbl", "bucket")
    cand = (corpus.join(F.broadcast(queries), ["tbl", "bucket"])
                  .filter(F.col("neighbor_id") != F.col("query_id"))
                  .dropDuplicates(["query_id", "neighbor_id"]))
    scored = cand.withColumn("cos", _cosine(F.col("qvec"), F.col("nvec")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "rank", "neighbor_id",
                          F.round("cos", 4).alias("cosine")))


def quantize_embeddings(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization per vector: scale = max|x|/127,
    q_i = floor(x_i/scale * 127) clamped to [-127, 127].

    4× storage reduction for a 100 TB embedding corpus with bounded
    cosine error (see the recall test).  floor, not round: no half-way
    tie-break rule for engines to disagree on, so the quantized codes
    are reproducible anywhere.  Pure JVM higher-order functions — a
    narrow projection, no shuffle, no Python.
    """
    x = F.col(vec_col)
    absmax = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    scale = F.greatest(absmax, F.lit(1e-30)) / F.lit(127.0)
    q = F.transform(
        x, lambda v: F.greatest(
            F.lit(-127),
            F.least(F.lit(127),
                    F.floor(v.cast("double") / scale).cast("int"))))
    return emb.select(F.col(id_col), q.alias("q_codes"),
                      scale.alias("q_scale"))


def dequantized_cosine_topk(emb: DataFrame, query_ids: list[int],
                            k: int = 3, id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k over the DEQUANTIZED int8 codes — the
    compressed-storage serving path.  Same shape as cosine_topk (query
    side broadcast, corpus partitioned); the recall test bounds the
    quantization loss against the exact operator."""
    deq = quantize_embeddings(emb, id_col, vec_col).select(
        id_col,
        F.transform(F.col("q_codes"),
                    lambda c: c.cast("double") * F.col("q_scale"))
        .alias(vec_col))
    return cosine_topk(deq, query_ids, k=k, id_col=id_col, vec_col=vec_col)


def lsh_near_dup_pairs(emb: DataFrame, threshold: float = 0.9,
                       n_tables: int = 24, bits_per_table: int = 12,
                       dim: int = 64, id_col: str = "vec_id",
                       vec_col: str = "embedding", seed: int = 42,
                       max_bucket_size: int = 100_000) -> DataFrame:
    """ALL-PAIRS embedding near-dup via multi-table hyperplane LSH —
    the scale path ``dedup.embedding_near_dups`` reroutes to when the
    corpus exceeds its exact-GEMM broadcast bound.  Candidate pairs are
    generated only INSIDE a (table, bucket) cell (self-join on the cell
    key — cost Σ|cell|², never n²), deduped across tables, then
    verified with the exact JVM cosine, so precision is 1.0 and only
    recall is approximate.

    Parameter physics (collision p = (1-θ/π)^bits per table, union
    across tables): near-dup thresholds are TIGHT angles, so deep
    buckets are cheap — at cosine 0.9 (θ≈26°), 12 bits give p≈0.16 and
    24 tables reach ~0.98 recall while cells stay tiny.  For a LOOSE
    threshold (cosine ~0.5) drop to ~4 bits / 16 tables and accept
    bigger cells; at that angle bucketing fundamentally saves little —
    that is the regime where exact GEMM or SemDeDup clustering is the
    right tool, not LSH.

    Cells larger than ``max_bucket_size`` (hot cells: duplicate-heavy
    or degenerate vectors) are dropped from pair generation with an
    observed (non-silent) count, bounding the worst cell at
    max_bucket_size² — same backstop pattern as the blocked
    Levenshtein and n-gram stop-shingle guards."""
    from .dedup import _observe_dropped

    planes = _hyperplanes(dim, n_tables * bits_per_table, seed)
    bucketer = _lsh_bucket_udf(planes, n_tables, bits_per_table)
    sig = emb.select(F.col(id_col), F.col(vec_col),
                     F.posexplode(bucketer(F.col(vec_col)))
                      .alias("tbl", "bucket"))
    cell = Window.partitionBy("tbl", "bucket")
    sized = sig.withColumn("_cell_n", F.count(F.lit(1)).over(cell))
    sized = _observe_dropped(
        sized, F.col("_cell_n") > max_bucket_size,
        "lsh_near_dup_pairs: dropped %d signature rows in cells over "
        "max_bucket_size — raise bits_per_table or max_bucket_size")
    sized = sized.filter(F.col("_cell_n") <= max_bucket_size).drop("_cell_n")
    # r13 (guide §5): the signature pipeline (Arrow bucketer + cell
    # window) feeds both candidate-join sides — pinned so the corpus
    # is hashed once; the bucketer is rowwise over fixed seeded
    # planes and the window count is a plain per-cell count, so the
    # cached layout cannot change a value.
    from ..session import track_persist
    sized = track_persist(sized)

    a, b = sized.alias("a"), sized.alias("b")
    cand = (a.join(b, (F.col("a.tbl") == F.col("b.tbl"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     F.col(f"a.{vec_col}").alias("va"),
                     F.col(f"b.{vec_col}").alias("vb"))
             .dropDuplicates(["id_a", "id_b"]))
    return (cand.withColumn("cosine",
                            F.round(_cosine(F.col("va"), F.col("vb")), 4))
                .filter(F.col("cosine") >= threshold)
                .select("id_a", "id_b", "cosine"))


def _md5_lsh_buckets(emb: DataFrame, n_tables: int, bits_per_table: int,
                     id_col: str, vec_col: str,
                     quant_scale: int) -> DataFrame:
    """(id, t, bucket): the md5-derived-integer LSH signature shared by
    the oracle-exact twins — ±1 plane coefficients from the first md5
    nibble of ``lshplane:<table>:<bit>:<dim>``, vectors frozen to
    integers (``floor(x·scale + 0.5)`` as int64) so every projection
    is an INTEGER dot product (order-independent, engine-portable),
    bucket = the bits_per_table sign bits of table t.

    r13 optimization round (guide §2.4 remove shuffles, §4 kernel
    discipline): the SIGNATURE DEFINITION above is unchanged — what
    changed is how Spark computes it.  The old plan exploded the
    corpus ×dim, broadcast-joined a (t, b, i, ±1) plane table (an
    n·dim·tables·bits row pipeline — 82M rows at sf0.1) and rebuilt
    buckets with TWO groupBy exchanges.  Every dot is exact int64
    math, so the one-pass Arrow kernel below (same float64 quantize
    sequence, int64 matmul, sign bits) is bit-equal by integer
    exactness — pinned by test_md5_lsh_kernel_matches_expression_twin
    — and the whole signature is now a pure projection: zero
    exchanges, the Generate consumes the kernel output in the same
    select (the one-Python-stage shape SCALE.md pins for the frozen
    family)."""
    import hashlib

    import numpy as np

    dim = emb.select(F.size(vec_col).alias("d")).first()["d"]
    P = np.empty((n_tables * bits_per_table, dim), dtype=np.int64)
    for t in range(n_tables):
        for b in range(bits_per_table):
            for i in range(dim):
                nib = int(hashlib.md5(
                    f"lshplane:{t}:{b}:{i}".encode()).hexdigest()[0], 16)
                P[t * bits_per_table + b, i] = 1 if nib >= 8 else -1
    pow2 = 1 << np.arange(bits_per_table, dtype=np.int64)
    scale = float(quant_scale)

    def _buckets(vecs):
        import pandas as pd
        if vecs.empty:
            return pd.Series([], dtype=object)
        vals = list(vecs)
        live = [j for j, v in enumerate(vals) if v is not None]
        out = [None] * len(vals)
        if live:
            # CAST(x AS DOUBLE) then floor(x*scale + 0.5): the exact
            # float64 sequence of the old SQL expression
            V = np.stack([np.asarray(vals[j], dtype=np.float64)
                          for j in live])
            Q = np.floor(V * scale + 0.5).astype(np.int64)
            D = Q @ P.T                          # exact int64 dots
            bits = (D >= 0).reshape(len(Q), n_tables, bits_per_table)
            buckets = (bits * pow2).sum(axis=2)  # int64 (n, n_tables)
            for r, j in enumerate(live):
                out[j] = buckets[r]
        return pd.Series(out, dtype=object)

    udf = F.pandas_udf(_buckets, "array<long>")
    # posexplode in the same select as the kernel call: one Python
    # stage (inferred filters cannot push the kernel under a join);
    # null vectors yield no rows, matching the old explode behaviour
    return (emb.select(F.col(id_col),
                       F.posexplode(udf(F.col(vec_col)))
                        .alias("t", "bucket")))


def lsh_cosine_topk_md5(emb: DataFrame, query_ids: list[int],
                        k: int = 3, n_tables: int = 16,
                        bits_per_table: int = 4,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        quant_scale: int = 1000) -> DataFrame:
    """ORACLE-EXACT LSH top-k (round 10): :func:`lsh_cosine_topk`'s
    bucket/candidate/exact-rank pipeline on the md5-derived-integer
    signature (``_md5_lsh_buckets``), upgrading the last rows-only ANN
    family member to a value-exact sibling.  Candidates are corpus
    vectors sharing ANY (table, bucket) cell with a query; ranking is
    the exact cosine with the deterministic (cos DESC, neighbor_id)
    tiebreak every exact top-k entry uses.  Output schema matches
    ``cosine_topk``: (query_id, rank, neighbor_id, cosine)."""
    buckets = _md5_lsh_buckets(emb, n_tables, bits_per_table, id_col,
                               vec_col, quant_scale)
    qb = (buckets.filter(F.col(id_col).isin(query_ids))
          .select(F.col(id_col).alias("query_id"), "t", "bucket"))
    cand = (buckets.join(F.broadcast(qb), ["t", "bucket"])
            .filter(F.col(id_col) != F.col("query_id"))
            .select("query_id", F.col(id_col).alias("neighbor_id"))
            .dropDuplicates(["query_id", "neighbor_id"]))
    qv = emb.select(F.col(id_col).alias("query_id"),
                    F.col(vec_col).alias("_qv"))
    nv = emb.select(F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).alias("_nv"))
    scored = (cand.join(F.broadcast(qv), "query_id").join(nv, "neighbor_id")
              .withColumn("cos", _cosine(F.col("_qv"), F.col("_nv"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w)
                              .cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id",
                    F.round("cos", 4).alias("cosine")))


def lsh_near_dup_pairs_md5(emb: DataFrame, threshold: float = 0.45,
                           n_tables: int = 16, bits_per_table: int = 4,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           quant_scale: int = 1000) -> DataFrame:
    """ORACLE-EXACT random-hyperplane LSH near-dup pairs (round 10):
    the same multi-table bucket/verify pipeline as
    :func:`lsh_near_dup_pairs`, rebuilt on the md5-derived-integer
    discipline (``dedup.minhash_lsh_pairs_md5`` /
    ``simhash_near_pairs_md5``) so every stage — hyperplanes, signature
    bits, buckets, candidate set — is bit-reproducible by an external
    SQL engine and the entry carries a FULL value oracle.

    Exactness design:

    * hyperplane coefficients are ±1 from the first md5 nibble of
      ``lshplane:<table>:<bit>:<dim>`` (sign test of a Rademacher
      projection — the standard binary-code LSH family, same collision
      physics as Gaussian planes);
    * vectors are frozen to integers first
      (``CAST(floor(x*1e3 + 0.5) AS BIGINT)``), so every projection is
      an INTEGER dot product — order-independent, no float summation
      for engines to disagree on;
    * only the final verification cosine is floating point, computed
      on the ORIGINAL vectors with the same sequential fold the
      oracle-green exact entries use, rounded to 4 decimals on both
      sides before the threshold.

    The seeded-float variant stays the fast path (bucket bits come
    from one vectorized Arrow batch instead of an n×dim×bits shuffle);
    this is the audit/driver-gate twin.  Scale shape is unchanged:
    candidates only inside a (table, bucket) cell, dedup before the
    verify join, never n²."""
    buckets = _md5_lsh_buckets(emb, n_tables, bits_per_table, id_col,
                               vec_col, quant_scale)
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (a.join(b, (F.col("a.t") == F.col("b.t"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
             .dropDuplicates(["id_a", "id_b"]))
    va = emb.select(F.col(id_col).alias("id_a"),
                    F.col(vec_col).alias("_va"))
    vb = emb.select(F.col(id_col).alias("id_b"),
                    F.col(vec_col).alias("_vb"))
    return (cand.join(va, "id_a").join(vb, "id_b")
            .withColumn("cosine",
                        F.round(_cosine(F.col("_va"), F.col("_vb")), 4))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def hybrid_search(docs: DataFrame, emb: DataFrame, query_terms: list[str],
                  query_vec: list[float] | None = None, k: int = 10,
                  text_col: str = "text", doc_id_col: str = "doc_id",
                  vec_id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  query_id: int | None = None) -> DataFrame:
    """Keyword-filtered vector search — the retrieval shape a RAG stack
    runs: documents containing ALL ``query_terms`` (case-insensitive
    substring) are joined to their embeddings and ranked by EXACT
    cosine against ``query_vec``.

    Scale shape: the keyword predicate prunes FIRST (a JVM filter on
    the doc scan), so the vector math touches only the candidate set;
    the query vector enters the plan as a broadcast literal array, the
    doc↔embedding join is an equi-join on the id, and the final top-k
    is TakeOrderedAndProject (no global sort materializes).  When the
    candidate set itself is corpus-sized, swap the exact scoring for
    ``lsh_cosine_topk`` over the same candidates — this operator is
    the verification baseline and the selective-filter fast path."""
    from functools import reduce

    if (query_vec is None) == (query_id is None):
        raise ValueError("pass exactly one of query_vec (a literal "
                         "vector) or query_id (resolved lazily from the "
                         "embedding table — no driver-side action)")
    # no terms → no keyword filter (pure vector search), not a crash
    cond = reduce(lambda a, b: a & b,
                  [F.lower(F.col(text_col)).contains(t.lower())
                   for t in query_terms], F.lit(True))
    cands = docs.filter(cond).select(F.col(doc_id_col).alias("_cand_id"))
    joined = emb.join(cands, emb[vec_id_col] == cands["_cand_id"])
    if query_vec is not None:
        qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    else:
        qdf = (emb.filter(F.col(vec_id_col) == query_id)
               .select(F.col(vec_col).alias("_qvec")))
        joined = joined.crossJoin(F.broadcast(qdf))
        qcol = F.col("_qvec")
    scored = joined.select(
        F.col(vec_id_col).alias("doc_id"),
        F.round(_cosine(F.col(vec_col), qcol), 4).alias("cosine"))
    w = Window.orderBy(F.desc("cosine"), F.asc("doc_id"))
    return (scored.orderBy(F.desc("cosine"), F.asc("doc_id")).limit(k)
            .withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id", "cosine"))


def pq_codes(emb: DataFrame, m: int = 16, n_centroids: int = 64,
             dim: int = 64, id_col: str = "vec_id",
             vec_col: str = "embedding", seed: int = 42,
             norm_vec_col: str | None = None):
    """Product-quantization codebooks + codes (Jégou et al. 2011, the
    backbone of billion-scale ANN): the vector is split into ``m``
    contiguous subvectors; each subspace gets its own ``n_centroids``
    KMeans codebook; a vector is stored as m small codes (defaults:
    m=16 × 64 centroids = 16 6-bit codes ≈ 12 bytes vs 256 bytes of
    float32 — a 21× compression, far past int8 scalar quantization;
    real corpora cluster, so production indexes reach m=8 × 256 = 8
    bytes — these test vectors are NEAR-UNIFORM random, PQ's hardest
    case, hence the finer default grid).

    Returns ``(codes_df, codebooks)`` where codes_df has one int code
    column per subspace plus the EXACT precomputed L2 norm (needed to
    turn approximate dot products into cosines), and codebooks is the
    m × n_centroids × (dim/m) list of centroid subvectors (tiny,
    driver-side — this is the one structure PQ is allowed to hold
    centrally).

    Scale shape: the m KMeans fits and assignments are distributed
    (pyspark.ml, same path as ``ivf_cosine_topk``); the corpus never
    reaches the driver and the per-subspace codebooks are
    n_centroids × dim/m floats each.  At 100 TB the codes table is
    what you persist (a few bytes + norm per vector); scoring reads
    it, never the raw vectors."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_d = dim // m
    # norm_vec_col: when the quantized column is a RESIDUAL (IVFPQ),
    # the cosine denominator still needs the ORIGINAL vector's norm
    #
    # r13 optimization round (guide §5 lineage): every subspace model
    # is fit against the base projection DIRECTLY.  The old loop fit
    # subspace s on the ACCUMULATED chain
    # (base -> transform_0 -> ... -> transform_{s-1} -> slice), so
    # fit s's plan carried s prediction-UDF stages it did not need —
    # O(m^2) lineage growth in plan depth, analysis cost and the bytes
    # re-executed by each fit's internal input materialization.  A
    # subspace fit depends only on its slice of the base vectors (plus
    # k, seed+s, maxIter), none of which the chain changed, so the
    # trained codebooks — and therefore every code and every emitted
    # row — are bit-identical (verified old-vs-new at
    # sf0.001/0.01/0.1).  Honest local measurement: wall-clock NEUTRAL
    # at sf0.1 (~33 s PQ / ~58 s IVFPQ either way) because the entry
    # is fit-dominated — ~430 Spark jobs of k-means|| init + Lloyd
    # iterations whose scheduling floor dwarfs the chain re-execution
    # locally; the flattening is kept for the scale-side lineage
    # property, not a local win.  The m transforms are applied once at
    # the end; the consumer evaluates that composed projection in one
    # pass.  Deliberately NOT persisted: caching the base lets AQE
    # re-lay-out the cached plan's partitions, which changes the
    # k-means|| seeding and thus the trained centers — measured, not
    # hypothetical — and MLlib already caches each fit's own instances
    # RDD internally (handlePersistence), so a pin buys little and
    # costs determinism.
    base = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_vec"),
        _norm(F.col(norm_vec_col or vec_col)).alias("nnorm"))
    codebooks, models = [], []
    for s in range(m):
        sub = F.slice(F.col("_vec"), s * sub_d + 1, sub_d)
        feats = base.withColumn(
            "_feat", array_to_vector(sub.cast("array<double>")))
        kmeans = KMeans(k=n_centroids, seed=seed + s, maxIter=10,
                        featuresCol="_feat", predictionCol=f"code_{s}")
        models.append(kmeans.fit(feats))
        codebooks.append([[float(x) for x in c]
                          for c in models[-1].clusterCenters()])
    out = base
    for s, model in enumerate(models):
        sub = F.slice(F.col("_vec"), s * sub_d + 1, sub_d)
        out = model.transform(out.withColumn(
            "_feat", array_to_vector(sub.cast("array<double>")))
        ).drop("_feat")
    return out.drop("_vec"), codebooks


def pq_cosine_topk(emb: DataFrame, query_ids: list[int], k: int = 3,
                   m: int = 16, n_centroids: int = 64, dim: int = 64,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   seed: int = 42, refine: int = 8,
                   _candidates: DataFrame | None = None) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes with exact
    re-ranking: each query keeps its EXACT vector and precomputes a
    lookup table of dot products against every subspace centroid
    (m × n_centroids entries per query); a corpus vector's approximate
    dot product is then just the sum of m table lookups — no float
    math against the corpus at all.  The ADC pass shortlists
    ``k·refine`` candidates per query; the shortlist alone is joined
    back to its raw vectors and re-scored with the exact cosine — the
    standard two-stage serving shape (compressed scan, exact tail).

    Scale shape: the LUT ((query, subspace, code) → partial dot) is
    |Q|·m·n_centroids rows — broadcast; the codes table explodes ×m to
    (neighbor, subspace, code), equi-joins the broadcast LUT, and a
    map-side-combinable SUM rebuilds the full approximate dot per
    (query, neighbor).  The full-precision corpus is touched only by
    the |Q|·k·refine shortlist join (an equi-join on the id) — this is
    the shape that makes billion-vector scans fit in RAM.  Compose
    with IVF cell pruning (``ivf_cosine_topk``) for the full IVFPQ
    index; recall is bounded against the exact operator in
    tests/test_recall.py."""
    codes_df, codebooks = pq_codes(emb, m=m, n_centroids=n_centroids,
                                   dim=dim, id_col=id_col,
                                   vec_col=vec_col, seed=seed)
    sub_d = dim // m
    qrows = (emb.filter(F.col(id_col).isin(query_ids))
                .select(id_col, vec_col).collect())
    lut, qnorms = [], []
    for r in qrows:
        v = [float(x) for x in r[vec_col]]
        qnorms.append((r[id_col], sum(x * x for x in v) ** 0.5))
        for s in range(m):
            qs = v[s * sub_d:(s + 1) * sub_d]
            for c, cen in enumerate(codebooks[s]):
                lut.append((r[id_col], s, c,
                            sum(a * b for a, b in zip(qs, cen))))
    spark = emb.sparkSession
    lut_df = spark.createDataFrame(
        lut, ["query_id", "subspace", "code", "partial"])
    qn_df = spark.createDataFrame(qnorms, ["query_id", "qnorm"])

    exploded = codes_df.select(
        "neighbor_id", "nnorm",
        F.posexplode(F.array(*[F.col(f"code_{s}") for s in range(m)]))
         .alias("subspace", "code"))
    if _candidates is not None:
        # IVF-restricted path (ivfpq_cosine_topk): the (query, neighbor)
        # allow-list lands BEFORE the ADC join, so only probed cells'
        # codes are scored; the LUT key gains query_id accordingly
        scored = (exploded
                  .join(_candidates, "neighbor_id")
                  .join(F.broadcast(lut_df),
                        ["query_id", "subspace", "code"]))
    else:
        scored = exploded.join(F.broadcast(lut_df), ["subspace", "code"])
    scored = (scored
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .groupBy("query_id", "neighbor_id")
              .agg(F.sum("partial").alias("adc_dot"),
                   F.first("nnorm").alias("nnorm"))
              .join(F.broadcast(qn_df), "query_id")
              .withColumn("adc_cos", F.col("adc_dot")
                          / (F.col("qnorm") * F.col("nnorm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_cos"),
                                               F.asc("neighbor_id"))
    shortlist = (scored.withColumn("rank", F.row_number().over(w))
                       .filter(F.col("rank") <= k * max(refine, 1))
                       .select("query_id", "neighbor_id"))

    # exact re-rank: only the shortlist touches full-precision vectors
    qvec_df = (emb.filter(F.col(id_col).isin(query_ids))
                  .select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).alias("qvec")))
    nvec_df = emb.select(F.col(id_col).alias("neighbor_id"),
                         F.col(vec_col).alias("nvec"))
    rescored = (shortlist
                .join(nvec_df, "neighbor_id")
                .join(F.broadcast(qvec_df), "query_id")
                .withColumn("cos", _cosine(F.col("qvec"), F.col("nvec"))))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                                F.asc("neighbor_id"))
    return (rescored.withColumn("rank", F.row_number().over(w2))
                    .filter(F.col("rank") <= k)
                    .select("query_id", "rank", "neighbor_id",
                            F.round("cos", 4).alias("cosine")))


def ivfpq_cosine_topk(emb: DataFrame, query_ids: list[int], k: int = 3,
                      n_clusters: int = 8, n_probe: int = 3,
                      m: int = 16, n_centroids: int = 64, dim: int = 64,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      seed: int = 42, refine: int = 8) -> DataFrame:
    """The full IVFPQ index shape with RESIDUAL encoding (Jégou et
    al. 2011 §IV): coarse KMeans cells prune the corpus (only
    ``n_probe`` cells per query are scanned), PQ quantizes the
    RESIDUAL v − c(v) rather than the raw vector, ADC scores the
    survivors from their compressed codes plus the exact
    query·centroid offset, and the exact cosine re-ranks the
    k·refine shortlist.  Residuals are what the coarse quantizer
    leaves unexplained: on clustered corpora their energy is a
    fraction of the raw vectors', so the same m × n_centroids code
    budget spends its resolution on a tighter distribution — the
    FAISS-standard formulation.  Honest measurement (SCALE.md round-6
    note): on THIS repo's near-uniform synthetic embeddings the
    planted-pair recall is identical to raw-vector encoding at every
    n_probe (13/14 at n_probe=3, 14/14 at 5) because the coarse
    centroids explain almost no variance there — the gain is
    proportional to what the coarse quantizer captures, which for
    real embedding corpora (clustered by construction) is large.
    tests/test_recall.py pins the floor at the tighter n_probe=3.

    adc_dot(q, v) = q·c(v) [exact, per probed cell — n_probe terms
    per query, computed driver-side with the probe list] + Σ_s
    LUT[q][s][code_s(v)] [residual codebook lookups].  The corpus
    norm in the cosine denominator stays the EXACT raw-vector norm
    (``pq_codes(norm_vec_col=...)``).

    Scale shape: one distributed coarse KMeans + m subspace KMeans
    over residuals (training); serving touches
    (corpus/n_clusters)·n_probe code rows per query via the broadcast
    (query, cell) probe list, then the broadcast ADC LUT join, then
    the |Q|·k·refine exact tail.  Only query vectors, centroids, and
    codebooks ever reach the driver; the residual column is computed
    JVM-side (zip_with against a broadcast centers table) and never
    materialized past PQ training."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.select(
        F.col(id_col), F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>"))
        .alias("features"))
    coarse = KMeans(k=n_clusters, seed=seed, maxIter=10,
                    featuresCol="features", predictionCol="cell").fit(feats)
    assigned = coarse.transform(feats).select(id_col, vec_col, "cell")

    centers = coarse.clusterCenters()
    spark = emb.sparkSession
    centers_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        ["cell", "_center"])
    # residual = v - c(v), JVM-side over the broadcast centers row.
    # NOT persisted for the same trained-determinism reason documented
    # in pq_codes: this lineage feeds every subspace fit, and a cached
    # copy's AQE-relaid partitioning changes the k-means|| seeding.
    # Each fit re-derives it (cheap narrow ops over the coarse
    # transform); the quadratic chain re-execution pq_codes used to pay
    # is gone either way.
    residuals = (assigned.join(F.broadcast(centers_df), "cell")
                 .withColumn("_res", F.zip_with(
                     F.col(vec_col).cast("array<double>"), "_center",
                     lambda a, b: a - b))
                 .select(id_col, vec_col, "cell", "_res"))
    codes_df, codebooks = pq_codes(
        residuals, m=m, n_centroids=n_centroids, dim=dim, id_col=id_col,
        vec_col="_res", seed=seed, norm_vec_col=vec_col)
    codes_df = codes_df.join(
        residuals.select(F.col(id_col).alias("neighbor_id"), "cell"),
        "neighbor_id")

    qrows = (emb.filter(F.col(id_col).isin(query_ids))
                .select(id_col, vec_col).collect())
    sub_d = dim // m
    probes, lut, qnorms = [], [], []
    for r in qrows:
        v = np.asarray(r[vec_col], dtype=float)
        qnorms.append((r[id_col], float(np.linalg.norm(v))))
        dists = [float(np.linalg.norm(v - c)) for c in centers]
        for b in np.argsort(dists)[:n_probe]:
            # the exact q·centroid offset for every probed cell
            probes.append((r[id_col], int(b),
                           float(np.dot(v, centers[b]))))
        for s in range(m):
            qs = v[s * sub_d:(s + 1) * sub_d]
            for c, cen in enumerate(codebooks[s]):
                lut.append((r[id_col], s, c, float(np.dot(qs, cen))))
    probe_df = spark.createDataFrame(probes,
                                     ["query_id", "cell", "qc_dot"])
    lut_df = spark.createDataFrame(
        lut, ["query_id", "subspace", "code", "partial"])
    qn_df = spark.createDataFrame(qnorms, ["query_id", "qnorm"])

    # cell restriction lands BEFORE the ADC join: only probed cells'
    # codes are ever exploded/scored, and the probe row carries the
    # exact q·c(v) term the residual decomposition needs
    exploded = (codes_df.join(F.broadcast(probe_df), "cell")
                .select("query_id", "neighbor_id", "nnorm", "qc_dot",
                        F.posexplode(F.array(
                            *[F.col(f"code_{s}") for s in range(m)]))
                        .alias("subspace", "code")))
    scored = (exploded
              .join(F.broadcast(lut_df),
                    ["query_id", "subspace", "code"])
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .groupBy("query_id", "neighbor_id")
              .agg((F.first("qc_dot") + F.sum("partial")).alias("adc_dot"),
                   F.first("nnorm").alias("nnorm"))
              .join(F.broadcast(qn_df), "query_id")
              .withColumn("adc_cos", F.col("adc_dot")
                          / (F.col("qnorm") * F.col("nnorm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_cos"),
                                               F.asc("neighbor_id"))
    shortlist = (scored.withColumn("rank", F.row_number().over(w))
                       .filter(F.col("rank") <= k * max(refine, 1))
                       .select("query_id", "neighbor_id"))

    # exact re-rank: only the shortlist touches full-precision vectors
    qvec_df = (emb.filter(F.col(id_col).isin(query_ids))
                  .select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).alias("qvec")))
    nvec_df = emb.select(F.col(id_col).alias("neighbor_id"),
                         F.col(vec_col).alias("nvec"))
    rescored = (shortlist
                .join(nvec_df, "neighbor_id")
                .join(F.broadcast(qvec_df), "query_id")
                .withColumn("cos", _cosine(F.col("qvec"), F.col("nvec"))))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                                F.asc("neighbor_id"))
    return (rescored.withColumn("rank", F.row_number().over(w2))
                    .filter(F.col("rank") <= k)
                    .select("query_id", "rank", "neighbor_id",
                            F.round("cos", 4).alias("cosine")))


def jl_sign_matrix(out_dims: int = 16, in_dims: int = 64,
                   salt: str = "jl-v1") -> list[list[int]]:
    """Deterministic Rademacher (+-1) projection matrix from md5 — the
    Achlioptas/JL database-friendly construction: entry (j, i) is the
    parity of md5(j:i:salt).  Built on the driver (out*in ints of
    bounded metadata) so any engine, and any later run, regenerates
    the identical matrix."""
    import hashlib
    return [[1 if int(hashlib.md5(
                f"{j}:{i}:{salt}".encode()).hexdigest()[:2], 16) % 2 == 0
             else -1
             for i in range(in_dims)]
            for j in range(out_dims)]


def random_projection(emb: DataFrame, out_dims: int = 16,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      salt: str = "jl-v1",
                      in_dims: int | None = None) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    embedding onto ``out_dims`` deterministic +-1 directions (sign
    matrix from :func:`jl_sign_matrix`), preserving pairwise distances
    within the standard JL bound — the cheap pre-reduction step ahead
    of ANN indexing / clustering when the native dimension is wasteful.

    Purely a projection: no shuffle, no UDF — each output dimension is
    one JVM-side fold over the vector (the emb-family discipline:
    sequential F.aggregate matches the oracle's list_sum order, and
    ROUND(.,4) freezes the result like emb_norms/cosine).  At 100 TB
    this runs at scan speed and composes with every downstream ANN
    path.

    ``in_dims``: pass explicitly when known; otherwise inferred from
    one row.  Either way every row is ASSERTED to match — zip_with
    pads length mismatches with nulls, which would silently poison
    the fold into NULL projections (ADVICE r8), so a ragged vector
    column fails loudly instead."""
    if in_dims is None:
        head = emb.select(vec_col).first()
        if head is None:
            raise ValueError("random_projection: empty embedding table")
        in_dims = len(head[0])
    mat = jl_sign_matrix(out_dims, in_dims, salt)
    guard = F.raise_error(F.concat(
        F.lit(f"random_projection: expected size({vec_col}) == "
              f"{in_dims}, got "),
        F.size(vec_col).cast("string")))
    checked = F.when(F.size(vec_col) == in_dims,
                     F.col(vec_col)).otherwise(guard)
    cols = []
    for j, row in enumerate(mat):
        signs = F.array(*[F.lit(float(s)) for s in row])
        dot = F.aggregate(
            F.zip_with(checked, signs,
                       lambda a, b: a.cast("double") * b),
            F.lit(0.0), lambda acc, v: acc + v)
        cols.append(F.round(dot, 4).alias(f"p{j}"))
    return emb.select(id_col, *cols)


# ---- persisted IVF index (build once, query many) --------------------------
# At 100 TB the index is a DATASET, not a per-query computation:
# retraining KMeans and re-assigning the whole corpus per query (what
# ivf_cosine_topk does, fine for one-shot analytics) is the
# anti-pattern for a serving path.  ivf_build_index materializes the
# index as parquet — centroids (tiny) plus assignments PARTITIONED BY
# CELL — so ivf_query_index reads only the probed cells' files
# (partition pruning: the scan's PartitionFilters carries the probe
# set; verified by tests/test_plans.py).  Build is idempotent via a
# meta marker keyed to (n_clusters, seed, corpus count).

INDEX_META = "_INDEX_META.json"


def read_index_meta(index_dir: str) -> dict:
    """A persisted index's meta marker, the build's commit point.
    Raises OSError when the index was never built (or a rebuild is
    under way) and ValueError when the marker is torn."""
    import json
    import os

    with open(os.path.join(index_dir, INDEX_META), encoding="utf-8") as f:
        meta = json.load(f)
    if not isinstance(meta, dict):
        raise ValueError(f"{INDEX_META} in {index_dir!r} is not an object")
    return meta


def _corpus_signature(emb: DataFrame) -> tuple[int, str]:
    """(row count, content signature) of an index corpus.  The
    signature hashes the source files' (path, size, mtime) triples, so
    a REGENERATED corpus with the same row count never serves a stale
    index; in-memory inputs (no files) sign as the row count alone."""
    from ..session import input_files_signature
    return emb.count(), input_files_signature(emb)[:16]


def _index_is_current(index_dir: str, meta: dict,
                      data_dirs: tuple[str, ...]) -> bool:
    """True when the built index already carries ``meta`` (an
    idempotent rebuild).  Otherwise invalidate it for a rebuild: drop
    the marker FIRST (a crash mid-build can never serve a half-written
    index), then the old data trees whole — mode("overwrite") under
    dynamic partitionOverwriteMode only replaces the partitions the new
    build writes, so a rebuild with FEWER cells would leave stale
    partition directories for the query to read."""
    import os
    import shutil

    try:
        if read_index_meta(index_dir) == meta:
            return True
    except (OSError, ValueError):
        pass
    for name in (INDEX_META, *data_dirs):
        stale = os.path.join(index_dir, name)
        if os.path.isdir(stale):
            shutil.rmtree(stale, ignore_errors=True)
        elif os.path.exists(stale):
            os.remove(stale)
    return False


def _commit_index(index_dir: str, meta: dict) -> dict:
    import json
    import os

    os.makedirs(index_dir, exist_ok=True)
    with open(os.path.join(index_dir, INDEX_META), "w",
              encoding="utf-8") as f:
        json.dump(meta, f)                # marker LAST: commit point
    return meta


def ivf_build_index(emb: DataFrame, index_dir: str, n_clusters: int = 8,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    seed: int = 42) -> dict:
    """Fit KMeans distributively and persist the IVF index:
    ``centroids.parquet`` (bucket, center) and ``assignments.parquet``
    partitioned by ``bucket``.  Returns the meta dict.  Re-building
    over an unchanged corpus signature is a no-op."""
    import os

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    n, corpus_sig = _corpus_signature(emb)
    meta = {"n_clusters": n_clusters, "seed": seed, "n_vectors": n,
            "corpus_sig": corpus_sig,
            "id_col": id_col, "vec_col": vec_col, "version": 2}
    if _index_is_current(index_dir, meta,
                         ("assignments.parquet", "centroids.parquet")):
        return meta
    feats = emb.select(
        F.col(id_col), F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>"))
        .alias("features"))
    model = KMeans(k=n_clusters, seed=seed, maxIter=10,
                   featuresCol="features").fit(feats)
    spark = emb.sparkSession
    centers = [(i, [float(x) for x in c])
               for i, c in enumerate(model.clusterCenters())]
    spark.createDataFrame(centers, ["bucket", "center"]).coalesce(1) \
        .write.mode("overwrite") \
        .parquet(os.path.join(index_dir, "centroids.parquet"))
    (model.transform(feats)
          .select(F.col(id_col).alias("neighbor_id"),
                  F.col(vec_col).alias("nvec"),
                  F.col("prediction").alias("bucket"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(os.path.join(index_dir, "assignments.parquet")))
    return _commit_index(index_dir, meta)


def ivf_query_index(spark, index_dir: str, queries: DataFrame,
                    k: int = 3, n_probe: int = 2,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Top-k cosine neighbors from a PERSISTED IVF index: centroids
    (n_clusters rows) pick each query's ``n_probe`` cells on the
    driver; the assignments scan is filtered on the partition column,
    so only the probed cells' files are read.  Ranking matches
    ivf_cosine_topk (cos DESC, neighbor_id tiebreak, self excluded)."""
    import os

    import numpy as np

    centers = {r["bucket"]: np.asarray(r["center"], dtype=float)
               for r in spark.read.parquet(
                   os.path.join(index_dir, "centroids.parquet"))
               .collect()}
    qrows = queries.select(F.col(id_col).alias("query_id"),
                           F.col(vec_col).alias("qvec")).collect()
    probes = []
    for r in qrows:
        v = np.asarray(r["qvec"], dtype=float)
        order = sorted(centers,
                       key=lambda b: float(np.linalg.norm(v - centers[b])))
        for b in order[:n_probe]:
            probes.append((r["query_id"], int(b)))
    # explicit schemas: an EMPTY query set must yield an empty result,
    # not a schema-inference error
    probe_df = spark.createDataFrame(probes,
                                     "query_id long, bucket int")
    # float32 qvec schema: bit-parity with ivf_cosine_topk's broadcast
    # of the original float embedding column
    qdf = spark.createDataFrame(
        [(r["query_id"], list(map(float, r["qvec"]))) for r in qrows],
        "query_id long, qvec array<float>")
    # STATIC partition predicate (the probe set is driver-known), not
    # just the broadcast join: guarantees the scan lists only the
    # probed cells' files — PartitionFilters carries the isin()
    probed_cells = sorted({b for _, b in probes})
    assigned = (spark.read.parquet(
        os.path.join(index_dir, "assignments.parquet"))
        .filter(F.col("bucket").isin(probed_cells)))
    cand = (assigned
            .join(F.broadcast(probe_df), "bucket")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .join(F.broadcast(qdf), "query_id"))
    scored = cand.withColumn("cos", _cosine(F.col("qvec"),
                                            F.col("nvec")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("query_id", "rank", "neighbor_id",
                          F.round("cos", 4).alias("cosine")))


# ---- FROZEN integer-codebook quantization (full-oracle ANN family) --------
# The learned KMeans/PQ quantizers above are rows-only by construction
# (a training run is not SQL-expressible).  The *_frozen variants below
# apply the SAME serving algorithms against the learned-then-frozen
# integer codebooks in operators/frozen_codebooks.py (trained once in
# Spark by scripts/train_frozen_codebooks.py — the fixedlog-ladder
# freeze discipline, VERDICT r11 task 2), which makes every step exact
# integer arithmetic an external SQL engine reproduces bit-for-bit:
#   * component quantization  floor(x·10⁴) → int64,
#   * cell/code assignment    argmin of exact int64 L2, ties → lower id,
#   * ADC partial dots        exact int64 sums (associative — shuffle
#                             order cannot perturb them),
# with only the final re-rank touching float cosine (the established
# sequential-fold convention every emb_* oracle already matches).


def _vint_expr(vec_col: str) -> str:
    """The frozen fixed-point convention: floor(x·SCALE) per component."""
    from .frozen_codebooks import SCALE
    return (f"transform({vec_col}, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {SCALE}.0) AS BIGINT))")


def _bigint_array_lit(vals) -> str:
    return "array(" + ",".join(f"{int(x)}L" for x in vals) + ")"


def _nested_array_lit(rows) -> str:
    return "array(" + ",".join(_bigint_array_lit(r) for r in rows) + ")"


def _argmin_cells_expr(vint_col: str, centers, n: int) -> str:
    """Spark SQL expression: the ``n`` nearest frozen centers of an int
    vector — exact int64 L2 against a LITERAL center array, sorted by
    (distance, index).  Pure projection: zero shuffle, zero UDF; the
    whole assignment stays inside whole-stage codegen."""
    lit = _nested_array_lit(centers)
    return (f"slice(array_sort(transform({lit}, (cen, i) -> struct("
            f"aggregate(zip_with({vint_col}, cen, (a, b) -> (a-b)*(a-b)), "
            f"0L, (acc, v) -> acc + v) AS d, i AS cell))), 1, {n}).cell")


def _pq_code_exprs(vint_col: str, codebooks, sub_d: int,
                   prefix: str = "code_") -> list[str]:
    """One selectExpr fragment per subspace: nearest frozen codeword of
    the subvector (same exact-int argmin as the cells)."""
    outs = []
    for s, book in enumerate(codebooks):
        sv = f"slice({vint_col}, {s * sub_d + 1}, {sub_d})"
        lit = _nested_array_lit(book)
        outs.append(
            f"element_at(array_sort(transform({lit}, (cen, i) -> struct("
            f"aggregate(zip_with({sv}, cen, (a, b) -> (a-b)*(a-b)), 0L, "
            f"(acc, v) -> acc + v) AS d, i AS c))), 1).c AS {prefix}{s}")
    return outs


def _qint(vec) -> list[int]:
    """Driver-side mirror of _vint_expr — float32 widens exactly to
    double, ×SCALE and floor are the identical IEEE ops."""
    import math

    from .frozen_codebooks import SCALE
    return [math.floor(float(x) * float(SCALE)) for x in vec]


# ---- Arrow-vectorized quantization kernels (VERDICT r12 task 4) ------------
# The interpreted higher-order argmin (_argmin_cells_expr) costs ~70 µs/vec
# — the measured dominator of the frozen top-k operators and of index
# builds at 200k vectors (SCALE.md r12 probe).  These pandas_udf twins run
# the IDENTICAL exact-integer convention on numpy batches:
#   * floor(float64(x)·SCALE) → int64 — np.floor on a float64 array is the
#     same IEEE multiply+floor _vint_expr/_qint perform per element;
#   * squared L2 via the expansion ‖v‖² − 2v·c + ‖c‖² — int64 throughout,
#     every product ≤ (SCALE·|x|)²·D, orders of magnitude below 2⁶³, and
#     integer addition is associative, so the expansion form is EXACTLY
#     the zip_with fold (no float rounding anywhere);
#   * ties to the LOWER index — np.argmin returns the first minimum and
#     kind="stable" argsort preserves index order among equal distances,
#     matching array_sort over struct(d, i).
# Bit-identical assignments, ~10× less CPU (A/B in SCALE.md r13).  The
# expression twins stay in place for plans that must remain zero-Python
# (the streaming folds, semantic-dedup cell blocking) and as the
# cross-checked reference (tests/test_operators.py kernel-equality test).


def _np_vint(vecs):
    """Batch mirror of _vint_expr over a pandas Series of vectors."""
    import numpy as np

    from .frozen_codebooks import SCALE
    V = np.stack([np.asarray(v) for v in vecs]).astype(np.float64)
    return np.floor(V * float(SCALE)).astype(np.int64)


def _np_sqdist(V, C):
    """Exact int64 pairwise squared L2, (B,D)x(K,D) -> (B,K)."""
    return ((V * V).sum(1)[:, None] - 2 * (V @ C.T)
            + (C * C).sum(1)[None, :])


def _np_pq_codes(V, books, sub_d):
    """Per-subspace nearest frozen codeword, (B, M) int32."""
    import numpy as np
    codes = np.empty((V.shape[0], len(books)), dtype=np.int32)
    for s, book in enumerate(books):
        B = np.asarray(book, dtype=np.int64)
        codes[:, s] = np.argmin(
            _np_sqdist(V[:, s * sub_d:(s + 1) * sub_d], B), axis=1)
    return codes


def _cells_udf(centers, n):
    """pandas_udf: vector -> the n nearest frozen centers (array<int>,
    same (distance, index) order as _argmin_cells_expr)."""
    import numpy as np
    import pandas as pd
    C = np.asarray(centers, dtype=np.int64)

    # no type hints: the module-wide `from __future__ import
    # annotations` would stringify them past pandas_udf's inference —
    # the explicit SCALAR eval type says the same thing
    def _cells(vecs):
        if vecs.empty:
            return pd.Series([], dtype=object)
        d = _np_sqdist(_np_vint(vecs), C)
        if n == 1:
            idx = np.argmin(d, axis=1).astype(np.int32)[:, None]
        else:
            idx = (np.argsort(d, axis=1, kind="stable")[:, :n]
                   .astype(np.int32))
        return pd.Series(list(idx))
    return F.pandas_udf(_cells, "array<int>",
                        F.PandasUDFType.SCALAR)


def _pq_assign_udf():
    """pandas_udf: vector -> the PQ_M frozen codes over the direct
    (non-residual) codebooks (array<int>)."""
    import pandas as pd

    from . import frozen_codebooks as FC

    def _codes(vecs):
        if vecs.empty:
            return pd.Series([], dtype=object)
        V = _np_vint(vecs)
        return pd.Series(list(_np_pq_codes(
            V, FC.PQ_CODEBOOKS_I, FC.SUB_D)))
    return F.pandas_udf(_codes, "array<int>",
                        F.PandasUDFType.SCALAR)


def _ivfpq_assign_udf():
    """pandas_udf: vector -> struct(cell, codes): nearest coarse cell
    plus the PQ_M residual codes against that cell's center."""
    import numpy as np
    import pandas as pd

    from . import frozen_codebooks as FC
    C = np.asarray(FC.COARSE_CENTERS_I, dtype=np.int64)

    def _assign(vecs):
        if vecs.empty:
            return pd.DataFrame({"cell": pd.Series([], dtype="int32"),
                                 "codes": pd.Series([], dtype=object)})
        V = _np_vint(vecs)
        cell = np.argmin(_np_sqdist(V, C), axis=1)
        codes = _np_pq_codes(V - C[cell], FC.RESIDUAL_CODEBOOKS_I,
                             FC.SUB_D)
        return pd.DataFrame({"cell": cell.astype(np.int32),
                             "codes": list(codes)})
    return F.pandas_udf(_assign, "cell int, codes array<int>",
                        F.PandasUDFType.SCALAR)


def _ivfpq_corpus_exploded(emb: DataFrame, id_col: str,
                           vec_col: str) -> DataFrame:
    """One mapInPandas pass over the corpus: (neighbor_id, nnorm,
    cell, s, code) with the PQ_M residual codes already exploded — the
    fused quantize+explode shape ivfpq_topk_frozen consumes.

    Why not the scalar UDF: the cell feeds a join key and the codes
    feed a posexplode, and Catalyst's inferred filters (isnotnull on
    the key, size(codes)>0 below the Generate) get pushed underneath
    the projection, re-running the kernel over the WHOLE corpus a
    second time (observed in the physical plan).  mapInPandas is one
    pass by construction.  nnorm reproduces _norm's sequential left
    fold bit-for-bit: per-component accumulation in float64, then the
    correctly-rounded sqrt both engines share."""
    import numpy as np
    import pandas as pd

    from . import frozen_codebooks as FC
    C = np.asarray(FC.COARSE_CENTERS_I, dtype=np.int64)
    M = FC.PQ_M

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            Vf = (np.stack([np.asarray(v) for v in pdf[vec_col]])
                  .astype(np.float64))
            acc = np.zeros(len(pdf))
            for d in range(Vf.shape[1]):     # sequential fold = _norm
                x = Vf[:, d]
                acc = acc + x * x
            nnorm = np.sqrt(acc)
            V = np.floor(Vf * float(FC.SCALE)).astype(np.int64)
            cell = np.argmin(_np_sqdist(V, C), axis=1)
            codes = _np_pq_codes(V - C[cell], FC.RESIDUAL_CODEBOOKS_I,
                                 FC.SUB_D)
            yield pd.DataFrame({
                "neighbor_id": np.repeat(ids, M),
                "nnorm": np.repeat(nnorm, M),
                "cell": np.repeat(cell.astype(np.int32), M),
                "s": np.tile(np.arange(M, dtype=np.int32), len(pdf)),
                "code": codes.reshape(-1)})
    return emb.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        gen, "neighbor_id long, nnorm double, cell int, s int, code int")


def semantic_dedup_pairs_frozen(emb: DataFrame, threshold: float = 0.995,
                                n_assign: int = 3,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                max_cell_rows: int = 50_000,
                                oversize: str = "subblock") -> DataFrame:
    """``semantic_dedup_pairs`` (SemDeDup cluster-blocked near-dup
    pairs) over the FROZEN coarse centers: identical output contract
    (id_a < id_b, exact cosine ≥ threshold, near-duplicate default
    0.995 matching the trained twin — callers wanting the aggressive
    0.45 soft-similarity sweep pass it explicitly, as the workload
    entries do; ADVICE r12), but the cell blocking is the
    frozen-integer argmin, so the whole pipeline is full-oracle (the
    trained-KMeans variant stays available for corpora the frozen grid
    fits badly).

    Scale shape: assignment is a pure projection (no shuffle, no UDF,
    no driver state beyond the 8×64-int literal); the pair join is the
    same within-cell equi-join.  A cell over ``max_cell_rows`` takes
    the PQ sub-blocking path by default (VERDICT r12 task 3 — the r12
    guard refused the 200k probe outright; corpora with every cell in
    bound, i.e. the gate/oracle regime, are bit-identical to the exact
    path); ``oversize="error"`` restores the loud refusal."""
    from . import frozen_codebooks as FC
    from ..session import track_persist
    assigned = (emb.select(F.col(id_col), F.col(vec_col))
                .withColumn("_vint", F.expr(_vint_expr(vec_col)))
                .withColumn("_cell", F.explode(F.expr(_argmin_cells_expr(
                    "_vint", FC.COARSE_CENTERS_I,
                    min(n_assign, FC.COARSE_K)))))
                .drop("_vint"))
    # r13 optimization round (guide §5 cache-what's-reused): the
    # assignment projection feeds the cell-size guard AND both sides
    # of the within-cell self-join — 3 full scan+quantize passes per
    # call without the pin (the guard aggregate below doubles as the
    # materializer).  Safe here unlike the trained family: the frozen
    # argmin is pure rowwise integer math, so values are independent
    # of the cached plan's partition layout (contrast pq_codes, where
    # a persist upstream of KMeans.fit CHANGES the trained centers).
    # Released by the caller scope (bench per pass, workload runner
    # per entry, HTTP per request) via release_tracked_caches.
    assigned = track_persist(assigned)
    biggest = (assigned.groupBy("_cell")
               .agg(F.count(F.lit(1)).alias("n"))
               .agg(F.max("n")).first()[0]) or 0
    block_cols = ["_cell"]
    if biggest > max_cell_rows:
        if oversize != "subblock":
            raise ValueError(
                f"semantic_dedup_pairs_frozen: largest frozen cell "
                f"holds {biggest} rows (> {max_cell_rows}); the "
                f"within-cell pair join would go quadratic — retrain "
                f"a finer frozen grid "
                f"(scripts/train_frozen_codebooks.py) or use the "
                f"trained semantic_dedup_pairs")
        assigned, block_cols = _subblock_oversized(
            assigned, max_cell_rows, "semantic_dedup_pairs_frozen",
            vec_col,
            remedy="retrain a finer frozen grid "
                   "(scripts/train_frozen_codebooks.py)")
        return _blocked_pairs_gemm(assigned, block_cols, threshold,
                                   id_col, vec_col)
    return _blocked_pairs(assigned, block_cols, threshold, id_col,
                          vec_col)


def semantic_dedup_frozen(emb: DataFrame, threshold: float = 0.995,
                          n_assign: int = 3, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Frozen-cell SemDeDup corpus: drop every vector with a smaller-id
    near-dup in a shared frozen cell (greedy min-id representative, the
    ``semantic_dedup`` contract; near-duplicate default 0.995 aligned
    with the trained twin — ADVICE r12)."""
    drop = semantic_dedup_pairs_frozen(
        emb, threshold, n_assign, id_col, vec_col) \
        .select(F.col("id_b").alias(id_col)).distinct()
    return emb.join(drop, on=id_col, how="left_anti")


def pq_topk_frozen(emb: DataFrame, query_ids: list[int], k: int = 3,
                   refine: int = 16, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """``pq_cosine_topk`` (ADC shortlist + exact re-rank) over the
    FROZEN PQ codebooks — full-oracle: codes are exact-int argmins, the
    per-query LUT is exact integer dot products computed driver-side
    from the same frozen constants, the ADC accumulation is an
    associative int64 SUM, and the shortlist order key
    adc_dot/‖neighbor‖ divides an exactly-representable integer by the
    convention-exact double norm.  Only the k·refine re-rank touches
    float cosine."""
    from . import frozen_codebooks as FC
    spark = emb.sparkSession
    # corpus-side quantization: the Arrow-vectorized kernel (VERDICT
    # r12 task 4) — bit-identical codes, one batch pass instead of
    # M·K interpreted higher-order folds per row.  posexplode consumes
    # the UDF output IN THE SAME select: routing it through a second
    # projection makes ExtractPythonUDFs evaluate the kernel twice
    # (plan-asserted in test_frozen_pq_and_ivfpq_all_joins_broadcast).
    exploded = emb.select(
        F.col(id_col).alias("neighbor_id"),
        _norm(F.col(vec_col)).alias("nnorm"),
        F.posexplode(_pq_assign_udf()(F.col(vec_col)))
         .alias("s", "code"))

    qrows = (emb.filter(F.col(id_col).isin(query_ids))
                .select(id_col, vec_col).collect())
    lut = []
    for r in qrows:
        qi = _qint(r[vec_col])
        for s in range(FC.PQ_M):
            qs = qi[s * FC.SUB_D:(s + 1) * FC.SUB_D]
            for ci, cen in enumerate(FC.PQ_CODEBOOKS_I[s]):
                lut.append((r[id_col], s, ci,
                            sum(a * b for a, b in zip(qs, cen))))
    lut_df = spark.createDataFrame(
        lut, "query_id long, s int, code int, partial long")
    scored = (exploded.join(F.broadcast(lut_df), ["s", "code"])
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .groupBy("query_id", "neighbor_id")
              .agg(F.sum("partial").alias("adc_dot"),
                   F.first("nnorm").alias("nnorm"))
              .withColumn("adc_score",
                          F.col("adc_dot").cast("double") / F.col("nnorm")))
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_score"),
                                               F.asc("neighbor_id"))
    shortlist = (scored.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k * max(refine, 1))
                 .select("query_id", "neighbor_id"))
    return _exact_rerank(emb, shortlist, query_ids, k, id_col, vec_col)


def ivfpq_topk_frozen(emb: DataFrame, query_ids: list[int], k: int = 3,
                      n_probe: int = 3, refine: int = 16,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """``ivfpq_cosine_topk`` (coarse cells + residual PQ + ADC + exact
    re-rank) over the FROZEN coarse centers and residual codebooks —
    adc_dot = q·c(v) [exact int, driver-side per probed cell] + Σ_s
    LUT[s][code_s] [exact int residual lookups]; only the probed
    cells' codes are ever scored."""
    from . import frozen_codebooks as FC
    spark = emb.sparkSession
    # corpus-side cell + residual codes + nnorm + explode fused into
    # ONE mapInPandas pass (VERDICT r12 task 4) — bit-identical to the
    # expression twin, guaranteed single evaluation (see
    # _ivfpq_corpus_exploded for why the scalar-UDF shape re-runs)
    exploded0 = _ivfpq_corpus_exploded(emb, id_col, vec_col)

    qrows = (emb.filter(F.col(id_col).isin(query_ids))
                .select(id_col, vec_col).collect())
    probes, lut = [], []
    for r in qrows:
        qi = _qint(r[vec_col])
        dists = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qi, cen)), cell)
            for cell, cen in enumerate(FC.COARSE_CENTERS_I))
        for _, cell in dists[:n_probe]:
            cen = FC.COARSE_CENTERS_I[cell]
            probes.append((r[id_col], cell,
                           sum(a * b for a, b in zip(qi, cen))))
        for s in range(FC.PQ_M):
            qs = qi[s * FC.SUB_D:(s + 1) * FC.SUB_D]
            for ci, cen in enumerate(FC.RESIDUAL_CODEBOOKS_I[s]):
                lut.append((r[id_col], s, ci,
                            sum(a * b for a, b in zip(qs, cen))))
    probe_df = spark.createDataFrame(
        probes, "query_id long, cell int, qc_dot long")
    lut_df = spark.createDataFrame(
        lut, "query_id long, s int, code int, partial long")

    exploded = (exploded0.join(F.broadcast(probe_df), "cell")
                .select("query_id", "neighbor_id", "nnorm", "qc_dot",
                        "s", "code"))
    scored = (exploded
              .join(F.broadcast(lut_df), ["query_id", "s", "code"])
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .groupBy("query_id", "neighbor_id")
              .agg((F.min("qc_dot") + F.sum("partial")).alias("adc_dot"),
                   F.first("nnorm").alias("nnorm"))
              .withColumn("adc_score",
                          F.col("adc_dot").cast("double") / F.col("nnorm")))
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_score"),
                                               F.asc("neighbor_id"))
    shortlist = (scored.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k * max(refine, 1))
                 .select("query_id", "neighbor_id"))
    return _exact_rerank(emb, shortlist, query_ids, k, id_col, vec_col)


def _exact_rerank(emb: DataFrame, shortlist: DataFrame,
                  query_ids: list[int], k: int, id_col: str,
                  vec_col: str) -> DataFrame:
    """Shared exact tail: only the shortlist touches full-precision
    vectors (the two-stage serving shape of pq_cosine_topk).

    ``emb`` must contain EVERY shortlisted neighbor id (i.e. the full
    corpus the shortlist was drawn from, not just the query vectors) —
    an inner join here used to silently drop neighbors missing from a
    queries-only table, truncating the top-k with no error (ADVICE
    r12); the left joins + raise_error make that a loud job failure."""
    qvec_df = (emb.filter(F.col(id_col).isin(query_ids))
                  .select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).alias("qvec")))
    nvec_df = emb.select(F.col(id_col).alias("neighbor_id"),
                         F.col(vec_col).alias("nvec"))
    missing_msg = F.concat(
        F.lit("exact re-rank: shortlisted id missing from the "
              "refine/corpus vector table (pass the FULL corpus, "
              "not just the query vectors): neighbor_id="),
        F.coalesce(F.col("neighbor_id").cast("string"), F.lit("?")),
        F.lit(" query_id="),
        F.coalesce(F.col("query_id").cast("string"), F.lit("?")))
    rescored = (shortlist
                .join(nvec_df, "neighbor_id", "left")
                .join(F.broadcast(qvec_df), "query_id", "left")
                .withColumn(
                    "nvec", F.when(F.col("nvec").isNull() |
                                   F.col("qvec").isNull(),
                                   F.raise_error(missing_msg))
                             .otherwise(F.col("nvec")))
                .withColumn("cos", _cosine(F.col("qvec"), F.col("nvec"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("neighbor_id"))
    return (rescored.withColumn("rank", F.row_number().over(w))
                    .filter(F.col("rank") <= k)
                    .select("query_id", "rank", "neighbor_id",
                            F.round("cos", 4).alias("cosine")))


def ivf_topk_frozen(emb: DataFrame, query_ids: list[int], k: int = 3,
                    n_probe: int = 3, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """``ivf_cosine_topk`` over the FROZEN coarse centers — full-oracle:
    corpus cell assignment and the query probe list are exact int64
    argmins against the frozen constants, candidate scoring is the
    convention-exact float cosine over the probed cells only.  The
    coarse-pruning serving shape with zero training at query time."""
    from . import frozen_codebooks as FC
    spark = emb.sparkSession
    # Arrow-vectorized cell assignment (VERDICT r12 task 4); the
    # coalesce makes the join key non-nullable so the probe join's
    # inferred isnotnull filter cannot re-evaluate the kernel (see
    # ivfpq_topk_frozen)
    corpus = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        F.coalesce(
            _cells_udf(FC.COARSE_CENTERS_I, 1)(F.col(vec_col))[0],
            F.lit(-1)).alias("cell"))
    qrows = (emb.filter(F.col(id_col).isin(query_ids))
                .select(id_col, vec_col).collect())
    probes = []
    for r in qrows:
        qi = _qint(r[vec_col])
        dists = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qi, cen)), cell)
            for cell, cen in enumerate(FC.COARSE_CENTERS_I))
        probes.extend((r[id_col], cell) for _, cell in dists[:n_probe])
    probe_df = spark.createDataFrame(probes, "query_id long, cell int")
    queries = (emb.filter(F.col(id_col).isin(query_ids))
                  .select(F.col(id_col).alias("query_id"),
                          F.col(vec_col).alias("qvec")))
    cand = (corpus.join(F.broadcast(probe_df), "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .join(F.broadcast(queries), "query_id")
            .withColumn("cos", _cosine(F.col("qvec"), F.col("nvec"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "rank", "neighbor_id",
                        F.round("cos", 4).alias("cosine")))


def cluster_balanced_sample_frozen(emb: DataFrame, k_per_cluster: int,
                                   id_col: str = "vec_id",
                                   vec_col: str = "embedding",
                                   salt: str = "cbal-v1") -> DataFrame:
    """``cluster_balanced_sample`` over the FROZEN coarse cells —
    full-oracle: the cell is the exact int64 argmin, the per-cell
    permutation the md5 hash-rank discipline every sampling oracle
    already matches.  Diversity-preserving subsampling with zero
    training at sample time."""
    from . import frozen_codebooks as FC
    # Arrow-vectorized cell assignment (VERDICT r12 task 4)
    assigned = emb.select(
        F.col(id_col),
        _cells_udf(FC.COARSE_CENTERS_I, 1)(F.col(vec_col))[0]
        .alias("cluster"))
    h = F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                          F.lit(salt)))
    w = Window.partitionBy("cluster").orderBy(h.asc(), F.col(id_col))
    return (assigned.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k_per_cluster)
            .select(id_col, "cluster", "rank"))


# ---- persisted IVFPQ index (the codes table IS what you persist) -----------
# At 100 TB the raw vectors are the thing you cannot afford to rescan:
# the IVFPQ artifact is (cell, 8 residual codes, norm) per vector —
# ~12 bytes + the id — partitioned by coarse cell so a query reads only
# its probed cells' files (same PartitionFilters discipline as
# ivf_build_index).  Quantization uses the FROZEN codebooks, so the
# build is pure assignment (no training job in the serving path) and
# the index is reproducible bit-for-bit; retraining the frozen module
# changes the codebook hash and invalidates the index.


def _frozen_codebook_sig() -> str:
    import hashlib

    from . import frozen_codebooks as FC
    return hashlib.sha256(repr(
        (FC.SCALE, FC.COARSE_CENTERS_I, FC.RESIDUAL_CODEBOOKS_I)
    ).encode()).hexdigest()[:16]


def ivfpq_build_index(emb: DataFrame, index_dir: str,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> dict:
    """Persist the compressed IVFPQ index: ``codes.parquet``
    partitioned by coarse ``cell`` with one row per vector —
    (neighbor_id, nnorm, code_0..code_{M-1}).  Idempotent via the same
    (corpus signature, codebook signature) meta marker as
    ivf_build_index; a retrained frozen codebook or regenerated corpus
    forces a rebuild."""
    import os

    from . import frozen_codebooks as FC

    n, corpus_sig = _corpus_signature(emb)
    meta = {"kind": "ivfpq-frozen", "n_vectors": n,
            "corpus_sig": corpus_sig,
            "codebook_sig": _frozen_codebook_sig(),
            "m": FC.PQ_M, "id_col": id_col, "vec_col": vec_col,
            "version": 1}
    if _index_is_current(index_dir, meta, ("codes.parquet",)):
        return meta
    # the same Arrow-batch assignment as the inline operator (VERDICT
    # r12 task 4); the persisted schema keeps one code_s column per
    # subspace — a cheap JVM projection off the struct
    coded = (emb.select(F.col(id_col).alias("neighbor_id"),
                        _norm(F.col(vec_col)).alias("nnorm"),
                        _ivfpq_assign_udf()(F.col(vec_col)).alias("_a"))
             .select("neighbor_id", "nnorm",
                     F.col("_a.cell").alias("cell"),
                     *[F.col("_a.codes")[s].alias(f"code_{s}")
                       for s in range(FC.PQ_M)]))
    (coded.write.mode("overwrite").partitionBy("cell")
          .parquet(os.path.join(index_dir, "codes.parquet")))
    return _commit_index(index_dir, meta)


def ivfpq_query_index(spark, index_dir: str, queries: DataFrame,
                      k: int = 3, n_probe: int = 3,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      refine_with: DataFrame | None = None,
                      refine: int = 32) -> DataFrame:
    """ADC top-k from the PERSISTED compressed index: probes, the
    exact q·centroid offsets and the integer LUT are computed on the
    driver from the frozen constants; the codes scan is filtered on
    the partition column (only probed cells' files are read); the ADC
    sum is an associative int64 aggregate.  Returns (query_id, rank,
    neighbor_id, adc_score) ranked in the compressed domain — pass the
    raw-vector table as ``refine_with`` to re-rank the k·refine
    shortlist with the exact cosine (the two-stage serving tail),
    which changes the output contract to (…, cosine)."""
    import os

    from . import frozen_codebooks as FC

    meta = read_index_meta(index_dir)
    if meta.get("codebook_sig") != _frozen_codebook_sig():
        raise ValueError(
            "ivfpq_query_index: the frozen codebooks changed since "
            "this index was built (codebook_sig mismatch) — rebuild "
            "with ivfpq_build_index")
    qrows = (queries.select(F.col(id_col).alias("query_id"),
                            F.col(vec_col).alias("qvec")).collect())
    probes, lut = [], []
    for r in qrows:
        qi = _qint(r["qvec"])
        dists = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qi, cen)), cell)
            for cell, cen in enumerate(FC.COARSE_CENTERS_I))
        for _, cell in dists[:n_probe]:
            cen = FC.COARSE_CENTERS_I[cell]
            probes.append((r["query_id"], cell,
                           sum(a * b for a, b in zip(qi, cen))))
        for s in range(FC.PQ_M):
            qs = qi[s * FC.SUB_D:(s + 1) * FC.SUB_D]
            for ci, cen in enumerate(FC.RESIDUAL_CODEBOOKS_I[s]):
                lut.append((r["query_id"], s, ci,
                            sum(a * b for a, b in zip(qs, cen))))
    probe_df = spark.createDataFrame(
        probes, "query_id long, cell int, qc_dot long")
    lut_df = spark.createDataFrame(
        lut, "query_id long, s int, code int, partial long")
    # STATIC partition predicate: the scan lists only probed cells
    probed_cells = sorted({c for _, c, _ in probes})
    codes = (spark.read.parquet(
        os.path.join(index_dir, "codes.parquet"))
        .filter(F.col("cell").isin(probed_cells)))
    exploded = (codes.join(F.broadcast(probe_df), "cell")
                .select("query_id", "neighbor_id", "nnorm", "qc_dot",
                        F.posexplode(F.array(
                            *[F.col(f"code_{s}")
                              for s in range(FC.PQ_M)]))
                        .alias("s", "code")))
    scored = (exploded
              .join(F.broadcast(lut_df), ["query_id", "s", "code"])
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .groupBy("query_id", "neighbor_id")
              .agg((F.min("qc_dot") + F.sum("partial")).alias("adc_dot"),
                   F.first("nnorm").alias("nnorm"))
              .withColumn("adc_score",
                          F.col("adc_dot").cast("double") / F.col("nnorm")))
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_score"),
                                               F.asc("neighbor_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if refine_with is None:
        return (ranked.filter(F.col("rank") <= k)
                .select("query_id", "rank", "neighbor_id",
                        F.round("adc_score", 6).alias("adc_score")))
    shortlist = (ranked.filter(F.col("rank") <= k * max(refine, 1))
                 .select("query_id", "neighbor_id"))
    qids = [r["query_id"] for r in qrows]
    return _exact_rerank(refine_with, shortlist, qids, k,
                         id_col, vec_col)


def source_dim_drift(emb: DataFrame, docs: DataFrame, k: int = 5,
                     id_col: str = "vec_id", doc_id_col: str = "doc_id",
                     group_col: str = "source",
                     vec_col: str = "embedding") -> DataFrame:
    """Corpus-shift monitor: for every source (domain / crawl / batch),
    the ``k`` embedding DIMENSIONS whose per-source centroid drifts
    furthest from the global centroid — the per-dimension view that
    tells a pipeline operator *which direction* a source's content
    moved, not just that it moved.

    Exactness: components quantize with the engine-wide frozen
    convention (floor(x * SCALE) -> int64, ``_vint_expr``); per-source
    and global per-dimension SUMS are exact int64 (associative —
    shuffle order cannot perturb them); only the final mean difference
    touches doubles, with one fixed expression shape
    ``(ssum/n_s - gsum/n) / SCALE`` both engines evaluate identically
    (all four integers are < 2^53, so each division is one correctly
    rounded IEEE op).

    Scale shape: ONE shuffle on (source, dim) with map-side partial
    aggregation (the posexplode emits dim-count rows per vector but
    combiners collapse them to |sources| * dim cells per task); the
    global centroid re-aggregates the per-source cells (never re-scans
    the corpus) and broadcasts back; the rank window partitions by
    source over exactly ``dim`` rows.  Output:
    ``(source, dim, mean_diff, rank)``, ``rank <= k``.
    """
    j = (emb.join(docs.select(F.col(doc_id_col).alias(id_col), group_col),
                  id_col)
         .select(F.col(group_col),
                 F.posexplode(F.expr(_vint_expr(vec_col)))
                 .alias("dim", "q")))
    s = (j.groupBy(group_col, "dim")
         .agg(F.sum("q").alias("ssum"), F.count("*").alias("n_s")))
    g = (s.groupBy("dim")
         .agg(F.sum("ssum").alias("gsum"), F.sum("n_s").alias("n")))
    from .frozen_codebooks import SCALE
    d = (s.join(F.broadcast(g), "dim")
         .withColumn("_diff", F.expr(
             "(CAST(ssum AS DOUBLE) / CAST(n_s AS DOUBLE)"
             " - CAST(gsum AS DOUBLE) / CAST(n AS DOUBLE))"
             f" / {SCALE}.0")))
    w = Window.partitionBy(group_col).orderBy(
        F.abs(F.col("_diff")).desc(), F.col("dim"))
    return (d.select(F.col(group_col), "dim", "_diff",
                     F.row_number().over(w).alias("rank"))
            .filter(F.col("rank") <= k)
            .select(F.col(group_col),
                    F.col("dim").cast("int").alias("dim"),
                    F.round("_diff", 6).alias("mean_diff"),
                    F.col("rank").cast("int").alias("rank")))

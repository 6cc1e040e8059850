"""Embedding entries on exact vector math: norms, brute-force top-k,
quantization, near-dup pairs, semantic dedup, balanced clustering,
cross-split leakage and per-source drift.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import sampling as SM
from ..operators import similarity as S
from ..session import load_table
from ..workload_shared import _docs, _emb, drain, stage_batches, tertiles
from .emb_ann import coarse_values_sql, frozen_cells_sql


_COS_SPLIT = """list_sum(list_transform(list_zip(a.embedding, b.embedding),
            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(a.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(b.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""

COS_AB = """list_sum(list_transform(list_zip(a.embedding, b.embedding),
       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
     / (sqrt(list_sum(list_transform(a.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      * sqrt(list_sum(list_transform(b.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""

# SemDeDup oracles over the frozen cells — shared by the
# emb_semantic_dedup_pairs/_corpus entries and the streaming fold
# (which provably equals the batch corpus on id-ordered batches).
SEM_PAIRS_ORACLE = f"""WITH cc(cell, cen) AS (VALUES {coarse_values_sql()}),
        {frozen_cells_sql(3)},
        cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                 FROM cells x JOIN cells y
                   ON x.cell = y.cell AND x.vec_id < y.vec_id)
        SELECT c.id_a, c.id_b, ROUND({COS_AB}, 4) AS cosine
        FROM cand c JOIN embeddings a ON a.vec_id = c.id_a
                    JOIN embeddings b ON b.vec_id = c.id_b
        WHERE {COS_AB} >= 0.45"""

SEM_CORPUS_ORACLE = f"""WITH cc(cell, cen) AS (VALUES {coarse_values_sql()}),
        {frozen_cells_sql(3)},
        cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
                 FROM cells x JOIN cells y
                   ON x.cell = y.cell AND x.vec_id < y.vec_id),
        dropped AS (SELECT DISTINCT c.id_b
                    FROM cand c
                    JOIN embeddings a ON a.vec_id = c.id_a
                    JOIN embeddings b ON b.vec_id = c.id_b
                    WHERE {COS_AB} >= 0.45)
        SELECT e.vec_id FROM embeddings e
        WHERE e.vec_id NOT IN (SELECT id_b FROM dropped)"""


def register(add) -> None:
    add("emb_norms",
        lambda spark, sf: S.embedding_norms(_emb(spark, sf)),
        """SELECT vec_id,
               ROUND(sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
        FROM embeddings""")

    add("emb_cosine_topk",
        lambda spark, sf: S.cosine_topk(_emb(spark, sf), [0, 1, 2, 3, 4], k=3),
        """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                      FROM embeddings WHERE vec_id IN (0,1,2,3,4)),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
            list_sum(list_transform(list_zip(q.qvec, e.embedding),
              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(q.qvec,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
          FROM embeddings e JOIN q ON e.vec_id <> q.query_id)
        SELECT query_id, rank, neighbor_id, ROUND(cos, 4) AS cosine FROM (
          SELECT query_id, neighbor_id, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
          FROM scored)
        WHERE rank <= 3""")

    add("emb_quantize",
        lambda spark, sf: S.quantize_embeddings(_emb(spark, sf))
        .select("vec_id",
                F.concat_ws(",", F.col("q_codes").cast("array<string>"))
                .alias("codes"),
                F.col("q_scale")),
        """SELECT vec_id,
               array_to_string(list_transform(embedding, x ->
                 CAST(greatest(-127, least(127, CAST(floor(
                   CAST(x AS DOUBLE) /
                   (greatest(list_max(list_transform(embedding,
                      v -> abs(CAST(v AS DOUBLE)))), 1e-30) / 127.0))
                   AS INTEGER))) AS VARCHAR)), ',') AS codes,
               greatest(list_max(list_transform(embedding,
                  v -> abs(CAST(v AS DOUBLE)))), 1e-30) / 127.0 AS q_scale
        FROM embeddings""")

    add("emb_quantized_topk",
        lambda spark, sf: S.dequantized_cosine_topk(
            _emb(spark, sf), [0, 1, 2, 3, 4], k=3),
        """WITH deq AS (
          SELECT vec_id,
                 list_transform(embedding, x ->
                   CAST(greatest(-127, least(127, CAST(floor(
                     CAST(x AS DOUBLE) /
                     (greatest(list_max(list_transform(embedding,
                        v -> abs(CAST(v AS DOUBLE)))), 1e-30) / 127.0))
                     AS INTEGER))) AS DOUBLE)
                   * (greatest(list_max(list_transform(embedding,
                        v -> abs(CAST(v AS DOUBLE)))), 1e-30) / 127.0))
                   AS e
          FROM embeddings),
        q AS (SELECT vec_id AS query_id, e AS qvec FROM deq
              WHERE vec_id IN (0,1,2,3,4)),
        scored AS (
          SELECT q.query_id, d.vec_id AS neighbor_id,
            list_sum(list_transform(list_zip(q.qvec, d.e),
              p -> p[1] * p[2]))
            / (sqrt(list_sum(list_transform(q.qvec, x -> x * x)))
             * sqrt(list_sum(list_transform(d.e, x -> x * x)))) AS cos
          FROM deq d JOIN q ON d.vec_id <> q.query_id)
        SELECT query_id, rank, neighbor_id, ROUND(cos, 4) AS cosine FROM (
          SELECT query_id, neighbor_id, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
          FROM scored)
        WHERE rank <= 3""")

    add("emb_near_dup_pairs",
        lambda spark, sf: D.embedding_near_dups(_emb(spark, sf),
                                                threshold=0.45),
        """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(
                 list_sum(list_transform(list_zip(a.embedding, b.embedding),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(a.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(b.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
                 AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(a.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(b.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
              >= 0.45""")

    # SemDeDup-style semantic dedup (Abbas et al. 2023): exact-cosine
    # near-dup pairs → connected components; cluster == vec_id marks the
    # canonical keeper.  Same min-label propagation as the text path;
    # the oracle closes the identical edge set with a recursive CTE.
    _COS = """list_sum(list_transform(list_zip(a.embedding, b.embedding),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(a.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(b.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""
    add("emb_semantic_dedup_clusters",
        lambda spark, sf: D.near_dup_clusters(
            D.embedding_near_dups(_emb(spark, sf), threshold=0.45))
            .withColumnRenamed("doc_id", "vec_id"),
        f"""WITH RECURSIVE pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE {_COS} >= 0.45),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION SELECT src, src FROM edges
          UNION SELECT r.src, e.dst
          FROM reach r JOIN edges e ON r.dst = e.src)
        SELECT src AS vec_id, MIN(dst) AS cluster FROM reach GROUP BY src""")

    # product quantization + ADC shortlist + exact re-rank — the
    # compressed-scan serving path (IVFPQ's PQ half).  KMeans codebooks →
    # not SQL-expressible → rows-only; quality contract =
    # tests/test_recall.py PQ floors (exact-top3 recovery + planted@1)

    # ---- cluster-balanced subsample (beyond-reference) -------
    # Diversity-preserving curation: at most k vectors per KMeans cell,
    # deterministic hash-rank within the cell.  KMeans cell ids are not
    # SQL-expressible → rows-only; the wrapper enforces the structural
    # contract in-entry (rank bound, cluster-id range, id uniqueness)
    # and raises on violation, so a returned row carries real signal.
    def cluster_balanced(spark, sf):
        from pyspark.sql import functions as FF

        from ..operators.similarity import cluster_balanced_sample
        out = cluster_balanced_sample(_emb(spark, sf), k_per_cluster=40,
                                      n_clusters=16).cache()
        chk = out.agg(
            FF.count(FF.lit(1)).alias("n"),
            FF.countDistinct("vec_id").alias("n_ids"),
            FF.max("rank").alias("max_rank"),
            FF.min("cluster").alias("min_c"),
            FF.max("cluster").alias("max_c")).first()
        if not (chk.n == chk.n_ids and chk.max_rank <= 40
                and 0 <= chk.min_c and chk.max_c < 16):
            raise RuntimeError(
                f"cluster_balanced_sample structural contract violated: "
                f"{chk.asDict()}")
        return out

    add("emb_cluster_balanced_sample", cluster_balanced, None)

    # split-leakage audit: eval vectors with a >=0.40-cosine twin in
    # train — the paraphrase/re-encode leak that verbatim n-gram
    # contamination checks miss.  Split assignment is the deterministic
    # md5 split rule, recomputed by the oracle.
    _B = SM.hash_bucket_sql("a.vec_id", "split-v1")
    _B2 = SM.hash_bucket_sql("b.vec_id", "split-v1")

    add("emb_cross_split_leakage",
        lambda spark, sf: D.cross_split_leakage(
            _emb(spark, sf), {"train": 0.8, "eval": 0.2}, threshold=0.40),
        f"""WITH pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 CASE WHEN {_B} < 8000 THEN 'train' ELSE 'eval' END
                   AS split_a,
                 CASE WHEN {_B2} < 8000 THEN 'train' ELSE 'eval' END
                   AS split_b,
                 ROUND({_COS_SPLIT}, 4) AS cosine
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE {_COS_SPLIT} >= 0.40)
        SELECT id_a, id_b, split_a, split_b, cosine
        FROM pairs WHERE split_a <> split_b""")

    # SemDeDup (cluster-blocked semantic near-dup) — FULL ORACLE: the
    # entries run the frozen-coarse-center variant (exact int64 cell
    # argmin against the learned-then-frozen centers in
    # operators/frozen_codebooks.py, trained once in Spark), so DuckDB
    # recomputes cells, candidate pairs and the exact cosine screen
    # bit-for-bit.  The trained-KMeans semantic_dedup_pairs stays the
    # library's adaptive path; the differential gates vs the exact
    # GEMM pair table remain — precision must be 1 BY CONSTRUCTION
    # (same exact cosine, same threshold; a violation means the
    # blocking emitted a phantom pair), recall floored at 0.7.
    def semantic_pairs(spark, sf):
        from ..operators import dedup as D
        from ..operators import similarity as S
        emb = load_table(spark, sf, "embeddings")
        out = S.semantic_dedup_pairs_frozen(emb, threshold=0.45,
                                            n_assign=3)
        if emb.count() <= 100_000:
            exact = {(r["id_a"], r["id_b"])
                     for r in D.embedding_near_dups(
                         emb, threshold=0.45).collect()}
            got = {(r["id_a"], r["id_b"]) for r in out.collect()}
            if not got <= exact:
                raise AssertionError(
                    f"emb_semantic_dedup_pairs: phantom pairs "
                    f"{sorted(got - exact)[:5]} not in the exact GEMM "
                    f"table (precision must be 1 by construction)")
            if exact and len(got & exact) / len(exact) < 0.7:
                raise AssertionError(
                    f"emb_semantic_dedup_pairs: recall "
                    f"{len(got & exact)}/{len(exact)} below floor 0.7")
        return out

    add("emb_semantic_dedup_pairs", semantic_pairs, SEM_PAIRS_ORACLE)

    # the deduplicated corpus itself: kept = all minus {id_b of pairs}
    # (greedy min-id representative); the in-entry check re-derives
    # the keep set from the pair table and compares EXACTLY.
    def semantic_corpus(spark, sf):
        from ..operators import similarity as S
        emb = load_table(spark, sf, "embeddings")
        kept = S.semantic_dedup_frozen(emb, threshold=0.45,
                                       n_assign=3).select("vec_id")
        if emb.count() <= 100_000:
            dropped = {r["id_b"] for r in S.semantic_dedup_pairs_frozen(
                emb, threshold=0.45, n_assign=3).collect()}
            want = {r["vec_id"] for r in emb.select("vec_id").collect()
                    } - dropped
            got = {r["vec_id"] for r in kept.collect()}
            if got != want:
                raise AssertionError(
                    f"emb_semantic_dedup_corpus: keep set diverges "
                    f"from the pair-table derivation "
                    f"(missing {sorted(want - got)[:5]}, "
                    f"extra {sorted(got - want)[:5]})")
        return kept

    add("emb_semantic_dedup_corpus", semantic_corpus, SEM_CORPUS_ORACLE)

    # Cluster-balanced sampling with frozen cells: full-oracle twin of
    # emb_cluster_balanced_sample (frozen argmin cell + the md5
    # hash-rank permutation every sampling oracle already matches).
    def cbal_exact(spark, sf):
        emb = load_table(spark, sf, "embeddings")
        return S.cluster_balanced_sample_frozen(emb, k_per_cluster=5)

    _CBAL_SQL = f"""WITH cc(cell, cen) AS (VALUES {coarse_values_sql()}),
        {frozen_cells_sql(1)},
        r AS (SELECT vec_id, cell AS cluster,
                 ROW_NUMBER() OVER (PARTITION BY cell ORDER BY
                   md5(concat(CAST(vec_id AS VARCHAR), ':cbal-v1')),
                   vec_id) AS rank
              FROM cells)
        SELECT vec_id, CAST(cluster AS INTEGER) AS cluster,
               CAST(rank AS INTEGER) AS rank
        FROM r WHERE rank <= 5"""

    add("emb_cluster_balanced_exact", cbal_exact, _CBAL_SQL)

    # STREAMING semantic dedup at ingestion time: the corpus arrives as
    # an availableNow file stream in vec_id-ordered micro-batches; each
    # batch assigns its vectors to their frozen cells, screens them
    # against the durable same-cell store of EVERYTHING processed so
    # far (dropped vectors still block larger ids — the greedy min-id
    # rule is "any smaller-id near-dup", not "any surviving one") plus
    # its own smaller-id batch-mates, and appends itself to the store.
    # With id-ordered batches the kept set provably equals the batch
    # semantic_dedup_frozen corpus, so the entry SHARES that oracle.
    # Commit markers make replays no-ops; restart recovery re-reads the
    # last committed store version.  State is the cell-exploded corpus
    # itself (an index, partitioned by the join key — never driver
    # state), and each batch touches only its own cells' rows.
    def stream_semantic_dedup(spark, sf):
        import os

        from ..operators import similarity as S
        from ..operators.frozen_codebooks import COARSE_CENTERS_I
        emb = load_table(spark, sf, "embeddings")
        root = stage_batches("semdedup_stream", sf, emb,
                             lambda d: tertiles(d, "vec_id"))
        out = os.path.join(root, "out")
        os.makedirs(out, exist_ok=True)
        cells_of = S._argmin_cells_expr("_vint", COARSE_CENTERS_I, 3)
        state: dict = {"store": None, "last_v": -1}

        def assigned(df):
            return (df.select("vec_id", "embedding")
                    .withColumn("_vint",
                                F.expr(S._vint_expr("embedding")))
                    .withColumn("cell", F.explode(F.expr(cells_of)))
                    .drop("_vint"))

        def fold(batch, batch_id: int) -> None:
            bspark = batch.sparkSession
            store = os.path.join(out, f"store_b{batch_id}")
            drops = os.path.join(out, f"dropped_b{batch_id}")
            cmark = os.path.join(out, f"_COMMITTED_b{batch_id}")
            if os.path.exists(cmark):
                state["store"] = bspark.read.parquet(store)
                state["last_v"] = batch_id
                return                     # replayed batch: no-op
            prev = state["store"]
            if prev is None and batch_id > 0:    # restart recovery
                prev = bspark.read.parquet(
                    os.path.join(out, f"store_b{batch_id - 1}"))
            bc = assigned(batch)
            blockers = bc.select(
                "cell", F.col("vec_id").alias("id_a"),
                F.col("embedding").alias("_va"))
            if prev is not None:
                blockers = prev.select(
                    "cell", F.col("vec_id").alias("id_a"),
                    F.col("embedding").alias("_va")).unionByName(blockers)
            probe = bc.select("cell", F.col("vec_id").alias("id_b"),
                              F.col("embedding").alias("_vb"))
            dropped = (blockers.join(probe, "cell")
                       .filter(F.col("id_a") < F.col("id_b"))
                       .dropDuplicates(["id_a", "id_b"])
                       .filter(S._cosine(F.col("_va"), F.col("_vb"))
                               >= 0.45)
                       .select(F.col("id_b").alias("vec_id"))
                       .distinct())
            if batch_id > 0:
                dropped = dropped.unionByName(
                    bspark.read.parquet(
                        os.path.join(out, f"dropped_b{batch_id - 1}"))
                ).distinct()
            dropped.write.mode("overwrite").parquet(drops)
            merged = bc if prev is None else prev.unionByName(bc)
            merged.write.mode("overwrite").parquet(store)
            open(cmark, "w").close()
            state["store"] = bspark.read.parquet(store)
            state["last_v"] = batch_id

        drain(spark, emb.schema, root, fold, "ckpt")
        import glob as _glob
        last = sorted(_glob.glob(os.path.join(out, "dropped_b*")))[-1]
        dropped = spark.read.parquet(last)
        return (emb.select("vec_id")
                .join(dropped, "vec_id", "left_anti"))

    add("emb_stream_semantic_dedup", stream_semantic_dedup,
        SEM_CORPUS_ORACLE)

    def dim_drift(spark, sf):
        from ..operators import similarity as S
        return S.source_dim_drift(_emb(spark, sf), _docs(spark, sf), k=5)

    add("emb_source_dim_drift", dim_drift, """WITH j AS (
      SELECT d.source,
             generate_subscripts(e.embedding, 1) - 1 AS dim,
             CAST(floor(CAST(unnest(e.embedding) AS DOUBLE) * 10000.0)
                  AS BIGINT) AS q
      FROM embeddings e
      JOIN documents d ON e.vec_id = d.doc_id),
    s AS (
      SELECT source, dim, CAST(SUM(q) AS BIGINT) AS ssum,
             CAST(COUNT(*) AS BIGINT) AS n_s
      FROM j GROUP BY 1, 2),
    g AS (
      SELECT dim, CAST(SUM(ssum) AS BIGINT) AS gsum,
             CAST(SUM(n_s) AS BIGINT) AS n
      FROM s GROUP BY 1),
    d AS (
      SELECT source, dim,
             (CAST(ssum AS DOUBLE) / CAST(n_s AS DOUBLE)
              - CAST(gsum AS DOUBLE) / CAST(n AS DOUBLE)) / 10000.0
               AS diff
      FROM s JOIN g USING (dim)),
    r AS (
      SELECT source, dim, diff,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY abs(diff) DESC, dim) AS INTEGER) AS rank
      FROM d)
    SELECT source, CAST(dim AS INTEGER) AS dim,
           ROUND(diff, 6) AS mean_diff, rank
    FROM r WHERE rank <= 5""")

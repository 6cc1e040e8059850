"""Approximate nearest-neighbour embedding entries: LSH, IVF, PQ and
IVFPQ search, their persisted indexes, the random projection ahead of
them, and the frozen-codebook twins that make each one oracle-exact.

The frozen twins quantize with the learned-then-frozen integer
codebooks in ``operators/frozen_codebooks.py``, whose constants are
emitted as literal VALUES into the DuckDB oracle; every scoring step is
exact int64 arithmetic and only the re-rank uses float cosine.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import frozen_codebooks as FC
from ..operators import sampling as SM
from ..operators import similarity as S
from ..operators.similarity import jl_sign_matrix, random_projection
from ..session import load_table
from ..workload_shared import _emb, scratch_root


#: floor(x·10⁴) int quantization — mirror of similarity._vint_expr
VINT_SQL = ("list_transform(embedding, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {FC.SCALE}.0) AS BIGINT))")

#: the engine-wide exact float cosine convention (a=query side rows
#: aliased q/e or a/b by the caller)
COS_QE = """list_sum(list_transform(list_zip(q.qvec, e.embedding),
       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
     / (sqrt(list_sum(list_transform(q.qvec,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      * sqrt(list_sum(list_transform(e.embedding,
          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""


def coarse_values_sql() -> str:
    """(cell, cen BIGINT[]) VALUES rows for the frozen coarse centers."""
    return ",".join(f"({i}, {list(c)}::BIGINT[])"
                    for i, c in enumerate(FC.COARSE_CENTERS_I))


def _book_values_sql(books) -> str:
    """(s, c, cen BIGINT[]) VALUES rows for a per-subspace codebook."""
    return ",".join(f"({s}, {c}, {list(cen)}::BIGINT[])"
                    for s, book in enumerate(books)
                    for c, cen in enumerate(book))


def frozen_cells_sql(n_assign: int) -> str:
    """CTE body: each vector's ``n_assign`` nearest frozen coarse cells
    (exact int64 L2, ties to the lower cell id) — expects a ``cc(cell,
    cen)`` VALUES CTE in scope; yields ``cells(vec_id, cell)``."""
    return f"""vi AS (SELECT vec_id, embedding, {VINT_SQL} AS vint
           FROM embeddings),
        cdist AS (
          SELECT v.vec_id, cc.cell,
                 list_sum(list_transform(list_zip(v.vint, cc.cen),
                   p -> (p[1]-p[2])*(p[1]-p[2]))) AS d2
          FROM vi v, cc),
        cells AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY d2, cell) AS rn
            FROM cdist) WHERE rn <= {n_assign})"""


_QIDS = "(0, 1, 2, 3, 4)"

# refine=32 / n_probe=5: the frozen grid (8×16 codebooks trained once)
# is coarser than the learned per-corpus quantizers, so the shortlist
# and probe budget are wider — measured planted recall@1 at sf0.01:
# pq 12/14, ivfpq 14/14 (tests/test_recall.py pins the floors).  The
# shortlist stays k·refine = 96 rows per query at ANY corpus size.
_K, _REFINE, _NPROBE = 3, 32, 5

_SUB = FC.SUB_D


def _pq_exact_oracle() -> str:
    short = _K * _REFINE
    return f"""WITH cb(s, c, cen) AS (VALUES {_book_values_sql(FC.PQ_CODEBOOKS_I)}),
        vi AS (SELECT vec_id, embedding, {VINT_SQL} AS vint
               FROM embeddings),
        dist AS (
          SELECT v.vec_id, cb.s, cb.c,
                 list_sum(list_transform(
                   list_zip(v.vint[(cb.s*{_SUB}+1):(cb.s*{_SUB}+{_SUB})],
                            cb.cen),
                   p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
          FROM vi v, cb),
        codes AS (
          SELECT vec_id, s, c AS code FROM (
            SELECT vec_id, s, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                     ORDER BY d, c) AS rn
            FROM dist) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, embedding AS qvec, vint AS qint
              FROM vi WHERE vec_id IN {_QIDS}),
        lut AS (
          SELECT q.query_id, cb.s, cb.c,
                 list_sum(list_transform(
                   list_zip(q.qint[(cb.s*{_SUB}+1):(cb.s*{_SUB}+{_SUB})],
                            cb.cen),
                   p -> p[1]*p[2])) AS partial
          FROM q, cb),
        norms AS (SELECT vec_id,
                    sqrt(list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nnorm
                  FROM embeddings),
        adc AS (
          SELECT l.query_id, c.vec_id AS neighbor_id,
                 SUM(l.partial) AS adc_dot
          FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.c
          WHERE c.vec_id <> l.query_id GROUP BY 1, 2),
        sc AS (SELECT a.query_id, a.neighbor_id,
                      CAST(a.adc_dot AS DOUBLE) / n.nnorm AS score
               FROM adc a JOIN norms n ON a.neighbor_id = n.vec_id),
        short AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY score DESC, neighbor_id) AS rn
            FROM sc) WHERE rn <= {short}),
        re AS (SELECT s.query_id, s.neighbor_id, {COS_QE} AS cos
               FROM short s
               JOIN embeddings e ON e.vec_id = s.neighbor_id
               JOIN q ON q.query_id = s.query_id)
        SELECT query_id, rank, neighbor_id, ROUND(cos, 4) AS cosine FROM (
          SELECT query_id, neighbor_id, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
          FROM re) WHERE rank <= {_K}"""


def _ivfpq_exact_oracle() -> str:
    short = _K * _REFINE
    return f"""WITH cc(cell, cen) AS (VALUES {coarse_values_sql()}),
        rb(s, c, cen) AS (VALUES {_book_values_sql(FC.RESIDUAL_CODEBOOKS_I)}),
        vi AS (SELECT vec_id, embedding, {VINT_SQL} AS vint
               FROM embeddings),
        cd AS (SELECT v.vec_id, cc.cell,
                 list_sum(list_transform(list_zip(v.vint, cc.cen),
                   p -> (p[1]-p[2])*(p[1]-p[2]))) AS d2
               FROM vi v, cc),
        asg AS (SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY d2, cell) AS rn FROM cd)
          WHERE rn = 1),
        res AS (SELECT v.vec_id, a.cell,
                 list_transform(list_zip(v.vint, cc.cen),
                   p -> p[1]-p[2]) AS rint
               FROM vi v JOIN asg a USING (vec_id)
               JOIN cc ON cc.cell = a.cell),
        dist AS (SELECT r.vec_id, r.cell, rb.s, rb.c,
                 list_sum(list_transform(
                   list_zip(r.rint[(rb.s*{_SUB}+1):(rb.s*{_SUB}+{_SUB})],
                            rb.cen),
                   p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
               FROM res r, rb),
        codes AS (SELECT vec_id, cell, s, c AS code FROM (
            SELECT vec_id, cell, s, c,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                     ORDER BY d, c) AS rn
            FROM dist) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, embedding AS qvec, vint AS qint
              FROM vi WHERE vec_id IN {_QIDS}),
        qd AS (SELECT q.query_id, cc.cell,
                 list_sum(list_transform(list_zip(q.qint, cc.cen),
                   p -> (p[1]-p[2])*(p[1]-p[2]))) AS d2,
                 list_sum(list_transform(list_zip(q.qint, cc.cen),
                   p -> p[1]*p[2])) AS qc_dot
               FROM q, cc),
        probes AS (SELECT query_id, cell, qc_dot FROM (
            SELECT query_id, cell, qc_dot,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY d2, cell) AS rn
            FROM qd) WHERE rn <= {_NPROBE}),
        lut AS (SELECT q.query_id, rb.s, rb.c,
                 list_sum(list_transform(
                   list_zip(q.qint[(rb.s*{_SUB}+1):(rb.s*{_SUB}+{_SUB})],
                            rb.cen),
                   p -> p[1]*p[2])) AS partial
               FROM q, rb),
        norms AS (SELECT vec_id,
                    sqrt(list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nnorm
                  FROM embeddings),
        adc AS (SELECT p.query_id, c2.vec_id AS neighbor_id,
                       MIN(p.qc_dot) + SUM(l.partial) AS adc_dot
                FROM codes c2
                JOIN probes p ON p.cell = c2.cell
                JOIN lut l ON l.query_id = p.query_id
                          AND l.s = c2.s AND l.c = c2.code
                WHERE c2.vec_id <> p.query_id
                GROUP BY 1, 2),
        sc AS (SELECT a.query_id, a.neighbor_id,
                      CAST(a.adc_dot AS DOUBLE) / n.nnorm AS score
               FROM adc a JOIN norms n ON a.neighbor_id = n.vec_id),
        short AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY score DESC, neighbor_id) AS rn
            FROM sc) WHERE rn <= {short}),
        re AS (SELECT s.query_id, s.neighbor_id, {COS_QE} AS cos
               FROM short s
               JOIN embeddings e ON e.vec_id = s.neighbor_id
               JOIN q ON q.query_id = s.query_id)
        SELECT query_id, rank, neighbor_id, ROUND(cos, 4) AS cosine FROM (
          SELECT query_id, neighbor_id, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
          FROM re) WHERE rank <= {_K}"""


def register(add) -> None:
    # ---- in-entry differential gates for the rows-only ANN family ----
    # The driver's rows-only check proves only "ran and returned rows";
    # these wrappers make that row carry REAL signal (VERDICT r5 item 4)
    # by computing recall against the oracle-green exact operator INSIDE
    # the entry and failing loudly below the floor.  Gated behind a
    # corpus-size cap so the exact pass can't become the scale
    # bottleneck the approximate operator exists to avoid; the skip is
    # logged, never silent.  Documented in PARITY.md.
    #
    # Regime note: the testdata embeddings are near-uniform,
    # so these gates legitimately need n_probe=5 of 8 cells — the
    # regime where IVF pruning is weakest.  The CLUSTERED regime the
    # index family was designed for is measured separately
    # (2852f4c:scripts/ann_clustered_probe.py: recall@10=1.0 at
    # n_probe=2/32, residual-PQ gain +0.207) and pinned by the clustered-corpus tests
    # in tests/test_recall.py; both corpus shapes are test-locked.
    _ANN_GATE_MAX_VECS = 100_000

    def _ann_gate_skipped(n_vecs: int, name: str) -> bool:
        if n_vecs > _ANN_GATE_MAX_VECS:
            import logging
            logging.getLogger(__name__).warning(
                "%s: differential recall gate skipped (%d vectors > "
                "cap %d) — covered by tests/test_recall.py floors",
                name, n_vecs, _ANN_GATE_MAX_VECS)
            return True
        return False

    def _hash_index_topk_gated(spark, sf, which: str):
        emb = _emb(spark, sf)
        qids = [0, 1, 2, 3, 4]
        if which == "lsh":
            out = S.lsh_cosine_topk(emb, qids, k=3)
            floor = 0.8                   # measured 5/5 at sf0.01
        else:
            # n_probe=5 of 8 for the same uniform-corpus reason as the
            # composed index (measured: 2/5 at the default n_probe=2,
            # 4/5 at 5); floor >=4/5
            out = S.ivf_cosine_topk(emb, qids, k=3, n_probe=5)
            floor = 0.7
        name = f"emb_{which}_topk"
        if not _ann_gate_skipped(emb.count(), name):
            exact1 = {r["query_id"]: r["neighbor_id"]
                      for r in S.cosine_topk(emb, qids, k=1).collect()}
            approx = {}
            for r in out.collect():
                approx.setdefault(r["query_id"], set()).add(
                    r["neighbor_id"])
            hits = sum(1 for q, n1 in exact1.items()
                       if n1 in approx.get(q, set()))
            if exact1 and hits / len(exact1) < floor:
                raise AssertionError(
                    f"{name}: exact top-1 in approx top-3 for only "
                    f"{hits}/{len(exact1)} queries (floor {floor})")
        return out

    add("emb_lsh_topk",
        lambda spark, sf: _hash_index_topk_gated(spark, sf, "lsh"),
        None)

    add("emb_ivf_topk",
        lambda spark, sf: _hash_index_topk_gated(spark, sf, "ivf"),
        None)

    def _pq_topk_gated(spark, sf, composed: bool):
        emb = _emb(spark, sf)
        qids = [0, 1, 2, 3, 4]
        if composed:
            # n_probe=5 of 8: on this NEAR-UNIFORM corpus an arbitrary
            # query's true top-1 sits in a random cell (measured
            # in-top-3 rate: 2/5 at n_probe=3, 4/5 at 5), so the entry
            # probes a majority of cells and the gate floor is 0.7
            # (>=4/5) — cell pruning bounds what the composed index
            # can promise for NON-planted neighbors on uniform data,
            # unlike the planted near-dups tests/test_recall.py pins
            # at n_probe=3.
            out = S.ivfpq_cosine_topk(emb, qids, k=3, n_probe=5)
            name, floor = "emb_ivfpq_topk", 0.7
        else:
            out = S.pq_cosine_topk(emb, qids, k=3)
            name, floor = "emb_pq_topk", 0.8
        if not _ann_gate_skipped(emb.count(), name):
            exact1 = {r["query_id"]: r["neighbor_id"]
                      for r in S.cosine_topk(emb, qids, k=1).collect()}
            approx = {}
            for r in out.collect():
                approx.setdefault(r["query_id"], set()).add(
                    r["neighbor_id"])
            hits = sum(1 for q, n1 in exact1.items()
                       if n1 in approx.get(q, set()))
            if exact1 and hits / len(exact1) < floor:
                raise AssertionError(
                    f"{name}: exact top-1 in approx top-3 for only "
                    f"{hits}/{len(exact1)} queries (floor {floor})")
        return out

    add("emb_pq_topk",
        lambda spark, sf: _pq_topk_gated(spark, sf, composed=False),
        None)

    # the composed index: IVF cell pruning bounds how MANY codes are
    # read, PQ bounds how BIG each read is; exact tail re-ranks.
    # Rows-only (two KMeans stages); recall floor guards the composition
    add("emb_ivfpq_topk",
        lambda spark, sf: _pq_topk_gated(spark, sf, composed=True),
        None)

    def _lsh_near_dup_gated(spark, sf):
        emb = _emb(spark, sf)
        out = S.lsh_near_dup_pairs(emb, threshold=0.45, n_tables=16,
                                   bits_per_table=4)
        if not _ann_gate_skipped(emb.count(), "emb_lsh_near_dup_pairs"):
            exact = {(r["id_a"], r["id_b"]) for r in
                     D.embedding_near_dups(emb, threshold=0.45).collect()}
            got = {(r["id_a"], r["id_b"]) for r in out.collect()}
            # the operator exact-verifies candidates, so precision is
            # 1.0 by construction — assert it, then gate recall
            stray = got - exact
            if stray:
                raise AssertionError(
                    f"emb_lsh_near_dup_pairs: {len(stray)} pairs not in "
                    f"the exact GEMM output — verification broke")
            if exact and len(got) / len(exact) < 0.7:
                raise AssertionError(
                    f"emb_lsh_near_dup_pairs: recall "
                    f"{len(got)}/{len(exact)} vs exact pairs "
                    f"(floor 0.7)")
        return out

    # all-pairs near-dup WITHOUT the GEMM broadcast bound (the scale path
    # embedding_near_dups reroutes to); loose-threshold setting matches
    # the planted cosine-0.5 pairs.  Approximate recall → rows-only;
    # quality contract = the in-entry differential gate above plus
    # tests/test_recall.py recall+precision floors
    add("emb_lsh_near_dup_pairs", _lsh_near_dup_gated, None)

    # the 100 TB path for the same audit: LSH-bucketed pair generation
    # (no driver collect) + the identical split join.  Rows-only by
    # construction (LSH recall is approximate) — the quality contract
    # is the in-entry differential gate vs the exact path: precision
    # must be 1.0 (candidates are exact-verified) and recall >= 0.7,
    # with a logged skip above the gate's vector cap (no silent caps).
    _LSH_GATE_MAX_VECS = 100_000

    def _leakage_lsh_gated(spark, sf):
        emb = _emb(spark, sf)
        out = D.cross_split_leakage(
            emb, {"train": 0.8, "eval": 0.2}, threshold=0.40,
            method="lsh", n_tables=16, bits_per_table=4)
        n = emb.count()
        if n > _LSH_GATE_MAX_VECS:
            import logging
            logging.getLogger(__name__).warning(
                "emb_cross_split_leakage_lsh: differential gate skipped "
                "(%d vectors > cap %d)", n, _LSH_GATE_MAX_VECS)
            return out
        exact = {(r["id_a"], r["id_b"]) for r in D.cross_split_leakage(
            emb, {"train": 0.8, "eval": 0.2}, threshold=0.40).collect()}
        got = {(r["id_a"], r["id_b"]) for r in out.collect()}
        stray = got - exact
        if stray:
            raise AssertionError(
                f"emb_cross_split_leakage_lsh: {len(stray)} pairs not "
                f"in the exact audit — verification or split join broke")
        if exact and len(got) / len(exact) < 0.7:
            raise AssertionError(
                f"emb_cross_split_leakage_lsh: recall {len(got)}/"
                f"{len(exact)} vs the exact audit (floor 0.7)")
        return out

    add("emb_cross_split_leakage_lsh", _leakage_lsh_gated, None)

    # JL random projection: Rademacher +-1 projection
    # to 16 dims from the deterministic md5 sign matrix
    # (operators/similarity.jl_sign_matrix) — distance-preserving
    # pre-reduction ahead of ANN/clustering; a pure per-row fold, no
    # shuffle, no UDF.  The oracle regenerates the identical matrix.

    _JL = jl_sign_matrix(16, 64)
    _jl_cols = ",\n               ".join(
        "ROUND(list_sum(list_transform(list_zip(embedding, ["
        + ", ".join(f"{float(s)}" for s in row)
        + "]), p -> CAST(p[1] AS DOUBLE) * p[2])), 4) AS p" + str(j)
        for j, row in enumerate(_JL))

    add("emb_random_projection",
        lambda spark, sf: random_projection(_emb(spark, sf), 16),
        f"""SELECT vec_id,
               {_jl_cols}
        FROM embeddings""")

    # ORACLE-EXACT embedding LSH near-dup: the last rows-only near-dup family member gets a full-oracle
    # md5 twin like the minhash/simhash ones.  ±1 hyperplanes from md5
    # nibbles, integer-frozen projections (no float sums until the
    # final verify cosine, which both engines round to 4 decimals
    # before the threshold) — the SQL mirrors every stage, so result
    # sets match bit-for-bit.
    # CTE chain shared by both md5-LSH twins (near-dup pairs + top-k):
    # quantized vectors -> md5 planes -> integer dots -> (vec, table,
    # bucket) signatures.
    _MD5_LSH = r"""qv AS (
          SELECT vec_id, embedding,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1e3 + 5e-1)
                        AS BIGINT)) AS q
          FROM embeddings),
        planes AS (
          SELECT t.t, b.b, i.i,
                 CASE WHEN TRY_CAST(concat('0x', substr(md5(concat(
                        'lshplane:', t.t, ':', b.b, ':', i.i)), 1, 1))
                      AS INTEGER) >= 8 THEN 1 ELSE -1 END AS c
          FROM range(16) t(t), range(4) b(b), range(64) i(i)),
        dots AS (
          SELECT v.vec_id, p.t, p.b,
                 CAST(SUM(p.c * v.q[p.i + 1]) AS BIGINT) AS d
          FROM qv v, planes p GROUP BY 1, 2, 3),
        buckets AS (
          SELECT vec_id, t,
                 CAST(SUM(CASE WHEN d >= 0 THEN power(2, b)::BIGINT
                          ELSE 0 END) AS BIGINT) AS bucket
          FROM dots GROUP BY 1, 2)"""

    _COS_AB = """list_sum(list_transform(
                     list_zip(a.embedding, b.embedding),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(a.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(b.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""

    add("emb_lsh_near_dup_pairs_exact",
        lambda spark, sf: S.lsh_near_dup_pairs_md5(
            _emb(spark, sf), threshold=0.45, n_tables=16,
            bits_per_table=4),
        f"""WITH {_MD5_LSH},
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM buckets a JOIN buckets b
            ON a.t = b.t AND a.bucket = b.bucket
               AND a.vec_id < b.vec_id)
        SELECT id_a, id_b, cosine FROM (
          SELECT c.id_a, c.id_b, ROUND({_COS_AB}, 4) AS cosine
          FROM cand c
          JOIN embeddings a ON a.vec_id = c.id_a
          JOIN embeddings b ON b.vec_id = c.id_b)
        WHERE cosine >= 0.45""")

    # ORACLE-EXACT LSH top-k: the same signature chain serving the
    # query side — candidates share ANY (table, bucket) cell with a
    # query, exact-cosine ranked with the deterministic
    # (cos DESC, neighbor_id) tiebreak.  Upgrades the last rows-only
    # ANN family member (emb_lsh_topk) with a value-exact sibling.
    add("emb_lsh_topk_exact",
        lambda spark, sf: S.lsh_cosine_topk_md5(
            _emb(spark, sf), [0, 1, 2, 3, 4], k=3, n_tables=16,
            bits_per_table=4),
        f"""WITH {_MD5_LSH},
        qb AS (
          SELECT vec_id AS query_id, t, bucket FROM buckets
          WHERE vec_id IN (0, 1, 2, 3, 4)),
        cand AS (
          SELECT DISTINCT q.query_id, s.vec_id AS neighbor_id
          FROM buckets s JOIN qb q
            ON s.t = q.t AND s.bucket = q.bucket
               AND s.vec_id <> q.query_id),
        scored AS (
          SELECT c.query_id, c.neighbor_id, {_COS_AB} AS cos
          FROM cand c
          JOIN embeddings a ON a.vec_id = c.query_id
          JOIN embeddings b ON b.vec_id = c.neighbor_id)
        SELECT query_id, rank, neighbor_id, ROUND(cos, 4) AS cosine
        FROM (
          SELECT query_id, neighbor_id, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id) AS INTEGER)
                   AS rank
          FROM scored)
        WHERE rank <= 3""")

    # ORACLE-EXACT cross-split leakage on the LSH scale path: the md5
    # twin pipeline + the deterministic md5 split rule —
    # the 100 TB no-collect audit shape, now with a full value oracle
    # (the seeded-float "lsh" variant keeps its differential gate and
    # stays the fast path).
    _BA = SM.hash_bucket_sql("a.vec_id", "split-v1")
    _BB = SM.hash_bucket_sql("b.vec_id", "split-v1")
    add("emb_cross_split_leakage_lsh_exact",
        lambda spark, sf: D.cross_split_leakage(
            _emb(spark, sf), {"train": 0.8, "eval": 0.2},
            threshold=0.40, method="lsh_md5", n_tables=16,
            bits_per_table=4),
        f"""WITH {_MD5_LSH},
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM buckets a JOIN buckets b
            ON a.t = b.t AND a.bucket = b.bucket
               AND a.vec_id < b.vec_id),
        pairs AS (
          SELECT c.id_a, c.id_b,
                 CASE WHEN {_BA} < 8000 THEN 'train' ELSE 'eval' END
                   AS split_a,
                 CASE WHEN {_BB} < 8000 THEN 'train' ELSE 'eval' END
                   AS split_b,
                 ROUND({_COS_AB}, 4) AS cosine
          FROM cand c
          JOIN embeddings a ON a.vec_id = c.id_a
          JOIN embeddings b ON b.vec_id = c.id_b)
        SELECT id_a, id_b, split_a, split_b, cosine
        FROM pairs WHERE cosine >= 0.40 AND split_a <> split_b""")

    # Persisted IVF index lifecycle (build once -> query many): the
    # serving-path shape for ANN at 100 TB — assignments partitioned
    # by cell on disk, queries read ONLY the probed cells (static
    # partition predicate; plan-guarded in tests/test_plans.py).
    # Same differential recall gate as the per-call ANN entries
    # (uniform corpus -> n_probe=5 of 8, floor 0.7); rows-only oracle
    # (KMeans cells are not SQL-expressible).
    def ivf_index_topk(spark, sf):
        from ..operators import similarity as S
        from ..session import load_table
        emb = load_table(spark, sf, "embeddings")
        root = scratch_root("ivf_index", sf)
        S.ivf_build_index(emb, root)
        qids = [0, 1, 2, 3, 4]
        out = S.ivf_query_index(
            spark, root, emb.filter(F.col("vec_id").isin(qids)),
            k=3, n_probe=5)
        if emb.count() <= 100_000:
            exact1 = {r["query_id"]: r["neighbor_id"]
                      for r in S.cosine_topk(emb, qids, k=1).collect()}
            approx: dict = {}
            for r in out.collect():
                approx.setdefault(r["query_id"], set()).add(
                    r["neighbor_id"])
            hits = sum(1 for q, n1 in exact1.items()
                       if n1 in approx.get(q, set()))
            if exact1 and hits / len(exact1) < 0.7:
                raise AssertionError(
                    f"emb_ivf_index_topk: exact top-1 in approx top-3 "
                    f"for only {hits}/{len(exact1)} queries (floor 0.7)")
        return out

    add("emb_ivf_index_topk", ivf_index_topk, None)

    # PQ with frozen codebooks: full-oracle twin of emb_pq_topk (the
    # learned-codebook original keeps its recall gate; this twin pins
    # the ADC/shortlist/re-rank machinery value-exactly).
    def pq_exact(spark, sf):
        emb = load_table(spark, sf, "embeddings")
        return S.pq_topk_frozen(emb, [0, 1, 2, 3, 4], k=_K,
                                refine=_REFINE)

    add("emb_pq_topk_exact", pq_exact, _pq_exact_oracle())

    # IVFPQ (coarse cells + residual PQ) with frozen centers/codebooks:
    # full-oracle twin of emb_ivfpq_topk.
    def ivfpq_exact(spark, sf):
        emb = load_table(spark, sf, "embeddings")
        return S.ivfpq_topk_frozen(emb, [0, 1, 2, 3, 4], k=_K,
                                   n_probe=_NPROBE, refine=_REFINE)

    add("emb_ivfpq_topk_exact", ivfpq_exact, _ivfpq_exact_oracle())

    # IVF coarse-pruning with frozen centers: full-oracle twin of
    # emb_ivf_topk (cells + probes exact-int, scoring exact cosine
    # over probed cells only).
    def ivf_exact(spark, sf):
        emb = load_table(spark, sf, "embeddings")
        return S.ivf_topk_frozen(emb, [0, 1, 2, 3, 4], k=_K,
                                 n_probe=_NPROBE)

    _IVF_EXACT_SQL = f"""WITH cc(cell, cen) AS (VALUES {coarse_values_sql()}),
        {frozen_cells_sql(1)},
        q AS (SELECT vec_id AS query_id, embedding AS qvec,
                     {VINT_SQL} AS qint
              FROM embeddings WHERE vec_id IN {_QIDS}),
        qd AS (SELECT q.query_id, cc.cell,
                 list_sum(list_transform(list_zip(q.qint, cc.cen),
                   p -> (p[1]-p[2])*(p[1]-p[2]))) AS d2
               FROM q, cc),
        probes AS (SELECT query_id, cell FROM (
            SELECT query_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY d2, cell) AS rn
            FROM qd) WHERE rn <= {_NPROBE}),
        cand AS (SELECT p.query_id, c.vec_id AS neighbor_id
                 FROM cells c JOIN probes p ON p.cell = c.cell
                 WHERE c.vec_id <> p.query_id),
        sc AS (SELECT cd.query_id, cd.neighbor_id, {COS_QE} AS cos
               FROM cand cd
               JOIN embeddings e ON e.vec_id = cd.neighbor_id
               JOIN q ON q.query_id = cd.query_id)
        SELECT query_id, rank, neighbor_id, ROUND(cos, 4) AS cosine FROM (
          SELECT query_id, neighbor_id, cos,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
          FROM sc) WHERE rank <= {_K}"""

    add("emb_ivf_topk_exact", ivf_exact, _IVF_EXACT_SQL)

    # The PERSISTED compressed-index serving path, full oracle: build
    # the IVFPQ codes index once (idempotent via corpus + codebook
    # signatures), query it with the exact-refined tail — the result
    # is defined to equal the inline frozen operator, so the entry
    # SHARES emb_ivfpq_topk_exact's oracle.  This is the shape that
    # matters at 100 TB: the raw vectors are scanned once at build,
    # queries read only probed cells' ~12-byte code rows.
    def ivfpq_index_topk(spark, sf):
        emb = load_table(spark, sf, "embeddings")
        root = scratch_root("ivfpq_index", sf)
        S.ivfpq_build_index(emb, root)
        queries = emb.filter(F.col("vec_id").isin([0, 1, 2, 3, 4]))
        return S.ivfpq_query_index(spark, root, queries, k=_K,
                                   n_probe=_NPROBE, refine_with=emb,
                                   refine=_REFINE)

    add("emb_ivfpq_index_topk", ivfpq_index_topk, _ivfpq_exact_oracle())

"""Rows-only ANN entries with in-entry differential recall gates.

Entry builders moved VERBATIM from the round-6 ``workloads/similarity.py``
(round-7 split, VERDICT r6 task 7); build order inside this module is
unchanged.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ..session import load_table
from ..operators import dedup as D
from ..operators import sampling as SM
from ..operators import similarity as S
from ..operators import text as TX
from ..workload_shared import (_docs, _emb)


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
    # Regime note (round 7): the testdata embeddings are near-uniform,
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

"""Train/eval contamination entries: overlap checks, attribution,
decontaminated corpora and spans, and Bloom-filter decontamination in
batch and streaming form.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import sampling as SM
from ..operators.sampling import hash_bucket_sql
from ..operators.sketches import BLOOM_SALTS, bloom_pos_sql
from ..workload_shared import _docs, drain, stage_batches, tertiles


def register(add) -> None:
    def contamination(spark, sf):
        from ..operators.sampling import _hash_bucket
        docs = _docs(spark, sf)
        b = _hash_bucket(F.col("doc_id"), "contam-v1")
        test = docs.filter(b < 1000)          # held-out 10%
        train = docs.filter(b >= 1000)
        return D.contamination_check(train, test)

    _CB = SM.hash_bucket_sql("doc_id", "contam-v1")

    # eval-leakage detector: distinct-shingle vocabulary of TRAIN joined
    # against the held-out TEST split's shingles; exact integer outputs
    add("docs_contamination_check", contamination,
        rf"""WITH toks AS (
          SELECT doc_id, {_CB} AS b,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, b,
                 unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> array_to_string(t[i:i+2], ' ')))) AS shingle
          FROM toks),
        vocab AS (SELECT DISTINCT shingle FROM sh WHERE b >= 1000)
        SELECT s.doc_id, COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN v.shingle IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated
        FROM sh s LEFT JOIN vocab v ON s.shingle = v.shingle
        WHERE s.b < 1000
        GROUP BY s.doc_id""")

    # Decontamination ATTRIBUTION + REMOVAL: the existing
    # docs_contamination_check reports eval-side counts; these two
    # complete the GPT-3 appendix-C workflow — which TRAIN doc hit
    # which eval doc, and the decontaminated train corpus after the
    # drop rule.  Split convention: source 'src0' is the held-out
    # eval slice (the same reference_cond the LM-scoring family uses).
    _SH = r"""toks AS (
          SELECT doc_id, source,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, source,
                 unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> array_to_string(t[i:i+2], ' ')))) AS shingle
          FROM toks)"""

    add("docs_contamination_attribution",
        lambda spark, sf: D.contamination_attribution(
            _docs(spark, sf).filter(F.col("source") != "src0"),
            _docs(spark, sf).filter(F.col("source") == "src0"),
            n=3, min_shared=3),
        f"""WITH {_SH}
        SELECT a.doc_id AS train_id, b.doc_id AS test_id,
               COUNT(*) AS shared_ngrams
        FROM sh a JOIN sh b ON a.shingle = b.shingle
        WHERE a.source <> 'src0' AND b.source = 'src0'
        GROUP BY 1, 2 HAVING COUNT(*) >= 3""")

    add("docs_decontaminated_corpus",
        lambda spark, sf: D.decontaminate_corpus(
            _docs(spark, sf).filter(F.col("source") != "src0"),
            _docs(spark, sf).filter(F.col("source") == "src0"),
            n=3, max_shared=2),
        f"""WITH {_SH},
        off AS (
          SELECT DISTINCT train_id FROM (
            SELECT a.doc_id AS train_id
            FROM sh a JOIN sh b ON a.shingle = b.shingle
            WHERE a.source <> 'src0' AND b.source = 'src0'
            GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 3))
        SELECT d.doc_id, d.lang, d.source
        FROM documents d LEFT JOIN off ON d.doc_id = off.train_id
        WHERE d.source <> 'src0' AND off.train_id IS NULL""")

    # SPAN-level decontamination (surgical excision instead of the
    # whole-doc drop): the exact stride-1 span machinery pointed
    # across the train/eval split — k=5 windows, interval-merged into
    # maximal spans, byte-exact span lists on both engines.
    add("docs_contamination_spans",
        lambda spark, sf: D.contamination_spans(
            _docs(spark, sf).filter(F.col("source") != "src0"),
            _docs(spark, sf).filter(F.col("source") == "src0"),
            k=5),
        r"""WITH t AS (
          SELECT doc_id, source,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          FROM documents),
        g AS (
          SELECT doc_id, source, i - 1 AS pos,
                 array_to_string(list_slice(toks, i, i + 4), ' ') AS sh
          FROM t, LATERAL unnest(generate_series(1, len(toks) - 4))
               AS u(i)),
        ev AS (SELECT DISTINCT sh FROM g WHERE source = 'src0'),
        mk AS (
          SELECT g.doc_id, pos AS s, pos + 4 AS e
          FROM g JOIN ev USING (sh) WHERE g.source <> 'src0'),
        r AS (
          SELECT doc_id, s, e,
                 CASE WHEN s > coalesce(max(e) OVER (
                          PARTITION BY doc_id ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), -2) + 1
                      THEN 1 ELSE 0 END AS brk
          FROM mk),
        sp AS (SELECT doc_id, s, e,
                      SUM(brk) OVER (PARTITION BY doc_id ORDER BY s)
                        AS sid
               FROM r),
        ag AS (SELECT doc_id, sid, MIN(s) AS ss, MAX(e) AS se
               FROM sp GROUP BY 1, 2),
        pd AS (SELECT doc_id,
                      CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
                      CAST(SUM(se - ss + 1) AS BIGINT) AS n_dup_tokens,
                      string_agg(ss || '-' || se, ',' ORDER BY ss)
                        AS dup_spans
               FROM ag GROUP BY 1)
        SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
               coalesce(pd.n_dup_spans, 0) AS n_dup_spans,
               coalesce(pd.n_dup_tokens, 0) AS n_dup_tokens,
               coalesce(pd.dup_spans, '') AS dup_spans
        FROM t LEFT JOIN pd USING (doc_id)
        WHERE t.source <> 'src0'""")

    # Bloom-filter decontamination (full oracle, INCLUDING any false
    # positives — the bit positions are md5-derived like every sketch
    # in the family, so the SQL oracle reproduces the filter exactly):
    # the bounded-state alternative to docs_contamination_check's
    # exact vocabulary join — m bits of mergeable state instead of the
    # whole train shingle vocabulary.  Same contam-v1 split, same
    # 3-gram shingle convention.
    _BLOOM_M = 262_144    # kn/m ~ 0.25 at the fixture's ~16.5k vocab

    def bloom_decontaminate(spark, sf):
        from ..operators import dedup as D
        from ..operators import sketches as SK
        from ..operators.sampling import _hash_bucket
        from ..workload_shared import _docs
        docs = _docs(spark, sf)
        b = _hash_bucket(F.col("doc_id"), "contam-v1")
        test, train = docs.filter(b < 1000), docs.filter(b >= 1000)
        vocab = D.shingle_docs(train).select("shingle").distinct()
        bits = SK.bloom_bits(vocab, "shingle", m=_BLOOM_M)
        test_sh = D.shingle_docs(test)
        verdict = SK.bloom_probe(
            bits, test_sh.select("shingle").distinct(), "shingle",
            m=_BLOOM_M)
        return (test_sh.join(verdict, "shingle")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_shingles"),
                     F.sum("maybe_present").cast("bigint")
                     .alias("n_bloom_hits")))

    _CB2 = hash_bucket_sql("doc_id", "contam-v1")
    _bpos = [bloom_pos_sql("shingle", s, _BLOOM_M) for s in BLOOM_SALTS]

    _BLOOM_ORACLE = rf"""WITH toks AS (
          SELECT doc_id, {_CB2} AS b,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, b,
                 unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> array_to_string(t[i:i+2], ' ')))) AS shingle
          FROM toks),
        vocab AS (SELECT DISTINCT shingle FROM sh WHERE b >= 1000),
        bits AS (SELECT DISTINCT pos FROM (
          SELECT {_bpos[0]} AS pos FROM vocab
          UNION ALL SELECT {_bpos[1]} FROM vocab
          UNION ALL SELECT {_bpos[2]} FROM vocab
          UNION ALL SELECT {_bpos[3]} FROM vocab)),
        probe_sh AS (SELECT DISTINCT shingle FROM sh WHERE b < 1000),
        ppos AS (
          SELECT shingle, {_bpos[0]} AS pos FROM probe_sh
          UNION ALL SELECT shingle, {_bpos[1]} FROM probe_sh
          UNION ALL SELECT shingle, {_bpos[2]} FROM probe_sh
          UNION ALL SELECT shingle, {_bpos[3]} FROM probe_sh),
        verdict AS (
          SELECT p.shingle,
                 CASE WHEN COUNT(bt.pos) = 4 THEN 1 ELSE 0 END AS mp
          FROM ppos p LEFT JOIN bits bt USING (pos)
          GROUP BY p.shingle)
        SELECT s.doc_id, COUNT(*) AS n_shingles,
               CAST(SUM(v.mp) AS BIGINT) AS n_bloom_hits
        FROM sh s JOIN verdict v USING (shingle)
        WHERE s.b < 1000
        GROUP BY s.doc_id"""

    add("docs_bloom_decontaminate", bloom_decontaminate, _BLOOM_ORACLE)

    # STREAMING Bloom fold: the filter is built INCREMENTALLY over an
    # availableNow file stream of the train split (one doc_id slice
    # per micro-batch); each batch ORs its shingles' bit positions
    # into the durable sparse-bitmap store (union + distinct — the
    # Bloom merge, exact and batch-order-insensitive, so the folded
    # filter provably equals the one-shot build and the entry SHARES
    # the batch oracle).  Commit markers make replays no-ops; restart
    # recovery re-reads the last committed store.  This is streaming
    # decontamination at ingestion time: state is <= m rows, bounded
    # at any corpus size.
    def stream_bloom_fold(spark, sf):
        import os

        from ..operators import dedup as D
        from ..operators import sketches as SK
        from ..operators.sampling import _hash_bucket
        docs = _docs(spark, sf)
        b = _hash_bucket(F.col("doc_id"), "contam-v1")
        test, train = docs.filter(b < 1000), docs.filter(b >= 1000)
        root = stage_batches("bloom_stream", sf, train,
                             lambda d: tertiles(d, "doc_id"))
        out = os.path.join(root, "out")
        os.makedirs(out, exist_ok=True)
        state: dict = {"bits": None, "last": None}

        def fold(batch, batch_id: int) -> None:
            bspark = batch.sparkSession
            store = os.path.join(out, f"bits_b{batch_id}")
            cmark = os.path.join(out, f"_COMMITTED_b{batch_id}")
            if os.path.exists(cmark):
                state["bits"] = bspark.read.parquet(store)
                state["last"] = store
                return                     # replayed batch: no-op
            prev = state["bits"]
            if prev is None and batch_id > 0:    # restart recovery
                prev = bspark.read.parquet(
                    os.path.join(out, f"bits_b{batch_id - 1}"))
            vocab = D.shingle_docs(batch).select("shingle").distinct()
            new = SK.bloom_bits(vocab, "shingle", m=_BLOOM_M)
            merged = new if prev is None else SK.bloom_merge(prev, new)
            merged.write.mode("overwrite").parquet(store)
            open(cmark, "w").close()
            state["bits"] = bspark.read.parquet(store)
            state["last"] = store

        drain(spark, train.schema, root, fold, "ckpt")
        import glob as _glob
        last = state["last"] or sorted(
            _glob.glob(os.path.join(out, "bits_b*")))[-1]
        bits = spark.read.parquet(last)
        test_sh = D.shingle_docs(test)
        verdict = SK.bloom_probe(
            bits, test_sh.select("shingle").distinct(), "shingle",
            m=_BLOOM_M)
        return (test_sh.join(verdict, "shingle")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_shingles"),
                     F.sum("maybe_present").cast("bigint")
                     .alias("n_bloom_hits")))

    add("docs_stream_bloom_fold", stream_bloom_fold, _BLOOM_ORACLE)

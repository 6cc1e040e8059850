"""Corpus assembly entries: corpus and chunk preparation, corpus cards,
snapshot diffs and versioned time travel, and the text/vector
retrieval shapes over the assembled corpus.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import sampling as SM
from ..operators import similarity as S
from ..operators import text as TX
from ..operators.fixedlog import ladder_sql
from ..workload_shared import _docs, _emb, staged_root


_IDF_LADDER = ladder_sql(
    "SELECT token, df, n_docs FROM dfreq, tot",
    lns=[("((n_docs - df + 0.5e0) / (df + 0.5e0) + 1.0e0)", "lnv")])


def register(add) -> None:
    # keyword-filtered exact vector search (the RAG retrieval shape);
    # query vector = embedding 0 resolved LAZILY in-plan (no driver
    # action at construction), terms prune the candidate set first
    add("docs_hybrid_search",
        lambda spark, sf: S.hybrid_search(
            _docs(spark, sf), _emb(spark, sf),
            ["vector", "stream"], query_id=0, k=10),
        """WITH q AS (SELECT embedding AS qvec FROM embeddings
                      WHERE vec_id = 0),
        cands AS (SELECT doc_id FROM documents
                  WHERE lower(text) LIKE '%vector%'
                    AND lower(text) LIKE '%stream%'),
        scored AS (
          SELECT e.vec_id AS doc_id,
            ROUND(list_sum(list_transform(list_zip(e.embedding, q.qvec),
              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(q.qvec,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
              AS cosine
          FROM embeddings e JOIN cands c ON e.vec_id = c.doc_id, q)
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id)
                    AS INTEGER) AS rank,
               doc_id, cosine
        FROM scored
        ORDER BY cosine DESC, doc_id LIMIT 10""")

    def corpus_prep(spark, sf):
        from ..operators.pipeline import prepare_corpus
        return prepare_corpus(_docs(spark, sf), min_quality=0.5)

    # the canonical corpus-prep composition: quality gate -> keep-first
    # exact dedup -> deterministic split, one lineage, full SQL oracle
    add("docs_prepare_corpus", corpus_prep,
        rf"""WITH q AS (
          SELECT doc_id,
            len(regexp_split_to_array(trim(text), '\s+')) AS q_tok,
            greatest(length(text), 1) AS q_chr,
            CAST(len(regexp_extract_all(lower(text),
              '\b(the|and|of|to|in|is)\b')) AS INTEGER) AS q_stop,
            CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                 AS INTEGER) AS q_punct
          FROM documents),
        passed AS (
          SELECT d.doc_id, d.text FROM documents d JOIN q USING (doc_id)
          WHERE ROUND(
            (CASE WHEN q_tok >= 10 AND q_tok <= 5000
                  THEN 0.4 ELSE 0.0 END)
            + least(q_stop / greatest(q_tok, 1) * 2.0, 0.4)
            - least(q_punct / q_chr * 5.0, 0.2)
            + (CASE WHEN q_chr / greatest(q_tok, 1) >= 3.0
                     AND q_chr / greatest(q_tok, 1) <= 12.0
                    THEN 0.2 ELSE 0.0 END), 4) >= 0.5),
        fp AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                   AS fingerprint
          FROM passed),
        kept AS (
          SELECT doc_id FROM fp
          WHERE doc_id = (SELECT MIN(f2.doc_id) FROM fp f2
                          WHERE f2.fingerprint = fp.fingerprint))
        SELECT doc_id,
               CASE WHEN {SM.hash_bucket_sql('doc_id', 'split-v1')} < 9000
                    THEN 'train' ELSE 'val' END AS split
        FROM kept""")

    # BM25 ranked retrieval — idf frozen to micro-units per TERM (the
    # only ln), each (doc,term) contribution rounded to integer milli
    # BEFORE the per-doc sum → order-independent exact integer score
    add("docs_bm25_topk",
        lambda spark, sf: TX.bm25_topk(_docs(spark, sf),
                                       ["hash", "join", "stream"], k=10),
        rf"""WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(
                   trim(lower(text)), '\s+')) AS token
          FROM documents),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        tot AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT)
                  AS total_len FROM dl),
        hits AS (SELECT doc_id, token FROM toks
                 WHERE token IN ('hash', 'join', 'stream')),
        dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df
                  FROM hits GROUP BY 1),
        idf AS (
          SELECT token, CAST(ROUND(lnv * 1e6) AS BIGINT) AS idf_micro
          FROM ({_IDF_LADDER})),
        tf AS (SELECT doc_id, token, COUNT(*) AS tf
               FROM hits GROUP BY 1, 2),
        contrib AS (
          SELECT tf.doc_id, CAST(ROUND(
                   idf_micro * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75
                     * (dl * n_docs / total_len)))) / 1000.0)
                 AS BIGINT) AS contrib_milli
          FROM tf JOIN dl ON dl.doc_id = tf.doc_id
          JOIN idf ON idf.token = tf.token, tot),
        scored AS (
          SELECT doc_id, CAST(SUM(contrib_milli) AS BIGINT)
                   AS score_milli,
                 COUNT(*) AS n_terms_hit
          FROM contrib GROUP BY 1)
        SELECT CAST(ROW_NUMBER() OVER (
                 ORDER BY score_milli DESC, doc_id) AS INTEGER) AS rank,
               doc_id, n_terms_hit, score_milli
        FROM scored
        ORDER BY score_milli DESC, doc_id
        LIMIT 10""")

    # snapshot diff: both versions derived deterministically from the one
    # documents table (md5 buckets), so the oracle reconstructs them and
    # the promotion-gate counts compare exactly
    def snap_diff(spark, sf):
        from ..operators.diff import snapshot_diff_summary
        from ..operators.sampling import _hash_bucket
        docs = _docs(spark, sf)
        b = _hash_bucket(F.col("doc_id"), "snap-v1")
        old = docs.filter(b % 10 < 9)
        new = (docs.filter(b % 10 > 0)
               .withColumn("text",
                           F.when(b % 3 == 0,
                                  F.concat(F.col("text"), F.lit(" v2")))
                            .otherwise(F.col("text"))))
        return snapshot_diff_summary(old, new, ["doc_id"])

    # the same old/new pair driven through the VERSIONED table surface:
    # write v1, write v2 (optimistic parent check), read both back,
    # diff — the whole write→commit-marker→time-travel-read chain is
    # what the oracle match certifies (the table is rebuilt only when
    # the source changes)
    def versioned_travel(spark, sf):
        from ..operators.diff import snapshot_diff_summary
        from ..operators.sampling import _hash_bucket
        from ..sources import versioned as V
        docs = _docs(spark, sf)
        b = _hash_bucket(F.col("doc_id"), "snap-v1")
        old = docs.filter(b % 10 < 9)
        new = (docs.filter(b % 10 > 0)
               .withColumn("text",
                           F.when(b % 3 == 0,
                                  F.concat(F.col("text"), F.lit(" v2")))
                            .otherwise(F.col("text"))))

        def stage(t):
            V.write_version(old, t)
            V.write_version(new, t, expected_parent=1)

        t = staged_root("versioned_demo", sf, docs, stage)
        return snapshot_diff_summary(
            V.read_version(spark, t, 1, verify_count=True),
            V.read_version(spark, t, 2, verify_count=True), ["doc_id"])

    _SB = SM.hash_bucket_sql("doc_id", "snap-v1")
    _SNAP_FP = ("md5(concat_ws(chr(31), "
                "coalesce(CAST({t} AS VARCHAR), chr(0)), "
                "coalesce(CAST(lang AS VARCHAR), chr(0)), "
                "coalesce(CAST(source AS VARCHAR), chr(0)), "
                "coalesce(CAST(n_chars AS VARCHAR), chr(0))))")

    _SNAP_DIFF_SQL = f"""WITH old AS (
          SELECT doc_id, {_SNAP_FP.format(t="text")} AS o
          FROM documents WHERE {_SB} % 10 < 9),
        new AS (
          SELECT doc_id,
                 {_SNAP_FP.format(
                     t=f"CASE WHEN {_SB} % 3 = 0 THEN concat(text, ' v2') "
                       "ELSE text END")} AS n
          FROM documents WHERE {_SB} % 10 > 0),
        j AS (SELECT old.o, new.n
              FROM old FULL OUTER JOIN new USING (doc_id))
        SELECT CASE WHEN o IS NULL THEN 'added'
                    WHEN n IS NULL THEN 'removed'
                    WHEN o <> n THEN 'changed'
                    ELSE 'unchanged' END AS status,
               COUNT(*) AS n_rows
        FROM j GROUP BY 1"""

    add("docs_snapshot_diff", snap_diff, _SNAP_DIFF_SQL)

    add("docs_versioned_time_travel", versioned_travel, _SNAP_DIFF_SQL)

    # fixed-size overlapping token chunks (context-window prep):
    # narrow rowwise posexplode, no shuffle
    add("docs_chunk_overlap",
        lambda spark, sf: TX.chunk_overlap(_docs(spark, sf),
                                           chunk_tokens=32, stride=24),
        r"""WITH t AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents),
        s AS (
          SELECT doc_id, toks,
                 unnest(generate_series(0, greatest(len(toks) - 1, 0), 24))
                   AS chunk_start
          FROM t)
        SELECT doc_id,
               CAST(chunk_start / 24 AS INTEGER) AS chunk_idx,
               CAST(chunk_start AS BIGINT) AS chunk_start,
               CAST(len(toks[chunk_start + 1 : chunk_start + 32])
                    AS BIGINT) AS n_chunk_tokens,
               array_to_string(toks[chunk_start + 1 : chunk_start + 32], ' ')
                 AS chunk_text
        FROM s""")

    def chunks_prep(spark, sf):
        from ..operators.pipeline import prepare_chunks
        return prepare_chunks(_docs(spark, sf), min_quality=0.63,
                              chunk_tokens=32, stride=24)

    # chunk-level continuation of prepare_corpus: quality gate ->
    # keep-first exact dedup -> overlapping chunks, one lineage
    add("docs_prepare_chunks", chunks_prep,
        r"""WITH q AS (
          SELECT doc_id,
            len(regexp_split_to_array(trim(text), '\s+')) AS q_tok,
            greatest(length(text), 1) AS q_chr,
            CAST(len(regexp_extract_all(lower(text),
              '\b(the|and|of|to|in|is)\b')) AS INTEGER) AS q_stop,
            CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                 AS INTEGER) AS q_punct
          FROM documents),
        passed AS (
          SELECT d.doc_id, d.text, d.source
          FROM documents d JOIN q USING (doc_id)
          WHERE ROUND(
            (CASE WHEN q_tok >= 10 AND q_tok <= 5000
                  THEN 0.4 ELSE 0.0 END)
            + least(q_stop / greatest(q_tok, 1) * 2.0, 0.4)
            - least(q_punct / q_chr * 5.0, 0.2)
            + (CASE WHEN q_chr / greatest(q_tok, 1) >= 3.0
                     AND q_chr / greatest(q_tok, 1) <= 12.0
                    THEN 0.2 ELSE 0.0 END), 4) >= 0.63),
        fp AS (
          SELECT doc_id, text, source,
                 md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                   AS fingerprint
          FROM passed),
        kept AS (
          SELECT doc_id, text, source FROM fp
          WHERE doc_id = (SELECT MIN(f2.doc_id) FROM fp f2
                          WHERE f2.fingerprint = fp.fingerprint)),
        t AS (
          SELECT doc_id, source,
                 regexp_split_to_array(trim(text), '\s+') AS toks
          FROM kept),
        s AS (
          SELECT doc_id, source, toks,
                 unnest(generate_series(0, greatest(len(toks) - 1, 0), 24))
                   AS chunk_start
          FROM t)
        SELECT doc_id, source,
               CAST(chunk_start / 24 AS INTEGER) AS chunk_idx,
               CAST(chunk_start AS BIGINT) AS chunk_start,
               CAST(len(toks[chunk_start + 1 : chunk_start + 32])
                    AS BIGINT) AS n_chunk_tokens,
               array_to_string(toks[chunk_start + 1 : chunk_start + 32], ' ')
                 AS chunk_text
        FROM s""")

    # corpus card: the dataset-datasheet table (one row per language) —
    # size, token/char mass, source spread, exact-dup share (corpus-wide
    # normalized fingerprint), and mean quality, all exact integers.
    # The report a data curator attaches to a release; composes the
    # fingerprint/quality operators in ONE pass over the corpus plus a
    # fingerprint-keyed count and a broadcast total.
    def _corpus_card(spark, sf):
        # ONE scan of the wide text column (score + card columns in the
        # same projection), ONE fingerprint-keyed window for dup counts
        # (group = the dup family, no self-join), ONE lang aggregation;
        # the corpus-share denominator is a window over the 5-row
        # per-lang aggregate, never the corpus.  Plan-audited: a prior
        # join-based draft scanned documents six times.
        from pyspark.sql import Window

        from ..operators import text as TXo
        docs = _docs(spark, sf)
        fp = F.md5(F.regexp_replace(F.lower(F.col("text")),
                                    "[^a-z0-9]", ""))
        base = TXo.quality_score(docs, extra={
            "lang": F.col("lang"), "source": F.col("source"),
            "_nc": F.length("text").cast("bigint"), "_fp": fp,
        }).withColumn("q_milli",
                      F.round(F.col("quality_score") * 1000)
                      .cast("bigint"))
        base = base.withColumn(
            "_fpn", F.count(F.lit(1)).over(Window.partitionBy("_fp")))
        per_lang = (base.groupBy("lang")
                    .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                         F.sum("n_tokens").cast("bigint")
                          .alias("n_tokens"),
                         F.sum("_nc").cast("bigint").alias("n_chars"),
                         F.countDistinct("source").cast("bigint")
                          .alias("n_sources"),
                         F.sum((F.col("_fpn") > 1).cast("long"))
                          .cast("bigint").alias("n_dup_docs"),
                         F.expr("CAST(sum(q_milli) DIV count(1) "
                                "AS BIGINT)").alias("mean_quality_milli")))
        tot = Window.rowsBetween(Window.unboundedPreceding,
                                 Window.unboundedFollowing)
        return (per_lang
                .withColumn("_total", F.sum("n_docs").over(tot))
                .select("lang", "n_docs", "n_tokens", "n_chars",
                        "n_sources", "n_dup_docs", "mean_quality_milli",
                        F.expr("CAST((n_docs * 1000) DIV _total "
                               "AS BIGINT)").alias("share_milli")))

    add("docs_corpus_card", _corpus_card,
        r"""WITH q AS (
          SELECT doc_id, lang, source,
            CAST(length(text) AS BIGINT) AS nc,
            len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
            greatest(length(text), 1) AS n_chars_q,
            CAST(len(regexp_extract_all(lower(text),
              '\b(the|and|of|to|in|is)\b')) AS INTEGER) AS stop_hits,
            CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                 AS INTEGER) AS punct,
            md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
          FROM documents),
        scored AS (
          SELECT *, CAST(ROUND(ROUND((
              (CASE WHEN n_tokens >= 10 AND n_tokens <= 5000
                    THEN 0.4 ELSE 0.0 END)
              + least(stop_hits / greatest(n_tokens, 1) * 2.0, 0.4)
              - least(punct / n_chars_q * 5.0, 0.2)
              + (CASE WHEN n_chars_q / greatest(n_tokens, 1) >= 3.0
                       AND n_chars_q / greatest(n_tokens, 1) <= 12.0
                      THEN 0.2 ELSE 0.0 END)), 4) * 1000)
              AS BIGINT) AS q_milli
          FROM q),
        fpc AS (SELECT fp, COUNT(*) AS fpn FROM q GROUP BY fp),
        tot AS (SELECT COUNT(*) AS total FROM q)
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(nc) AS BIGINT) AS n_chars,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(*) FILTER (WHERE fpn > 1) AS BIGINT)
                 AS n_dup_docs,
               CAST(SUM(q_milli) // COUNT(*) AS BIGINT)
                 AS mean_quality_milli,
               CAST((COUNT(*) * 1000) // any_value(total) AS BIGINT)
                 AS share_milli
        FROM scored JOIN fpc USING (fp) CROSS JOIN tot
        GROUP BY lang""")

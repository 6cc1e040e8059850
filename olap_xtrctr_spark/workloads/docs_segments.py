"""Segment-level corpus dedup entries (round 7): first-occurrence
segment dedup and frequency-based boilerplate segment removal, both
full-oracle (the 8-token non-overlapping window segmentation is
deterministic on both engines).
"""
from __future__ import annotations

from ..operators import segments as SEG
from ..workload_shared import _docs

# Shared oracle CTE: tokenize, enumerate non-overlapping 8-token
# windows (final short window kept), render each window back to text.
# Mirrors chunk_overlap(stride == chunk_tokens) exactly: a doc with n
# tokens has greatest(ceil(n/8), 1) segments (split('') yields ['']).
_SEG_CTE = r"""t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents),
    s0 AS (
      SELECT doc_id, toks,
             unnest(generate_series(
                 0, CAST(greatest(ceil(len(toks) / 8.0), 1) AS BIGINT) - 1))
               AS i
      FROM t),
    s AS (
      SELECT doc_id, i,
             array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ')
               AS seg
      FROM s0)"""


# One-shot stride-1 duplicated-span oracle (shared by the one-shot
# and online entries: the fold contract makes them value-identical).
_DUP_SPAN_SQL = r"""WITH t AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          FROM documents),
        g AS (
          SELECT doc_id, i - 1 AS pos,
                 array_to_string(list_slice(toks, i, i + 7), ' ') AS sh
          FROM t, LATERAL unnest(generate_series(1, len(toks) - 7)) AS u(i)),
        m AS (
          SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY sh
                                    ORDER BY doc_id, pos) AS rn
          FROM g),
        mk AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM m WHERE rn > 1),
        r AS (
          SELECT doc_id, s, e,
                 CASE WHEN s > coalesce(max(e) OVER (
                          PARTITION BY doc_id ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), -2) + 1
                      THEN 1 ELSE 0 END AS brk
          FROM mk),
        sp AS (SELECT doc_id, s, e,
                      SUM(brk) OVER (PARTITION BY doc_id ORDER BY s) AS sid
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
        FROM t LEFT JOIN pd USING (doc_id)"""


_BPE_MERGES = 24
_BPE_GATE_MAX_VOCAB = 200_000


def _trained_bpe(spark, sf):
    """(merges, local_syms) of one BPE training run over the corpus.

    Trains PER CALL, deliberately: the former module-level memo
    (keyed on (sf, file size)) was a cross-entry result cache —
    exactly the accounting the optimization rounds prohibit (every
    invocation must compute from the parquet inputs), and it also
    outlived the Spark session that produced its localCheckpoint.
    Training is deterministic (word-count argmax with total
    tie-breaks, gated against the pure-Python reference), so per-call
    recompute changes no entry's rows; the three consumers each pay
    their own training cost.

    The symbols table comes back as a LAZY supplier of a driver-local
    frame (ADVICE r14): an eager localCheckpoint() left
    lineage-truncated cached blocks that nothing ever unpersisted, and
    charged the materialization to the two consumers that use only
    ``merges``.  The table is vocabulary-sized and its one consumer
    broadcasts it, so collecting it is the same bytes the broadcast
    would move.  The first call collects it and frees the trainer's
    checkpoint, which cannot be recomputed; every call builds a new
    frame from the kept rows."""
    from ..operators import bpe as B
    merges, syms = B.gated_train_bpe(
        _docs(spark, sf), num_merges=_BPE_MERGES,
        gate_max_vocab=_BPE_GATE_MAX_VOCAB)
    kept: list = []

    def local_syms():
        if not kept:
            kept.append(syms.collect())
            B.release_local_checkpoint(syms._sgr_ckpt)
        return spark.createDataFrame(kept[0], syms.schema)

    return merges, local_syms


def register(add) -> None:

    # corpus-wide first-occurrence segment dedup (CCNet / Lee et al.
    # line dedup): a segment survives only at its earliest
    # (doc_id, position); later occurrences are cut from their docs
    add("docs_segment_dedup",
        lambda spark, sf: SEG.segment_dedup(_docs(spark, sf), seg_tokens=8),
        f"""WITH {_SEG_CTE},
        r AS (
          SELECT doc_id, i, seg,
                 row_number() OVER (PARTITION BY seg ORDER BY doc_id, i)
                   AS rn
          FROM s)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
               coalesce(string_agg(seg, ' ' ORDER BY i)
                          FILTER (WHERE rn = 1), '') AS kept_text
        FROM r GROUP BY doc_id""")

    # RefinedWeb-style boilerplate removal: segments present in more
    # than 2 distinct docs are dropped from ALL of them
    add("docs_segment_freq_filter",
        lambda spark, sf: SEG.segment_freq_filter(
            _docs(spark, sf), seg_tokens=8, max_docs=2),
        f"""WITH {_SEG_CTE},
        hot AS (
          SELECT seg FROM s GROUP BY seg
          HAVING COUNT(DISTINCT doc_id) > 2)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(COUNT(*) FILTER (WHERE h.seg IS NULL) AS BIGINT)
                 AS n_kept,
               coalesce(string_agg(s.seg, ' ' ORDER BY i)
                          FILTER (WHERE h.seg IS NULL), '') AS kept_text
        FROM s LEFT JOIN hot h ON s.seg = h.seg
        GROUP BY doc_id""")

    # ---- distributed BPE tokenizer training (rows-only + exact gate) ----
    # Iterative global-argmax training is not expressible in one SQL
    # statement, so the driver records rows-only — but the entry gates
    # itself on EXACT equality against the pure-Python reference
    # implementation over the same (word, freq) table (vocabulary-sized;
    # capped with a logged skip so the gate can't become the scale
    # bottleneck).  A wrong merge order, count, or tie-break fails the
    # entry loudly rather than shipping plausible-looking merges.
    def bpe_train(spark, sf):
        merges, _ = _trained_bpe(spark, sf)
        return spark.createDataFrame(
            [(r, a, b, a + b, c) for r, a, b, c in merges],
            "rank int, left string, right string, merged string, "
            "pair_count bigint")

    add("docs_bpe_train", bpe_train, None)

    # corpus encoded with the trained segmentation: per-doc BPE token
    # counts via a broadcast join of per-word segment lengths from the
    # training table — the corpus itself never enters Python
    def bpe_token_count(spark, sf):
        from pyspark.sql import functions as F
        _, syms_f = _trained_bpe(spark, sf)
        vocab = syms_f().select("word", F.size("syms").alias("n_sub"))
        toks = (_docs(spark, sf).select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+"))
             .alias("word"))
            .filter(F.col("word") != ""))
        return (toks.join(F.broadcast(vocab), "word")
                .groupBy("doc_id")
                .agg(F.count("*").cast("bigint").alias("n_words"),
                     F.sum("n_sub").cast("bigint").alias("n_bpe_tokens")))

    add("docs_bpe_token_count", bpe_token_count, None)

    # ---- online (cross-batch) segment dedup -----------------------------
    # Three id-ordered ingestion batches folded through the seen-segment
    # store must equal the one-shot corpus-wide segment dedup — so the
    # oracle IS the one-shot SQL.  The store is checkpointed between
    # batches (lineage must not grow with batch count).
    def seg_dedup_incr(spark, sf):
        from functools import reduce

        from pyspark.sql import functions as F

        from ..operators import segments as SEG
        docs = _docs(spark, sf)
        b1, b2 = docs.agg(
            F.expr("percentile(doc_id, 0.3333)"),
            F.expr("percentile(doc_id, 0.6667)")).first()
        batches = [docs.filter(F.col("doc_id") <= b1),
                   docs.filter((F.col("doc_id") > b1)
                               & (F.col("doc_id") <= b2)),
                   docs.filter(F.col("doc_id") > b2)]
        seen, outs = None, []
        for b in batches:
            res, seen = SEG.segment_dedup_incremental(b, seen,
                                                      seg_tokens=8)
            seen = seen.localCheckpoint()
            outs.append(res)
        return reduce(lambda a, c: a.unionByName(c), outs)

    add("docs_segment_dedup_incremental", seg_dedup_incr,
        f"""WITH {_SEG_CTE},
        r AS (
          SELECT doc_id, i, seg,
                 row_number() OVER (PARTITION BY seg ORDER BY doc_id, i)
                   AS rn
          FROM s)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
               coalesce(string_agg(seg, ' ' ORDER BY i)
                          FILTER (WHERE rn = 1), '') AS kept_text
        FROM r GROUP BY doc_id""")

    # tokenizer integrity gate: every word must reconstruct exactly from
    # its own BPE segments.  The oracle states the lossless contract
    # independently (BPE merges only concatenate): zero bad words and
    # recon_chars == the document's non-whitespace character count — a
    # dropped symbol, double-merge or marker leak breaks the hash.
    def bpe_roundtrip(spark, sf):
        from ..operators import bpe as B
        merges, _ = _trained_bpe(spark, sf)
        return B.bpe_roundtrip(_docs(spark, sf), merges)

    add("docs_bpe_roundtrip", bpe_roundtrip,
        r"""SELECT doc_id,
               CAST(len(list_filter(
                      regexp_split_to_array(trim(text), '\s+'),
                      w -> w != '')) AS BIGINT) AS n_words,
               CAST(0 AS BIGINT) AS n_bad_words,
               CAST(length(regexp_replace(text, '\s', '', 'g'))
                    AS BIGINT) AS recon_chars
        FROM documents""")

    # EXACT stride-1 duplicated-span detection (Lee et al. exact-substring
    # dedup): every maximal token run containing an already-seen 8-token
    # window, at any offset — the guarantee the grid-aligned and sampled
    # variants only approximate.  Full oracle: the span lists must match
    # byte-for-byte.
    add("docs_duplicate_spans",
        lambda spark, sf: SEG.duplicate_span_removal(_docs(spark, sf), k=8),
        _DUP_SPAN_SQL)

    # ONLINE exact-substring dedup: three id-ordered ingestion batches
    # folded through the gram seen-store must equal the one-shot
    # stride-1 span report — so the oracle IS the one-shot SQL above.
    def dup_spans_incr(spark, sf):
        from functools import reduce

        from pyspark.sql import functions as F

        from ..operators import segments as SEG
        docs = _docs(spark, sf)
        b1, b2 = docs.agg(
            F.expr("percentile(doc_id, 0.3333)"),
            F.expr("percentile(doc_id, 0.6667)")).first()
        batches = [docs.filter(F.col("doc_id") <= b1),
                   docs.filter((F.col("doc_id") > b1)
                               & (F.col("doc_id") <= b2)),
                   docs.filter(F.col("doc_id") > b2)]
        seen, outs = None, []
        for b in batches:
            res, seen = SEG.duplicate_spans_incremental(b, seen, k=8)
            seen = seen.localCheckpoint()
            outs.append(res)
        return reduce(lambda a, c: a.unionByName(c), outs)

    add("docs_duplicate_spans_incremental", dup_spans_incr,
        _DUP_SPAN_SQL)


    # STREAMING exact-substring dedup at ingestion: an availableNow file
    # stream (one id-ordered batch file per micro-batch) folds each
    # micro-batch through duplicate_spans_incremental inside
    # foreachBatch; the gram store is persisted per batch (restart
    # recovery reloads the last committed store) and per-batch reports
    # are written idempotently (overwrite by batch id).  With id-ordered
    # arrival the fold equals the one-shot operator, so the driver
    # certifies the whole stream→store→report chain against the same
    # byte-exact span oracle.
    def _span_stream_src(spark, sf):
        """Build (once per dataset signature) the 3-file id-ordered
        batch source both span-dedup streams read; returns the root
        dir.  A signature change wipes root — sources, checkpoints,
        stores and reports of BOTH entries."""
        import os
        import shutil

        from pyspark.sql import functions as F

        docs = _docs(spark, sf)
        sig = str(os.path.getsize(f"{sf}/documents.parquet"))
        root = os.path.join("/tmp", "olap_xtrctr_span_stream",
                            os.path.basename(os.path.normpath(sf)))
        marker = os.path.join(root, "_DEMO_SRC")
        if not (os.path.exists(marker)
                and open(marker).read().strip() == sig):
            shutil.rmtree(root, ignore_errors=True)
            os.makedirs(os.path.join(root, "src"), exist_ok=True)
            b1, b2 = docs.agg(
                F.expr("percentile(doc_id, 0.3333)"),
                F.expr("percentile(doc_id, 0.6667)")).first()
            conds = [F.col("doc_id") <= b1,
                     (F.col("doc_id") > b1) & (F.col("doc_id") <= b2),
                     F.col("doc_id") > b2]
            for i, cond in enumerate(conds):
                tmp = os.path.join(root, f"_tmp{i}")
                docs.filter(cond).coalesce(1).write.mode(
                    "overwrite").parquet(tmp)
                part = next(f for f in os.listdir(tmp)
                            if f.startswith("part-")
                            and f.endswith(".parquet"))
                dst = os.path.join(root, "src", f"batch{i}.parquet")
                shutil.move(os.path.join(tmp, part), dst)
                shutil.rmtree(tmp)
                # explicit mtimes pin the file source's arrival order
                os.utime(dst, (1_000_000 + i, 1_000_000 + i))
            with open(marker, "w") as fh:
                fh.write(sig)
        return root

    def stream_span_dedup(spark, sf):
        import os

        from ..operators import segments as SEG
        docs = _docs(spark, sf)
        root = _span_stream_src(spark, sf)
        out = os.path.join(root, "out")
        state: dict = {"seen": None}

        def fold(batch, batch_id: int) -> None:
            bspark = batch.sparkSession
            store_dir = os.path.join(out, f"store_b{batch_id}")
            prev_dir = os.path.join(out, f"store_b{batch_id - 1}")
            seen = state["seen"]
            if seen is None and batch_id > 0:   # restart recovery
                seen = bspark.read.parquet(prev_dir)
            report, seen = SEG.duplicate_spans_incremental(batch, seen,
                                                           k=8)
            report.write.mode("overwrite").parquet(
                os.path.join(out, f"report_b{batch_id}"))
            seen.write.mode("overwrite").parquet(store_dir)
            state["seen"] = bspark.read.parquet(store_dir)

        q = (spark.readStream.schema(docs.schema)
             .option("maxFilesPerTrigger", 1)
             .parquet(os.path.join(root, "src"))
             .writeStream.foreachBatch(fold)
             .option("checkpointLocation", os.path.join(root, "ckpt"))
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        return spark.read.parquet(os.path.join(out, "report_b*"))

    add("docs_stream_span_dedup", stream_span_dedup, _DUP_SPAN_SQL)

    # STREAMING ingestion over the BUCKETED on-disk gram store
    # (VERDICT r8 task 5) — the 100 TB shape end-to-end: foreachBatch
    # folds each micro-batch through
    # duplicate_spans_incremental_bucketed, whose store is a parquet
    # directory partitioned on pmod(xxhash64(gram), n_buckets); per
    # batch the store write is O(new grams) appends and the probe
    # touches only the batch's _bucket= partitions (the monolithic
    # stream above rewrites its whole store every batch).  Idempotency:
    # a _COMMITTED_b{id} marker written AFTER report+append makes a
    # replayed batch a no-op re-read (the append is not transactional
    # mid-batch — a crash between append and marker needs the CAS
    # snapshot store of sources/versioned.py, documented trade-off).
    # With id-ordered arrival the folded reports equal the one-shot
    # span report, so the SAME byte-exact oracle certifies the whole
    # stream -> bucketed-store -> report chain.
    def stream_span_dedup_bucketed(spark, sf):
        import os

        from ..operators import segments as SEG
        docs = _docs(spark, sf)
        root = _span_stream_src(spark, sf)
        out = os.path.join(root, "out_bucketed")
        store = os.path.join(out, "gram_store")
        os.makedirs(out, exist_ok=True)

        def fold(batch, batch_id: int) -> None:
            marker = os.path.join(out, f"_COMMITTED_b{batch_id}")
            if os.path.exists(marker):
                return                      # replayed batch: no-op
            report = SEG.duplicate_spans_incremental_bucketed(
                batch.sparkSession, batch, store, k=8, n_buckets=64)
            report.write.mode("overwrite").parquet(
                os.path.join(out, f"report_b{batch_id}"))
            open(marker, "w").close()

        q = (spark.readStream.schema(docs.schema)
             .option("maxFilesPerTrigger", 1)
             .parquet(os.path.join(root, "src"))
             .writeStream.foreachBatch(fold)
             .option("checkpointLocation", os.path.join(root,
                                                        "ckpt_bucketed"))
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        return spark.read.parquet(os.path.join(out, "report_b*"))

    add("docs_stream_span_dedup_bucketed", stream_span_dedup_bucketed,
        _DUP_SPAN_SQL)

    # the REWRITE form: duplicated spans cut from the token stream,
    # surviving text re-joined in order — byte-exact kept_text oracle.
    add("docs_duplicate_span_strip",
        lambda spark, sf: SEG.duplicate_span_strip(_docs(spark, sf), k=8),
        r"""WITH t AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          FROM documents),
        g AS (
          SELECT doc_id, i - 1 AS pos,
                 array_to_string(list_slice(toks, i, i + 7), ' ') AS sh
          FROM t, LATERAL unnest(generate_series(1, len(toks) - 7)) AS u(i)),
        m AS (
          SELECT doc_id, pos,
                 row_number() OVER (PARTITION BY sh
                                    ORDER BY doc_id, pos) AS rn
          FROM g),
        mk AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM m WHERE rn > 1),
        r AS (
          SELECT doc_id, s, e,
                 CASE WHEN s > coalesce(max(e) OVER (
                          PARTITION BY doc_id ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), -2) + 1
                      THEN 1 ELSE 0 END AS brk
          FROM mk),
        sp AS (SELECT doc_id, s, e,
                      SUM(brk) OVER (PARTITION BY doc_id ORDER BY s) AS sid
               FROM r),
        ag AS (SELECT doc_id, sid, MIN(s) AS ss, MAX(e) AS se
               FROM sp GROUP BY 1, 2),
        cov AS (SELECT doc_id, unnest(generate_series(ss, se)) AS p
                FROM ag),
        tok AS (
          SELECT doc_id, i - 1 AS p, toks[i] AS tk
          FROM t, LATERAL unnest(generate_series(1, len(toks))) AS u(i)),
        kept AS (
          SELECT tok.doc_id, tok.p, tok.tk
          FROM tok
          WHERE NOT EXISTS (SELECT 1 FROM cov
                            WHERE cov.doc_id = tok.doc_id
                              AND cov.p = tok.p))
        SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
               CAST(COUNT(kept.p) AS BIGINT) AS n_kept,
               coalesce(string_agg(kept.tk, ' ' ORDER BY kept.p), '')
                 AS kept_text
        FROM t LEFT JOIN kept ON kept.doc_id = t.doc_id
        GROUP BY t.doc_id, len(t.toks)""")


def register_r8(add) -> None:
    from pyspark.sql import functions as F  # noqa: F401 (parity w/ siblings)

    from ..operators import segments as SEG
    from ..workload_shared import _docs

    # CONTENT-DEFINED chunk dedup (round 8): boundaries at tokens whose
    # md5-60bit % 8 == 0, so chunking re-synchronizes after insertions
    # — the shift-robust sibling of the fixed-grid docs_segment_dedup
    # (robustness pinned in tests/test_segments.py).  Fully md5-keyed,
    # hence a full oracle; empty docs keep their zero-count row.
    add("docs_cdc_segment_dedup",
        lambda spark, sf: SEG.cdc_segment_dedup(_docs(spark, sf),
                                                divisor=8),
        r"""WITH t AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          FROM documents),
        tok AS (
          SELECT doc_id, i - 1 AS p, toks[i] AS tok
          FROM t, LATERAL unnest(generate_series(1, len(toks))) AS u(i)
          WHERE toks[i] != ''),
        b AS (
          SELECT doc_id, p, tok,
                 CASE WHEN TRY_CAST(concat('0x',
                        substr(md5(concat(tok, ':cdc-v1')), 1, 15))
                        AS BIGINT) % 8 = 0 THEN 1 ELSE 0 END AS bnd
          FROM tok),
        c AS (
          SELECT doc_id, p, tok,
                 CAST(COALESCE(SUM(bnd) OVER (
                     PARTITION BY doc_id ORDER BY p
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS INTEGER) AS chunk_idx
          FROM b),
        seg AS (
          SELECT doc_id, chunk_idx,
                 string_agg(tok, ' ' ORDER BY p) AS chunk_text
          FROM c GROUP BY 1, 2),
        r AS (
          SELECT doc_id, chunk_idx, chunk_text,
                 row_number() OVER (PARTITION BY chunk_text
                                    ORDER BY doc_id, chunk_idx) AS rn
          FROM seg),
        agg AS (
          SELECT doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_segments,
                 CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT)
                   AS n_kept,
                 COALESCE(string_agg(chunk_text, ' ' ORDER BY chunk_idx)
                            FILTER (WHERE rn = 1), '') AS kept_text
          FROM r GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(a.n_segments, 0) AS n_segments,
               COALESCE(a.n_kept, 0) AS n_kept,
               COALESCE(a.kept_text, '') AS kept_text
        FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""")

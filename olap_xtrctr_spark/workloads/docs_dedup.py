"""Document-level duplicate entries: exact duplicate groups and keep
rules, MinHash/SimHash/n-gram/containment/winnowing pair detection,
near-dup clusters and connected components, and the keep decisions
built on them.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import sampling as SM
from ..workload_shared import _docs


def register(add) -> None:
    # cross-dump duplication diagnostic (mixing-weight input): per source,
    # docs whose fingerprint also appears under another source
    add("docs_cross_source_dup",
        lambda spark, sf: D.cross_source_duplication(_docs(spark, sf)),
        r"""WITH f AS (
          SELECT doc_id, source,
                 md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
          FROM documents),
        s AS (SELECT fp, COUNT(DISTINCT source) AS n_sources
              FROM f GROUP BY fp)
        SELECT f.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN s.n_sources > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_cross_dup
        FROM f JOIN s USING (fp)
        GROUP BY f.source""")

    def incr_dedup(spark, sf):
        docs = _docs(spark, sf)
        from ..operators.sampling import _hash_bucket
        b = _hash_bucket(F.col("doc_id"), "batch-v1")
        seen = docs.filter(b % 2 == 0)
        new = docs.filter(b % 2 == 1)
        return SM.incremental_dedup(new, seen).select("doc_id", "lang")

    _BB = SM.hash_bucket_sql("doc_id", "batch-v1")

    add("docs_incremental_dedup", incr_dedup,
        f"""WITH fp AS (
          SELECT doc_id, lang, {_BB} % 2 AS batch,
                 md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                   AS fingerprint
          FROM documents)
        SELECT doc_id, lang FROM fp
        WHERE batch = 1
          AND fingerprint NOT IN (SELECT fingerprint FROM fp
                                  WHERE batch = 0)
          AND doc_id = (SELECT MIN(doc_id) FROM fp f2
                        WHERE f2.batch = 1
                          AND f2.fingerprint = fp.fingerprint)""")

    add("docs_exact_dup_groups",
        lambda spark, sf: D.exact_dup_groups(_docs(spark, sf)),
        """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id,
               COUNT(*) AS copies
        FROM documents
        GROUP BY text""")

    def exact_dedup_keep(spark, sf):
        return D.exact_dedup(_docs(spark, sf), ["text"], "doc_id") \
            .select("doc_id", F.md5(F.encode(F.col("text"), "UTF-8"))
                    .alias("text_hash"))

    # deterministic survivor choice: first doc_id per duplicate text group
    add("docs_exact_dedup_keep", exact_dedup_keep,
        """SELECT doc_id, md5(text) AS text_hash
        FROM (SELECT doc_id, text,
                     ROW_NUMBER() OVER (PARTITION BY text
                                        ORDER BY doc_id) AS rn
              FROM documents)
        WHERE rn = 1""")

    # end-to-end dedup pipeline: exact jaccard pairs → connected
    # components.  Spark runs distributed min-label propagation; the
    # oracle computes the same components as a recursive-CTE transitive
    # closure over the identical exact-jaccard edge set.
    add("docs_near_dup_clusters",
        lambda spark, sf: D.near_dup_clusters(
            D.ngram_jaccard_pairs(_docs(spark, sf), threshold=0.2)),
        r"""WITH RECURSIVE toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(t) - 2, 1)),
            i -> array_to_string(t[i:i+2], ' ')))) AS shingle
          FROM toks),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE i / (sa.sz + sb.sz - i) >= 0.2),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION SELECT src, src FROM edges
          UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY src""")

    # the full dedup pipeline: exact-jaccard pairs → connected
    # components → one canonical survivor per cluster (keep-min-id),
    # singletons untouched — corpus size in, deduped corpus out
    add("docs_keep_canonical",
        lambda spark, sf: D.keep_canonical(
            _docs(spark, sf),
            D.near_dup_clusters(
                D.ngram_jaccard_pairs(_docs(spark, sf), threshold=0.2)))
        .select("doc_id", "lang", "source"),
        r"""WITH RECURSIVE toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, greatest(len(t) - 2, 1)),
            i -> array_to_string(t[i:i+2], ' ')))) AS shingle
          FROM toks),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT id_a, id_b FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE i / (sa.sz + sb.sz - i) >= 0.2),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION SELECT src, src FROM edges
          UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        comp AS (SELECT src AS doc_id, MIN(dst) AS cluster
                 FROM reach GROUP BY src)
        SELECT d.doc_id, d.lang, d.source
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        WHERE c.doc_id IS NULL OR d.doc_id = c.cluster""")

    # rows-only checks (hash functions are engine-specific → no SQL oracle)
    add("docs_minhash_lsh_pairs",
        lambda spark, sf: D.minhash_lsh_pairs(_docs(spark, sf), threshold=0.3),
        None)

    # the SCALE-path dedup pipeline: banded MinHash-LSH candidates (never
    # all-pairs) -> components -> canonical corpus.  Probabilistic, so
    # rows-only here; its recall vs the exact pipeline is pinned in
    # tests/test_recall.py
    add("docs_minhash_dedup_corpus",
        lambda spark, sf: D.keep_canonical(
            _docs(spark, sf),
            D.near_dup_clusters(
                D.minhash_lsh_pairs(_docs(spark, sf), threshold=0.3)))
        .select("doc_id", "lang", "source"),
        None)

    # hamming <= 6: inside the multi-block pigeonhole guarantee (n_blocks-1)
    # and tight enough to mean "near-dup" on vocabulary-overlapping corpora
    # (hamming 16 admits ~24% of ALL pairs of this fixture)
    add("docs_simhash_pairs",
        lambda spark, sf: D.simhash_near_pairs(_docs(spark, sf),
                                               max_hamming=6),
        None)

    # max_doc_freq: finite stop-shingle cap (well above the observed max
    # df at test SFs — 25 at sf0.1 — so results here are exact; at corpus
    # scale it bounds the O(df^2) pair blowup and logs what it drops).
    # Oracle shingles use clamped list slicing (t[i:i+2]) to match Spark's
    # F.slice truncation for docs shorter than n tokens.
    add("docs_ngram_jaccard_pairs",
        lambda spark, sf: D.ngram_jaccard_pairs(_docs(spark, sf), n=3,
                                                threshold=0.2,
                                                max_doc_freq=1000),
        r"""WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> array_to_string(t[i:i+2], ' ')))) AS shingle
          FROM toks),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b,
               ROUND(i / (sa.sz + sb.sz - i), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE i / (sa.sz + sb.sz - i) >= 0.2""")

    # asymmetric containment |A∩B| / min(|A|,|B|) over the same shingle
    # sets — the doc-inside-doc detector Jaccard structurally misses
    # when sizes differ.  contained_id = the smaller side (ties → id_a).
    _CONTAINMENT_SQL = r"""WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> array_to_string(t[i:i+2], ' ')))) AS shingle
          FROM toks),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b,
               ROUND(i / LEAST(sa.sz, sb.sz), 4) AS containment,
               CASE WHEN sb.sz < sa.sz THEN id_b ELSE id_a END
                 AS contained_id
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE i / LEAST(sa.sz, sb.sz) >= 0.5"""

    add("docs_containment_pairs",
        lambda spark, sf: D.ngram_containment_pairs(_docs(spark, sf), n=3,
                                                    threshold=0.5,
                                                    max_doc_freq=1000),
        _CONTAINMENT_SQL)

    # PPJoin prefix-filtered variant: bit-identical contract (same
    # oracle), different cost profile — see the operator docstring for
    # the measured trade-off.  regime='prefix' is FORCED here so the
    # driver row keeps grading the prefix pair-machinery itself (the
    # gate fixture's df histogram is near-flat, so 'auto' would route
    # to the core and this entry would just re-grade
    # docs_containment_pairs); library callers get the r12 auto-probe
    # that refuses the measured 45 GB-spill regime.
    add("docs_containment_pairs_prefix",
        lambda spark, sf: D.ngram_containment_pairs_prefix(
            _docs(spark, sf), n=3, threshold=0.5, max_doc_freq=1000,
            regime="prefix"),
        _CONTAINMENT_SQL)

    # winnowing (Schleimer et al. 2003): substring-level fingerprints —
    # shared token runs of length >= w+k-1 guarantee a shared fingerprint.
    # Oracle mirrors the selection exactly: sliding-window MIN over the
    # 60-bit md5 gram hashes via a ROWS window frame, then DISTINCT.
    _WINNOW_WINS_SQL = r"""WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        grams AS (
          SELECT doc_id, i,
                 TRY_CAST(concat('0x', substr(md5(
                   array_to_string(t[i:i+3], ' ')), 1, 15)) AS BIGINT) AS h,
                 len(t) - 3 AS n_grams
          FROM toks, LATERAL (SELECT UNNEST(generate_series(
            1, greatest(len(t) - 3, 0))) AS i) u),
        wins AS (
          SELECT doc_id,
                 MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN CURRENT ROW
                              AND 4 FOLLOWING) AS fp,
                 i, n_grams
          FROM grams),
        wfil AS (
          SELECT doc_id, i, fp, n_grams
          FROM wins WHERE i <= greatest(n_grams - 4, 1))"""

    _WINNOW_FPS_SQL = _WINNOW_WINS_SQL + """
        SELECT DISTINCT doc_id, fp FROM wfil"""

    add("docs_winnow_fingerprints",
        lambda spark, sf: D.winnow_fingerprints(_docs(spark, sf), k=4, w=5),
        _WINNOW_FPS_SQL)

    # max_doc_freq mirrors the 100 TB stop-fingerprint guard in BOTH
    # engines (no fp reaches it at this SF — the semantics contract is
    # what's under test, like ngram_jaccard's 1000 cap)
    add("docs_winnow_dup_pairs",
        lambda spark, sf: D.winnow_dup_pairs(_docs(spark, sf), k=4, w=5,
                                             min_shared=2,
                                             max_doc_freq=1000),
        f"""WITH fps AS ({_WINNOW_FPS_SQL}),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM fps GROUP BY doc_id),
        dfreq AS (SELECT fp, COUNT(*) AS nd FROM fps GROUP BY fp),
        shared AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 COUNT(*) AS n_shared
          FROM fps a JOIN fps b
            ON a.fp = b.fp AND a.doc_id < b.doc_id
          JOIN dfreq d ON d.fp = a.fp AND d.nd <= 1000
          GROUP BY 1, 2)
        SELECT id_a, id_b, n_shared,
               CAST((n_shared * 1000) // least(sa.sz, sb.sz)
                    AS BIGINT) AS containment_milli
        FROM shared
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_shared >= 2""")

    add("docs_winnow_match_spans",
        lambda spark, sf: D.winnow_match_spans(_docs(spark, sf), k=4,
                                               w=5, min_shared=2,
                                               max_doc_freq=1000),
        _WINNOW_WINS_SQL + """,
        fps AS (SELECT DISTINCT doc_id, fp FROM wfil),
        dfreq AS (SELECT fp, COUNT(*) AS nd FROM fps GROUP BY 1),
        shared AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM fps a JOIN fps b
            ON a.fp = b.fp AND a.doc_id < b.doc_id
          JOIN dfreq d ON d.fp = a.fp AND d.nd <= 1000
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        dirs AS (
          SELECT id_a AS doc_id, id_b AS other_id FROM shared
          UNION ALL
          SELECT id_b, id_a FROM shared),
        matched AS (
          SELECT b.doc_id, b.other_id, w.i - 1 AS pos, w.n_grams
          FROM dirs b
          JOIN fps pf ON pf.doc_id = b.other_id
          JOIN wfil w ON w.doc_id = b.doc_id AND w.fp = pf.fp),
        sp AS (
          SELECT doc_id, other_id, pos, n_grams,
                 CASE WHEN pos - lag(pos) OVER
                        (PARTITION BY doc_id, other_id ORDER BY pos) > 5
                      THEN 1 ELSE 0 END AS new_span
          FROM matched),
        sp2 AS (
          SELECT *, SUM(new_span) OVER
                   (PARTITION BY doc_id, other_id ORDER BY pos
                    ROWS UNBOUNDED PRECEDING) AS span
          FROM sp)
        SELECT doc_id, other_id,
               CAST(MIN(pos) AS BIGINT) AS span_start,
               -- clamp to the last real token index (n_grams + k - 2)
               -- for sub-w-gram docs with one truncated window
               CAST(least(MAX(pos) + 7, MAX(n_grams) + 2)
                    AS BIGINT) AS span_end,
               COUNT(*) AS n_windows
        FROM sp2 GROUP BY doc_id, other_id, span""")

    # span-LEVEL dedup (Lee et al. 2022 move): the later doc of every
    # matched span loses the covered tokens; earliest occurrence keeps
    # its text.  Cleaned text is over the winnowing tokenization
    # (lowercased, whitespace-normalized) — span offsets index those
    # tokens.  Fully-covered duplicates stay present with empty text.
    add("docs_winnow_span_dedup",
        lambda spark, sf: D.winnow_span_dedup(_docs(spark, sf), k=4,
                                              w=5, min_shared=2,
                                              max_doc_freq=1000),
        _WINNOW_WINS_SQL + """,
        fps AS (SELECT DISTINCT doc_id, fp FROM wfil),
        dfreq AS (SELECT fp, COUNT(*) AS nd FROM fps GROUP BY 1),
        shared AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM fps a JOIN fps b
            ON a.fp = b.fp AND a.doc_id < b.doc_id
          JOIN dfreq d ON d.fp = a.fp AND d.nd <= 1000
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        dirs AS (
          SELECT id_a AS doc_id, id_b AS other_id FROM shared
          UNION ALL
          SELECT id_b, id_a FROM shared),
        matched AS (
          SELECT b.doc_id, b.other_id, w.i - 1 AS pos, w.n_grams
          FROM dirs b
          JOIN fps pf ON pf.doc_id = b.other_id
          JOIN wfil w ON w.doc_id = b.doc_id AND w.fp = pf.fp),
        sp AS (
          SELECT doc_id, other_id, pos, n_grams,
                 CASE WHEN pos - lag(pos) OVER
                        (PARTITION BY doc_id, other_id ORDER BY pos) > 5
                      THEN 1 ELSE 0 END AS new_span
          FROM matched),
        sp2 AS (
          SELECT *, SUM(new_span) OVER
                   (PARTITION BY doc_id, other_id ORDER BY pos
                    ROWS UNBOUNDED PRECEDING) AS span
          FROM sp),
        spans AS (
          SELECT doc_id, other_id,
                 MIN(pos) AS span_start,
                 least(MAX(pos) + 7, MAX(n_grams) + 2) AS span_end
          FROM sp2 GROUP BY doc_id, other_id, span),
        myspans AS (
          SELECT doc_id, span_start, span_end
          FROM spans WHERE doc_id > other_id),
        tok AS (
          SELECT doc_id, u.i - 1 AS pos, t[u.i] AS tok, len(t) AS orig
          FROM toks, LATERAL (SELECT UNNEST(generate_series(
            1, len(t))) AS i) u),
        removed AS (
          SELECT DISTINCT t.doc_id, t.pos
          FROM tok t JOIN myspans s
            ON s.doc_id = t.doc_id
           AND t.pos BETWEEN s.span_start AND s.span_end),
        kept AS (
          SELECT t.* FROM tok t
          LEFT JOIN removed r ON r.doc_id = t.doc_id AND r.pos = t.pos
          WHERE r.doc_id IS NULL),
        agg AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                 COUNT(*) AS n_kept
          FROM kept GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(a.clean_text, '') AS clean_text,
               CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_tokens,
               CAST(len(regexp_split_to_array(trim(lower(d.text)),
                    '\\s+')) - COALESCE(a.n_kept, 0) AS BIGINT)
                 AS n_tokens_removed
        FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""")

    # per-source before/after table of an exact-dedup run, for
    # recomputing mixing weights on POST-dedup token masses
    add("docs_dedup_impact_report",
        lambda spark, sf: D.dedup_impact_report(_docs(spark, sf)),
        r"""WITH slim AS (
          SELECT doc_id, source, md5(text) AS h,
                 len(regexp_split_to_array(trim(text), '\s+')) AS nt
          FROM documents),
        fl AS (
          SELECT source, nt,
                 CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY h)
                      THEN 1 ELSE 0 END AS kept
          FROM slim)
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(kept) AS BIGINT) AS n_docs_kept,
               CAST(SUM(nt) AS BIGINT) AS n_tokens,
               CAST(SUM(nt * kept) AS BIGINT) AS n_tokens_kept,
               CAST((SUM(kept) * 1000) // COUNT(*) AS BIGINT)
                 AS docs_kept_milli,
               CAST((SUM(nt * kept) * 1000) // greatest(SUM(nt), 1)
                    AS BIGINT) AS tokens_kept_milli
        FROM fl GROUP BY source""")

    # per-doc n-gram novelty: fraction of a doc's shingles it is the
    # corpus-wide FIRST owner of — originator-vs-echo signal with NO
    # pair generation (linear in shingles at any duplication depth)
    add("docs_ngram_novelty",
        lambda spark, sf: D.ngram_novelty(_docs(spark, sf), n=3),
        r"""WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> array_to_string(t[i:i+2], ' ')))) AS shingle
          FROM toks),
        first AS (SELECT shingle, MIN(doc_id) AS f FROM sh GROUP BY 1)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN doc_id = f THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               CAST((SUM(CASE WHEN doc_id = f THEN 1 ELSE 0 END) * 1000)
                    // COUNT(*) AS BIGINT) AS novelty_milli
        FROM sh JOIN first USING (shingle)
        GROUP BY doc_id""")

    add("docs_winnow_dup_extent",
        lambda spark, sf: D.winnow_dup_extent(_docs(spark, sf), k=4, w=5),
        _WINNOW_WINS_SQL + """,
        dfreq AS (SELECT fp, COUNT(DISTINCT doc_id) AS nd
                  FROM wfil GROUP BY 1)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_shared_windows,
               CAST((SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1000)
                    // COUNT(*) AS BIGINT) AS shared_milli
        FROM wfil JOIN dfreq USING (fp)
        GROUP BY doc_id""")

    # ORACLE-EXACT MinHash-LSH: md5-derived hash family makes
    # banding, the bucket self-join, and the signature-similarity
    # estimate bit-reproducible in SQL — upgrading the minhash family
    # from rows-only to a full value oracle (the xxhash64 operator
    # stays the fast path; this is the audit/verification variant).
    add("docs_minhash_lsh_pairs_exact",
        lambda spark, sf: D.minhash_lsh_pairs_md5(
            _docs(spark, sf), n=3, num_hashes=16, bands=4,
            threshold=0.5),
        r"""WITH toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
            AS t
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
                 unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> array_to_string(t[i:i+2], ' ')))) AS shingle
          FROM toks),
        hs AS (
          SELECT doc_id,
                 TRY_CAST(concat('0x', substr(md5(shingle), 1, 12))
                   AS BIGINT) AS h1,
                 TRY_CAST(concat('0x', substr(md5(concat(shingle, ':2')),
                   1, 8)) AS BIGINT) AS h2
          FROM sh),
        sig AS (
          SELECT doc_id, r.i, MIN(h1 + r.i * h2) AS m
          FROM hs, range(16) r(i) GROUP BY 1, 2),
        bnd AS (
          SELECT doc_id, i // 4 AS band,
                 md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i))
                   AS bucket
          FROM sig GROUP BY doc_id, i // 4),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bnd a JOIN bnd b
            ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id),
        eq AS (
          SELECT c.id_a, c.id_b,
                 SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS k
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.id_a
          JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
          GROUP BY 1, 2)
        SELECT id_a, id_b, ROUND(k / 16.0, 4) AS est_jaccard
        FROM eq WHERE k / 16.0 >= 0.5""")

    # ORACLE-EXACT SimHash: 60-bit md5 token hash, per-bit
    # sign votes, pigeonhole block join, Hamming via bit_count(xor) —
    # every stage SQL-reproducible, upgrading the simhash family from
    # rows-only to a full value oracle.  6 blocks of 10 bits give the
    # exact-recall guarantee for hamming <= 5.
    add("docs_simhash_pairs_exact",
        lambda spark, sf: D.simhash_near_pairs_md5(
            _docs(spark, sf), max_hamming=5),
        r"""WITH toks AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                   AS tok
          FROM documents),
        hs AS (
          SELECT doc_id,
                 TRY_CAST(concat('0x', substr(md5(tok), 1, 15))
                   AS BIGINT) AS h
          FROM toks),
        votes AS (
          SELECT doc_id, r.i,
                 SUM(CASE WHEN (h // power(2, r.i)::BIGINT) % 2 = 1
                          THEN 1 ELSE -1 END) AS v
          FROM hs, range(60) r(i) GROUP BY 1, 2),
        sig AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN v > 0
                          THEN power(2, i)::BIGINT ELSE 0 END)
                   AS BIGINT) AS simhash
          FROM votes GROUP BY doc_id),
        blk AS (
          SELECT doc_id, simhash, r.b AS blk_id,
                 (simhash // power(2, r.b * 10)::BIGINT) % 1024
                   AS blk_val
          FROM sig, range(6) r(b)),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.simhash AS sig_a, b.simhash AS sig_b
          FROM blk a JOIN blk b
            ON a.blk_id = b.blk_id AND a.blk_val = b.blk_val
               AND a.doc_id < b.doc_id)
        SELECT id_a, id_b,
               CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
        FROM cand
        WHERE bit_count(xor(sig_a, sig_b)) <= 5""")

    # the full SCALE-path dedup pipeline, ORACLE-EXACT end to end
    #: md5 MinHash-LSH candidates -> min-label connected
    # components -> canonical corpus.  The recursive-CTE components +
    # keep-canonical tail is the docs_near_dup_clusters pattern; the
    # pair stage is docs_minhash_lsh_pairs_exact's CTE chain verbatim.
    add("docs_minhash_dedup_corpus_exact",
        lambda spark, sf: D.keep_canonical(
            _docs(spark, sf),
            D.near_dup_clusters(
                D.minhash_lsh_pairs_md5(_docs(spark, sf), n=3,
                                        num_hashes=16, bands=4,
                                        threshold=0.5)))
        .select("doc_id", "lang", "source"),
        r"""WITH RECURSIVE toks AS (
          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
            AS t
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
                 unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> array_to_string(t[i:i+2], ' ')))) AS shingle
          FROM toks),
        hs AS (
          SELECT doc_id,
                 TRY_CAST(concat('0x', substr(md5(shingle), 1, 12))
                   AS BIGINT) AS h1,
                 TRY_CAST(concat('0x', substr(md5(concat(shingle, ':2')),
                   1, 8)) AS BIGINT) AS h2
          FROM sh),
        sig AS (
          SELECT doc_id, r.i, MIN(h1 + r.i * h2) AS m
          FROM hs, range(16) r(i) GROUP BY 1, 2),
        bnd AS (
          SELECT doc_id, i // 4 AS band,
                 md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i))
                   AS bucket
          FROM sig GROUP BY doc_id, i // 4),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bnd a JOIN bnd b
            ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id),
        eq AS (
          SELECT c.id_a, c.id_b,
                 SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS k
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.id_a
          JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
          GROUP BY 1, 2),
        pairs AS (
          SELECT id_a, id_b FROM eq WHERE k / 16.0 >= 0.5),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION SELECT src, src FROM edges
          UNION SELECT r.src, e.dst FROM reach r
                JOIN edges e ON r.dst = e.src),
        comp AS (SELECT src AS doc_id, MIN(dst) AS cluster
                 FROM reach GROUP BY src)
        SELECT d.doc_id, d.lang, d.source
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        WHERE c.doc_id IS NULL OR d.doc_id = c.cluster""")

    # blocked exact Levenshtein near-dup pairs (the VERIFY-step edit
    # distance, bounded by (lang, length-bucket) blocking)
    add("docs_edit_distance_pairs",
        lambda spark, sf: D.edit_distance_pairs(_docs(spark, sf),
                                                max_dist=20,
                                                prefix_chars=80,
                                                block_width=100),
        """WITH b AS (
          SELECT doc_id, lang, substring(text, 1, 80) AS pre,
                 CAST(floor(length(text) / 100.0) AS BIGINT) AS blk_len
          FROM documents)
        SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
               CAST(levenshtein(a.pre, b2.pre) AS INTEGER) AS edit_dist
        FROM b a JOIN b b2
          ON a.lang = b2.lang AND a.blk_len = b2.blk_len
         AND a.doc_id < b2.doc_id
        WHERE levenshtein(a.pre, b2.pre) <= 20""")

    # Soft dedup with repeat weights: drop exact
    # copies but keep the duplication evidence as per-survivor training
    # weights — raw multiplicity, the capped epoch-repeat weight (the
    # data-constrained-scaling signal: repeats beyond ~4 epochs stop
    # helping), and the distinct-source spread (cross-source copies are
    # a quality prior, same-source copies a crawler artifact).  One
    # md5-keyed groupBy; the shuffle never carries document bodies.
    add("docs_dedup_weighted_keep",
        lambda spark, sf: D.dedup_weights(_docs(spark, sf)),
        """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id,
               CAST(COUNT(*) AS BIGINT) AS weight,
               CAST(LEAST(COUNT(*), 4) AS BIGINT) AS weight_capped,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM documents GROUP BY md5(text)""")

    # Leakage-free split: the split decision hashes
    # the duplicate group's CANONICAL id, so exact copies can never
    # straddle train/eval — the contamination mode the audit entries
    # (docs_contamination_check, emb_cross_split_leakage) detect is
    # prevented by construction.  One text-hash shuffle to pin the
    # canonical id; the split itself is a projection.
    def _cluster_split(spark, sf):
        from pyspark.sql import Window
        docs = _docs(spark, sf)
        key = F.md5(F.encode(F.col("text"), "UTF-8"))
        w = Window.partitionBy("text_hash")
        canon = (docs.select("doc_id", key.alias("text_hash"))
                 .withColumn("canon", F.min("doc_id").over(w)))
        return (SM.cluster_split(
                    canon, {"train": 0.8, "val": 0.1, "test": 0.1},
                    "canon")
                .select("doc_id", "split"))

    _CB = SM.hash_bucket_sql("canon", "split-v1")
    add("docs_cluster_split",
        lambda spark, sf: _cluster_split(spark, sf),
        f"""WITH c AS (
          SELECT doc_id,
                 MIN(doc_id) OVER (PARTITION BY text) AS canon
          FROM documents)
        SELECT doc_id,
               CASE WHEN {_CB} < 8000 THEN 'train'
                    WHEN {_CB} < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM c""")

    # Incremental near-dup detection: the daily-crawl
    # pattern — the NEW half of the corpus (hash-split) scored against
    # the SEEN half via band-bucket probes only; no self-join on either
    # side (operators/dedup.minhash_incremental_pairs_md5).  Same md5
    # family as docs_minhash_lsh_pairs_exact, so fully oracle-exact.
    _INCB = SM.hash_bucket_sql("doc_id", "incr-near-v1")

    def _incr_near(spark, sf):
        from ..operators.sampling import _hash_bucket
        docs = _docs(spark, sf)
        b = _hash_bucket(F.col("doc_id"), "incr-near-v1")
        return D.minhash_incremental_pairs_md5(
            docs.filter(b >= 5000), docs.filter(b < 5000),
            n=3, num_hashes=16, bands=4, threshold=0.5)

    add("docs_incremental_near_dups", _incr_near,
        rf"""WITH toks AS (
          SELECT doc_id, ({_INCB} >= 5000) AS is_new,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id, is_new,
                 unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(t) - 2, 1)),
                   i -> array_to_string(t[i:i+2], ' ')))) AS shingle
          FROM toks),
        hs AS (
          SELECT doc_id, is_new,
                 TRY_CAST(concat('0x', substr(md5(shingle), 1, 12))
                   AS BIGINT) AS h1,
                 TRY_CAST(concat('0x', substr(md5(concat(shingle, ':2')),
                   1, 8)) AS BIGINT) AS h2
          FROM sh),
        sig AS (
          SELECT doc_id, is_new, r.i, MIN(h1 + r.i * h2) AS m
          FROM hs, range(16) r(i) GROUP BY 1, 2, 3),
        bnd AS (
          SELECT doc_id, is_new, i // 4 AS band,
                 md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i))
                   AS bucket
          FROM sig GROUP BY doc_id, is_new, i // 4),
        cand AS (
          SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS seen_id
          FROM bnd a JOIN bnd b
            ON a.band = b.band AND a.bucket = b.bucket
          WHERE a.is_new AND NOT b.is_new),
        eq AS (
          SELECT c.new_id, c.seen_id,
                 SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS k
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.new_id
          JOIN sig sb ON sb.doc_id = c.seen_id AND sb.i = sa.i
          GROUP BY 1, 2)
        SELECT new_id, seen_id, ROUND(k / 16.0, 4) AS est_jaccard
        FROM eq WHERE k / 16.0 >= 0.5""")

    # Quality-priority dedup survivor: keep the
    # highest-priority copy per duplicate text (curated source beats
    # crawl), not the first-seen one (operators/dedup.keep_best).
    def _keep_best(spark, sf):
        docs = _docs(spark, sf).withColumn(
            "src_priority",
            F.when(F.col("source") == "src0", F.lit(2))
             .when(F.col("source") == "src1", F.lit(1))
             .otherwise(F.lit(0)))
        return D.keep_best(docs, "src_priority")

    add("docs_dedup_keep_best", _keep_best,
        """SELECT doc_id, md5(text) AS text_hash, src_priority
        FROM (
          SELECT doc_id, text,
                 CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1
                      ELSE 0 END AS src_priority,
                 ROW_NUMBER() OVER (
                   PARTITION BY text
                   ORDER BY CASE source WHEN 'src0' THEN 2
                                 WHEN 'src1' THEN 1 ELSE 0 END DESC,
                            doc_id) AS rn
          FROM documents)
        WHERE rn = 1""")

    # Distributed connected components (large-star/small-star), full
    # oracle #1: minimal spanning CHAINS inside each source group (20
    # groups x 25 docs -> 24-deep chains, the contraction worst case)
    # must reunite to min(doc_id) per group — the oracle states the
    # group identity, the engine has to earn it transitively.
    def source_chain_components(spark, sf):
        from ..operators import graph as G
        from ..workload_shared import _docs
        return G.chain_components(_docs(spark, sf), "doc_id", "source")

    add("docs_source_chain_components", source_chain_components,
        """SELECT doc_id,
               CAST(MIN(doc_id) OVER (PARTITION BY source) AS BIGINT)
                 AS component
        FROM documents""")

    # Full oracle #2 — transitive NEAR-dup groups over the blocked
    # Levenshtein pair table: the engine runs CC on the pair edges;
    # the oracle computes the same pairs in SQL and closes them with
    # a recursive CTE (min label over the reachability set).  Only
    # nodes that appear in a pair are labeled (callers join back for
    # singletons), matching connected_components' contract.
    def neardup_components(spark, sf):
        from ..operators import dedup as D
        from ..workload_shared import _docs
        return D.soft_dedup_components(_docs(spark, sf), max_dist=20,
                                       prefix_chars=80, block_width=100)

    add("docs_neardup_components", neardup_components,
        """WITH RECURSIVE b AS (
          SELECT doc_id, lang, substring(text, 1, 80) AS pre,
                 CAST(floor(length(text) / 100.0) AS BIGINT) AS blk_len
          FROM documents),
        p AS (
          SELECT a.doc_id AS u, b2.doc_id AS v
          FROM b a JOIN b b2
            ON a.lang = b2.lang AND a.blk_len = b2.blk_len
           AND a.doc_id < b2.doc_id
          WHERE levenshtein(a.pre, b2.pre) <= 20),
        e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
        reach(n, m) AS (
          SELECT u, v FROM e
          UNION
          SELECT r.n, e2.v FROM reach r JOIN e e2 ON r.m = e2.u),
        lbl AS (
          SELECT n, LEAST(n, MIN(m)) AS component
          FROM reach GROUP BY n)
        SELECT CAST(n AS BIGINT) AS doc_id,
               CAST(component AS BIGINT) AS component
        FROM lbl""")

    # Soft dedup (full oracle): instead of DROPPING near-duplicates,
    # down-weight them — every doc's training weight is
    # 1 / |its transitive near-dup group| (exact integer ppm), the
    # keep-information-lose-redundancy alternative to hard dedup.
    # Composes the CC labels over the levenshtein pair table;
    # singletons weigh 1.0 (1,000,000 ppm).
    def softdedup_weights(spark, sf):
        from ..operators import dedup as D
        from ..workload_shared import _docs
        return D.soft_dedup_weights(_docs(spark, sf), max_dist=20,
                                    prefix_chars=80, block_width=100)

    add("docs_softdedup_weights", softdedup_weights,
        """WITH RECURSIVE b AS (
          SELECT doc_id, lang, substring(text, 1, 80) AS pre,
                 CAST(floor(length(text) / 100.0) AS BIGINT) AS blk_len
          FROM documents),
        p AS (
          SELECT a.doc_id AS u, b2.doc_id AS v
          FROM b a JOIN b b2
            ON a.lang = b2.lang AND a.blk_len = b2.blk_len
           AND a.doc_id < b2.doc_id
          WHERE levenshtein(a.pre, b2.pre) <= 20),
        e AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
        reach(n, m) AS (
          SELECT u, v FROM e
          UNION
          SELECT r.n, e2.v FROM reach r JOIN e e2 ON r.m = e2.u),
        lbl AS (
          SELECT n, LEAST(n, MIN(m)) AS component
          FROM reach GROUP BY n),
        sz AS (
          SELECT component, COUNT(*) AS gsz FROM lbl GROUP BY 1)
        SELECT d.doc_id,
               CAST(COALESCE(sz.gsz, 1) AS INTEGER) AS group_size,
               CAST(1000000 // COALESCE(sz.gsz, 1) AS BIGINT)
                 AS weight_ppm
        FROM documents d
        LEFT JOIN lbl ON d.doc_id = lbl.n
        LEFT JOIN sz ON lbl.component = sz.component""")

"""Per-document text entries: tokenization and text statistics, language
id, markup/PII scrubbing, quality scores and filters, sampling and
sequence packing over the ``documents`` table.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import frozen_codebooks as FC
from ..operators import sampling as SM
from ..operators import text as TX
from ..operators.fixedlog import ladder_sql
from ..workload_shared import _docs


# Fixed-op ln oracle ladders for the LM family (libm-free;
# operators/fixedlog.py) — built once at import.
_CTX_LADDER = ladder_sql("SELECT w, c1, v FROM c1, vocab",
                         lns=[("c1 + v", "lnv")])

_SEEN_LADDER = ladder_sql("SELECT bg, c12 FROM c12",
                          lns=[("c12 + 1", "lnv")])

_OOV_LADDER = ladder_sql("SELECT v FROM vocab", lns=[("v", "lnv")])


def register(add) -> None:
    add("docs_token_stats",
        lambda spark, sf: TX.token_stats(_docs(spark, sf)),
        r"""SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
               CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS INTEGER)
                   AS n_punct,
               length(text) AS len_chars,
               ROUND(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                     / greatest(length(text), 1), 4) AS punct_ratio
        FROM documents""")

    add("docs_lang_id",
        lambda spark, sf: TX.lang_id(_docs(spark, sf)),
        r"""WITH h AS (
          SELECT doc_id, lang,
            CAST(len(regexp_extract_all(lower(text),
              '\b(the|and|of|to|in|is)\b')) AS INTEGER) AS hits_en,
            CAST(len(regexp_extract_all(lower(text),
              '\b(el|la|de|que|los|una)\b')) AS INTEGER) AS hits_es,
            CAST(len(regexp_extract_all(lower(text),
              '\b(le|la|les|des|est|une)\b')) AS INTEGER) AS hits_fr,
            CAST(len(regexp_extract_all(lower(text),
              '\b(der|die|und|das|ist|ein)\b')) AS INTEGER) AS hits_de
          FROM documents)
        SELECT doc_id, lang, hits_en, hits_es, hits_fr, hits_de,
               CASE WHEN greatest(hits_en, hits_es, hits_fr, hits_de) = 0
                    THEN 'und'
                    WHEN hits_en = greatest(hits_en, hits_es, hits_fr, hits_de)
                    THEN 'en'
                    WHEN hits_es = greatest(hits_en, hits_es, hits_fr, hits_de)
                    THEN 'es'
                    WHEN hits_fr = greatest(hits_en, hits_es, hits_fr, hits_de)
                    THEN 'fr'
                    ELSE 'de' END AS lang_guess
        FROM h""")

    # char-trigram language ID (Cavnar-Trenkle family) — the n-gram
    # counterpart of the stopword voter; JVM regexp_count vs DuckDB
    # regexp_extract_all over the identical literal alternations
    add("docs_lang_id_ngram",
        lambda spark, sf: TX.lang_id_ngram(_docs(spark, sf)),
        r"""WITH h AS (
          SELECT doc_id, lang,
            CAST(len(regexp_extract_all(lower(text), '\ th|the|he\ |ing|nd\ |\ of|of\ |\ an|and|ion'))
                 AS INTEGER) AS tri_en,
            CAST(len(regexp_extract_all(lower(text), '\ de|de\ |\ la|la\ |os\ |\ qu|que|ue\ |ión|\ el'))
                 AS INTEGER) AS tri_es,
            CAST(len(regexp_extract_all(lower(text), '\ le|le\ |\ de|es\ |ent|\ et|et\ |ion|\ la|que'))
                 AS INTEGER) AS tri_fr,
            CAST(len(regexp_extract_all(lower(text), 'en\ |er\ |\ de|der|ie\ |ein|ich|sch|und|ch\ '))
                 AS INTEGER) AS tri_de
          FROM documents)
        SELECT doc_id, lang, tri_en, tri_es, tri_fr, tri_de,
               CASE WHEN greatest(tri_en, tri_es, tri_fr, tri_de) = 0
                    THEN 'und'
                    WHEN tri_en = greatest(tri_en, tri_es, tri_fr, tri_de)
                    THEN 'en'
                    WHEN tri_es = greatest(tri_en, tri_es, tri_fr, tri_de)
                    THEN 'es'
                    WHEN tri_fr = greatest(tri_en, tri_es, tri_fr, tri_de)
                    THEN 'fr'
                    ELSE 'de' END AS lang_guess
        FROM h""")

    add("docs_quality_score",
        lambda spark, sf: TX.quality_score(_docs(spark, sf)),
        r"""WITH q AS (
          SELECT doc_id,
            len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
            greatest(length(text), 1) AS n_chars,
            CAST(len(regexp_extract_all(lower(text),
              '\b(the|and|of|to|in|is)\b')) AS INTEGER) AS stop_hits,
            CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                 AS INTEGER) AS punct
          FROM documents)
        SELECT doc_id, n_tokens,
          ROUND(
            (CASE WHEN n_tokens >= 10 AND n_tokens <= 5000
                  THEN 0.4 ELSE 0.0 END)
            + least(stop_hits / greatest(n_tokens, 1) * 2.0, 0.4)
            - least(punct / n_chars * 5.0, 0.2)
            + (CASE WHEN n_chars / greatest(n_tokens, 1) >= 3.0
                     AND n_chars / greatest(n_tokens, 1) <= 12.0
                    THEN 0.2 ELSE 0.0 END), 4) AS quality_score
        FROM q""")

    # whitespace + BPE-ish token counting (pretrain-budget proxy); the
    # shared pattern is Java-regex/RE2-safe so the oracle runs it verbatim
    add("docs_token_count_bpe",
        lambda spark, sf: TX.token_count_bpe(_docs(spark, sf)),
        r"""SELECT doc_id,
          CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
            AS n_tokens_ws,
          CAST(len(regexp_extract_all(text,
            '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))
            AS BIGINT) AS n_tokens_bpe
        FROM documents""")

    # the SQL-function surface driven end-to-end: an analyst's plain-SQL
    # query over the registered scalar functions must match the DuckDB
    # re-expression of the same semantics
    def sql_fn_stats(spark, sf):
        from ..functions import register_sql_functions
        register_sql_functions(spark)
        _docs(spark, sf).createOrReplaceTempView("wq_sql_fn_docs")
        return spark.sql(
            "SELECT doc_id, doc_fingerprint(text) AS fingerprint, "
            "token_count_ws(text) AS n_tokens_ws, "
            "ttr_milli(text) AS ttr_milli "
            "FROM wq_sql_fn_docs")

    add("docs_sql_function_stats", sql_fn_stats,
        r"""WITH toks AS (
          SELECT doc_id, list_filter(regexp_split_to_array(
            trim(lower(text)), '\s+'), x -> x <> '') AS tl
          FROM documents)
        SELECT d.doc_id,
          md5(regexp_replace(lower(d.text), '[^a-z0-9]', '', 'g'))
            AS fingerprint,
          CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS BIGINT)
            AS n_tokens_ws,
          CAST((len(list_distinct(t.tl)) * 1000)
               // greatest(len(t.tl), 1) AS BIGINT) AS ttr_milli
        FROM documents d JOIN toks t USING (doc_id)""")

    # Gopher-style intra-doc repetition (exact integer counts — callers
    # derive fractions; ints survive the Arrow edge bit-for-bit)
    add("docs_repetition_stats",
        lambda spark, sf: TX.repetition_stats(_docs(spark, sf)),
        r"""WITH t AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          FROM documents)
        SELECT doc_id,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
          CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_2grams,
          CAST(len(list_distinct(list_transform(
                range(1, greatest(len(toks) - 1, 0) + 1),
                i -> toks[i] || ' ' || toks[i+1]))) AS BIGINT)
            AS n_distinct_2grams,
          CAST(greatest(len(toks) - 2, 0) AS BIGINT) AS n_3grams,
          CAST(len(list_distinct(list_transform(
                range(1, greatest(len(toks) - 2, 0) + 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
               AS BIGINT) AS n_distinct_3grams
        FROM t""")

    add("docs_repetition_filter",
        lambda spark, sf: TX.repetition_filter(
            _docs(spark, sf), max_dup_token_frac=0.5501,
            max_dup_2gram_frac=0.2501, min_tokens=20),
        r"""WITH t AS (
          SELECT *, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          FROM documents)
        SELECT doc_id, text, lang, source, n_chars
        FROM t
        WHERE len(toks) >= 20
          AND 1.0 - len(list_distinct(toks)) * 1.0 / len(toks) <= 0.5501
          AND 1.0 - len(list_distinct(list_transform(
                range(1, greatest(len(toks) - 1, 0) + 1),
                i -> toks[i] || ' ' || toks[i+1]))) * 1.0
              / greatest(len(toks) - 1, 1) <= 0.2501""")

    add("docs_fingerprint",
        lambda spark, sf: TX.fingerprint(_docs(spark, sf)),
        """SELECT doc_id,
               md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                   AS fingerprint
        FROM documents""")

    add("docs_redact_pii",
        lambda spark, sf: TX.redact_pii(_docs(spark, sf))
        .select("doc_id", "n_email", "n_phone", "n_ipv4",
                F.sha2(F.encode("text_redacted", "UTF-8"), 256)
                .alias("redacted_sha")),
        r"""SELECT doc_id,
               CAST(length(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                 AS INTEGER) AS n_email,
               CAST(length(regexp_extract_all(text,
                 '\+?\d[\d\s().-]{7,}\d')) AS INTEGER) AS n_phone,
               CAST(length(regexp_extract_all(text,
                 '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS INTEGER) AS n_ipv4,
               sha256(regexp_replace(regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '[EMAIL]', 'g'),
                 '\+?\d[\d\s().-]{7,}\d', '[PHONE]', 'g'),
                 '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IPV4]', 'g'))
                 AS redacted_sha
        FROM documents""")

    add("docs_pack_sequences",
        lambda spark, sf: TX.pack_sequences(_docs(spark, sf), 2048),
        """SELECT doc_id,
               CAST(length(regexp_split_to_array(trim(text), '\\s+'))
                    AS INTEGER) AS n_tokens,
               CAST(FLOOR((SUM(length(regexp_split_to_array(trim(text),
                        '\\s+'))) OVER (ORDER BY doc_id)
                    - length(regexp_split_to_array(trim(text), '\\s+')))
                    / 2048) AS BIGINT) AS pack_bin
        FROM documents""")

    # the scale path: per-shard packing windows (no single-reducer cumsum)
    add("docs_pack_sequences_sharded",
        lambda spark, sf: TX.pack_sequences(_docs(spark, sf), 2048,
                                            shard_col="source"),
        """SELECT doc_id, source,
               CAST(length(regexp_split_to_array(trim(text), '\\s+'))
                    AS INTEGER) AS n_tokens,
               CAST(FLOOR((SUM(length(regexp_split_to_array(trim(text),
                        '\\s+'))) OVER (PARTITION BY source ORDER BY doc_id)
                    - length(regexp_split_to_array(trim(text), '\\s+')))
                    / 2048) AS BIGINT) AS pack_bin
        FROM documents""")

    add("docs_strip_markup",
        lambda spark, sf: TX.strip_markup(_docs(spark, sf))
        .select("doc_id",
                F.sha2(F.encode("text_clean", "UTF-8"), 256)
                .alias("clean_sha"),
                F.length("text_clean").alias("clean_len")),
        r"""SELECT doc_id,
               sha256(trim(regexp_replace(
                 replace(replace(replace(replace(replace(
                   regexp_replace(text, '<[^>]*>', ' ', 'g'),
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&apos;', ''''), '&amp;', '&'),
                 '\s+', ' ', 'g'))) AS clean_sha,
               length(trim(regexp_replace(
                 replace(replace(replace(replace(replace(
                   regexp_replace(text, '<[^>]*>', ' ', 'g'),
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&apos;', ''''), '&amp;', '&'),
                 '\s+', ' ', 'g'))) AS clean_len
        FROM documents""")

    # ---- deterministic sampling / splitting (training-data mixing) -------
    # All hash-derived (md5(id:salt)), so the DuckDB oracle recomputes the
    # exact same sample — reproducibility across engines IS the oracle.
    _BUCKET = SM.hash_bucket_sql("doc_id", "split-v1")

    add("docs_hash_split",
        lambda spark, sf: SM.hash_split(
            _docs(spark, sf), {"train": 0.8, "val": 0.1, "test": 0.1})
        .select("doc_id", "split"),
        f"""SELECT doc_id,
               CASE WHEN {_BUCKET} < 8000 THEN 'train'
                    WHEN {_BUCKET} < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents""")

    # the cutoff-picking curve: per distinct quality score, surviving
    # docs/tokens for a >= filter — corpus touched once, windows only
    # over the bounded per-score table
    add("docs_quality_threshold_sweep",
        lambda spark, sf: TX.quality_threshold_sweep(_docs(spark, sf)),
        r"""WITH q AS (
          SELECT doc_id,
            len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
            greatest(length(text), 1) AS n_chars,
            CAST(len(regexp_extract_all(lower(text),
              '\b(the|and|of|to|in|is)\b')) AS INTEGER) AS stop_hits,
            CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                 AS INTEGER) AS punct
          FROM documents),
        scored AS (
          SELECT n_tokens,
            CAST(ROUND(ROUND((
              (CASE WHEN n_tokens >= 10 AND n_tokens <= 5000
                    THEN 0.4 ELSE 0.0 END)
              + least(stop_hits / greatest(n_tokens, 1) * 2.0, 0.4)
              - least(punct / n_chars * 5.0, 0.2)
              + (CASE WHEN n_chars / greatest(n_tokens, 1) >= 3.0
                       AND n_chars / greatest(n_tokens, 1) <= 12.0
                      THEN 0.2 ELSE 0.0 END)), 4) * 1000)
              AS BIGINT) AS threshold_milli
          FROM q),
        per AS (
          SELECT threshold_milli, COUNT(*) AS d,
                 SUM(n_tokens) AS t
          FROM scored GROUP BY 1),
        c AS (
          SELECT threshold_milli,
                 SUM(d) OVER (ORDER BY threshold_milli DESC) AS kd,
                 SUM(t) OVER (ORDER BY threshold_milli DESC) AS kt,
                 SUM(d) OVER () AS td, SUM(t) OVER () AS tt
          FROM per)
        SELECT threshold_milli,
               CAST(kd AS BIGINT) AS kept_docs,
               CAST(kt AS BIGINT) AS kept_tokens,
               CAST((kd * 1000) // td AS BIGINT) AS kept_docs_milli,
               CAST((kt * 1000) // tt AS BIGINT) AS kept_tokens_milli
        FROM c""")

    # deterministic sharded training order: md5-keyed permutation, rank
    # windows partitioned per shard (never a global sort)
    add("docs_shuffle_corpus",
        lambda spark, sf: SM.shuffle_corpus(_docs(spark, sf), n_shards=8)
        .select("doc_id", "shard", "shard_pos"),
        """WITH keyed AS (
          SELECT doc_id,
                 TRY_CAST(concat('0x', substr(md5(concat(
                   CAST(doc_id AS VARCHAR), ':shuffle-v1')), 1, 15))
                   AS BIGINT) AS key
          FROM documents)
        SELECT doc_id, CAST(key % 8 AS INTEGER) AS shard,
               CAST(ROW_NUMBER() OVER (PARTITION BY key % 8
                    ORDER BY key, doc_id) AS BIGINT) AS shard_pos
        FROM keyed""")

    _SBUCKET = SM.hash_bucket_sql("doc_id", "strat-v1")

    add("docs_stratified_sample",
        lambda spark, sf: SM.stratified_sample(
            _docs(spark, sf), {"en": 0.5, "es": 0.25}, default_rate=0.1)
        .select("doc_id", "lang"),
        f"""SELECT doc_id, lang
        FROM documents
        WHERE {_SBUCKET} < CASE lang WHEN 'en' THEN 5000
                                     WHEN 'es' THEN 2500
                                     ELSE 1000 END""")

    add("docs_uniform_sample_k",
        lambda spark, sf: SM.uniform_sample_k(_docs(spark, sf), 100)
        .select("doc_id", "lang"),
        """SELECT doc_id, lang
        FROM documents
        ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':topk-v1'))
        LIMIT 100""")

    # zlib compression-ratio quality signal — rows-only: zlib is not
    # SQL-expressible (the one Arrow-batched pandas_udf in the text
    # family); tests pin repetitive << prose << random ordering
    add("docs_compression_ratio",
        lambda spark, sf: TX.compression_ratio(_docs(spark, sf)), None)

    # data-contract check: every rule is a conditional sum in ONE
    # aggregate pass (50 rules cost the same scan as one)
    def doc_contracts(spark, sf):
        from ..operators import expectations as EX
        return EX.check(_docs(spark, sf), {
            "doc_id_not_null": EX.not_null("doc_id"),
            "text_non_empty": EX.non_empty("text"),
            "lang_known": EX.isin("lang", ["en", "es", "fr", "de"]),
            "n_chars_range": EX.in_range("n_chars", 1, 10_000),
            "n_chars_consistent":
                F.col("n_chars").eqNullSafe(F.length("text")),
        }).orderBy("rule")

    add("docs_contract_check", doc_contracts,
        """WITH m AS (SELECT
            CAST(COUNT(*) AS BIGINT) AS n_rows,
            CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS v_id,
            CAST(SUM(CASE WHEN NOT coalesce(text IS NOT NULL
                 AND length(text) > 0, FALSE) THEN 1 ELSE 0 END)
                 AS BIGINT) AS v_text,
            CAST(SUM(CASE WHEN NOT coalesce(
                 lang IN ('en','es','fr','de'), FALSE) THEN 1 ELSE 0 END)
                 AS BIGINT) AS v_lang,
            CAST(SUM(CASE WHEN NOT coalesce(
                 n_chars BETWEEN 1 AND 10000, FALSE) THEN 1 ELSE 0 END)
                 AS BIGINT) AS v_range,
            CAST(SUM(CASE WHEN NOT coalesce(
                 n_chars = length(text), FALSE) THEN 1 ELSE 0 END)
                 AS BIGINT) AS v_cons
          FROM documents)
        SELECT rule, n_rows, n_violations FROM (
          SELECT 'doc_id_not_null' AS rule, n_rows, v_id AS n_violations
            FROM m
          UNION ALL SELECT 'text_non_empty', n_rows, v_text FROM m
          UNION ALL SELECT 'lang_known', n_rows, v_lang FROM m
          UNION ALL SELECT 'n_chars_range', n_rows, v_range FROM m
          UNION ALL SELECT 'n_chars_consistent', n_rows, v_cons FROM m)
        ORDER BY rule""")

    # exact-k deterministic sample per group (eval sets / per-domain
    # probes): hash-ranked inside each stratum, engine-independent
    add("docs_sample_k_per_group",
        lambda spark, sf: SM.sample_k_per_group(_docs(spark, sf), 10)
        .select("doc_id", "lang"),
        """SELECT doc_id, lang FROM documents
        QUALIFY ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':grpk-v1')))
            <= 10""")

    # per-source type-token ratio (integer milli-units for bit-equality)
    add("docs_lexical_diversity",
        lambda spark, sf: TX.lexical_diversity(_docs(spark, sf)),
        r"""WITH toks AS (
          SELECT source, unnest(regexp_split_to_array(
            trim(lower(text)), '\s+')) AS token
          FROM documents),
        ne AS (SELECT * FROM toks WHERE token <> ''),
        per AS (SELECT source, token, COUNT(*) AS n FROM ne GROUP BY 1, 2)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(n) AS BIGINT) AS n_tokens,
               CAST((COUNT(*) * 1000) // SUM(n) AS BIGINT) AS ttr_milli
        FROM per GROUP BY source""")

    add("docs_length_histogram",
        lambda spark, sf: SM.length_histogram(_docs(spark, sf)),
        """SELECT CAST(n_chars // 200 AS BIGINT) * 200 AS bucket_lo,
               COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY 1""")

    # ---- trained quality classifier (beyond-reference) -------
    # The GPT-3-style classifier filter: hashed-BoW logistic regression
    # trained on weak labels from the oracle-green quality heuristic,
    # holdout-AUC-gated INSIDE the entry (raises below 0.75 — a
    # returned row proves separation, not just execution), scored over
    # the full corpus, reported as a per-decile histogram.  Iterative
    # ML training → not SQL-expressible → rows-only; negative path
    # (gate fires on shuffled labels) in tests/test_operators.py.
    def quality_classifier(spark, sf):
        from ..operators.classifier import classifier_quality_report
        return classifier_quality_report(_docs(spark, sf))

    add("docs_quality_classifier", quality_classifier, None)

    # the classifier's label step stands alone as a FULL oracle: exact
    # interpolated percentiles over the (identically rounded) heuristic
    # scores, keep the tails, label = top-tail membership.  Anchors the
    # rows-only classifier entry to an oracle-checked input contract.
    def weak_labels(spark, sf):
        from ..operators.classifier import weak_quality_labels
        return weak_quality_labels(_docs(spark, sf))

    add("docs_quality_weak_labels", weak_labels,
        r"""WITH q AS (
          SELECT doc_id, text,
            len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
            greatest(length(text), 1) AS n_chars,
            CAST(len(regexp_extract_all(lower(text),
              '\b(the|and|of|to|in|is)\b')) AS INTEGER) AS stop_hits,
            CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                 AS INTEGER) AS punct
          FROM documents),
        scored AS (
          SELECT doc_id, text,
            ROUND(
              (CASE WHEN n_tokens >= 10 AND n_tokens <= 5000
                    THEN 0.4 ELSE 0.0 END)
              + least(stop_hits / greatest(n_tokens, 1) * 2.0, 0.4)
              - least(punct / n_chars * 5.0, 0.2)
              + (CASE WHEN n_chars / greatest(n_tokens, 1) >= 3.0
                       AND n_chars / greatest(n_tokens, 1) <= 12.0
                      THEN 0.2 ELSE 0.0 END), 4) AS quality_score
          FROM q),
        th AS (SELECT quantile_cont(quality_score, 0.25) AS lo,
                      quantile_cont(quality_score, 0.75) AS hi
               FROM scored)
        SELECT s.doc_id, s.text,
               CAST(s.quality_score >= th.hi AS DOUBLE) AS label
        FROM scored s, th
        WHERE s.quality_score <= th.lo OR s.quality_score >= th.hi""")

    # the keep/drop lottery primitive, oracle-anchored: acceptance
    # probability q01^2 with the uniform variate drawn from md5(id:salt)
    # — both engines compute the identical 60-bit hash prefix, so the
    # kept set is value-exact (the trained-classifier filter applies the
    # SAME primitive to model scores; this entry proves the primitive)
    def quality_lottery(spark, sf):
        from ..operators.classifier import classifier_filter
        from ..operators.text import quality_score
        scored = quality_score(_docs(spark, sf)).select(
            "doc_id",
            F.greatest(F.least(F.col("quality_score"), F.lit(1.0)),
                       F.lit(0.0)).alias("q01"))
        return (classifier_filter(scored, lottery_alpha=2.0,
                                  prob_col="q01")
                .select("doc_id", F.round("q01", 4).alias("q01"),
                        "keep_reason"))

    add("docs_quality_lottery", quality_lottery,
        r"""WITH q AS (
          SELECT doc_id,
            len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
            greatest(length(text), 1) AS n_chars,
            CAST(len(regexp_extract_all(lower(text),
              '\b(the|and|of|to|in|is)\b')) AS INTEGER) AS stop_hits,
            CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                 AS INTEGER) AS punct
          FROM documents),
        scored AS (
          SELECT doc_id,
            greatest(least(ROUND(
              (CASE WHEN n_tokens >= 10 AND n_tokens <= 5000
                    THEN 0.4 ELSE 0.0 END)
              + least(stop_hits / greatest(n_tokens, 1) * 2.0, 0.4)
              - least(punct / n_chars * 5.0, 0.2)
              + (CASE WHEN n_chars / greatest(n_tokens, 1) >= 3.0
                       AND n_chars / greatest(n_tokens, 1) <= 12.0
                      THEN 0.2 ELSE 0.0 END), 4), 1.0), 0.0) AS q01
          FROM q)
        SELECT doc_id, ROUND(q01, 4) AS q01, 'lottery' AS keep_reason
        FROM scored
        WHERE (('0x' || substring(md5(doc_id::VARCHAR || ':clf-keep-v1'),
                                  1, 15))::UBIGINT
               / POWER(16, 15)) < POWER(q01, 2.0)""")

    # CCNet-style bigram-LM scoring (train on a clean reference slice,
    # score everything by mean NLL): the DSIR micro-unit freeze makes
    # the one float op (ln, once per distinct reference bigram/context)
    # reproducible, so the per-doc scores are bit-exact integers on
    # both engines.  Docs with <2 tokens have no bigrams and are
    # absent on both sides by construction.
    # Output columns derived from SUM(BIGINT) or `//` MUST be CAST to
    # BIGINT: DuckDB types them HUGEINT, and an Arrow/pandas-fetching
    # harness renders HUGEINT differently from BIGINT (rows/schema
    # match, value-hash mismatch — the r8/r9 driver-red signature).
    # tests/test_oracle_types.py lints every oracle for this.
    # Shared CTE chain for the LM-scoring family (score + CCNet
    # perplexity-bucket split reuse it verbatim).
    _LM_CORE = rf"""WITH tok AS (
          SELECT doc_id, source,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        bigs AS (
          SELECT doc_id, source,
                 list_transform(list_zip(t[1:len(t) - 1], t[2:]),
                                p -> p[1] || ' ' || p[2]) AS bgs
          FROM tok),
        doc_big AS (
          SELECT doc_id, unnest(bgs) AS bg FROM bigs),
        doc_big_w AS (
          SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1
          FROM doc_big),
        ref_uni AS (
          SELECT unnest(t) AS w FROM tok WHERE source = 'src0'),
        ref_big AS (
          SELECT unnest(bgs) AS bg FROM bigs WHERE source = 'src0'),
        vocab AS (SELECT COUNT(DISTINCT w) AS v FROM ref_uni),
        c1 AS (SELECT w, COUNT(*) AS c1 FROM ref_uni GROUP BY w),
        c12 AS (SELECT bg, COUNT(*) AS c12 FROM ref_big GROUP BY bg),
        ctx AS (SELECT w, CAST(ROUND(lnv * 1e6) AS BIGINT)
                         AS ctx_micro
                FROM ({_CTX_LADDER})),
        seen AS (SELECT bg, CAST(ROUND(lnv * 1e6) AS BIGINT)
                          AS hit_micro
                 FROM ({_SEEN_LADDER})),
        oov AS (SELECT CAST(ROUND(lnv * 1e6) AS BIGINT)
                  AS oov_ctx_micro FROM ({_OOV_LADDER})),
        nll AS (
          SELECT d.doc_id,
                 COALESCE(ctx.ctx_micro, oov.oov_ctx_micro)
                 - COALESCE(seen.hit_micro, 0) AS nll_micro
          FROM doc_big_w d
          LEFT JOIN seen ON d.bg = seen.bg
          LEFT JOIN ctx ON d.w1 = ctx.w
          CROSS JOIN oov)"""

    add("docs_ngram_lm_score",
        lambda spark, sf: TX.ngram_lm_score(
            _docs(spark, sf), reference_cond=F.col("source") == "src0"),
        _LM_CORE + r"""
        SELECT doc_id,
               COUNT(*) AS n_bigrams,
               CAST(SUM(nll_micro) AS BIGINT) AS nll_sum_micro,
               CAST(SUM(nll_micro) // COUNT(*) AS BIGINT) AS mean_nll_micro
        FROM nll GROUP BY doc_id""")

    # CCNet head/middle/tail split (Wenzek et al. 2020 §4.3): rank each
    # language's docs by the frozen mean NLL, cut into 3 equal-count
    # buckets by pure integer rank arithmetic — ties on doc_id, so the
    # split is bit-exact on both engines.
    add("docs_ccnet_buckets",
        lambda spark, sf: TX.ccnet_perplexity_buckets(
            _docs(spark, sf), reference_cond=F.col("source") == "src0"),
        _LM_CORE + r""",
        sc AS (
          SELECT doc_id,
                 CAST(SUM(nll_micro) // COUNT(*) AS BIGINT)
                     AS mean_nll_micro
          FROM nll GROUP BY doc_id),
        ranked AS (
          SELECT d.doc_id, d.lang, sc.mean_nll_micro,
                 ROW_NUMBER() OVER (PARTITION BY d.lang
                     ORDER BY sc.mean_nll_micro, d.doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY d.lang) AS n
          FROM documents d JOIN sc ON d.doc_id = sc.doc_id)
        SELECT doc_id, lang, mean_nll_micro,
               CAST(((rn - 1) * 3) // n AS INTEGER) AS bucket_idx,
               CASE ((rn - 1) * 3) // n WHEN 0 THEN 'head'
                    WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
        FROM ranked""")

    # unicode normalization: a combining-acute suffix is synthesized
    # in-plan on BOTH engines, so the hashes only match if NFC really
    # composed it (DuckDB ships nfc_normalize; NFKC has no DuckDB
    # counterpart and stays pytest-covered)
    def unicode_norm(spark, sf):
        from ..operators.text import normalize_unicode
        d = _docs(spark, sf).withColumn(
            "text", F.concat(F.col("text"), F.lit(" café")))
        return (normalize_unicode(d, form="NFC")
                .select("doc_id",
                        F.md5(F.encode(F.col("text_norm"), "UTF-8"))
                         .alias("norm_hash"),
                        F.length("text_norm").cast("bigint")
                         .alias("n_chars_norm")))

    add("docs_unicode_normalize", unicode_norm,
        """SELECT doc_id,
               md5(nfc_normalize(text || ' cafe' || chr(769)))
                 AS norm_hash,
               CAST(length(nfc_normalize(text || ' cafe' || chr(769)))
                    AS BIGINT) AS n_chars_norm
        FROM documents""")

    # intra-corpus boilerplate: verbatim 8-gram spans shared by >= 3
    # distinct documents (RefinedWeb-style repeated-span detector)
    add("docs_boilerplate_ngrams",
        lambda spark, sf: TX.boilerplate_ngrams(_docs(spark, sf),
                                                n=8, min_docs=3),
        r"""WITH t AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          FROM documents),
        g AS (
          SELECT doc_id,
                 unnest(list_transform(
                   range(1, greatest(len(toks) - 7, 0) + 1),
                   i -> array_to_string(toks[i : i + 7], ' '))) AS ngram
          FROM t)
        SELECT ngram, COUNT(DISTINCT doc_id) AS n_docs,
               COUNT(*) AS n_occurrences
        FROM g GROUP BY ngram
        HAVING COUNT(DISTINCT doc_id) >= 3""")

    # the actionable boilerplate op: drop documents that are MOSTLY
    # corpus-shared 8-gram spans (template pages that no exact dedup
    # catches); short docs with no 8-grams are kept
    add("docs_boilerplate_filter",
        lambda spark, sf: TX.boilerplate_filter(_docs(spark, sf),
                                                n=8, min_docs=3,
                                                max_frac=0.5),
        r"""WITH t AS (
          SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS toks
          FROM documents),
        g AS (
          SELECT doc_id,
                 unnest(list_transform(
                   range(1, greatest(len(toks) - 7, 0) + 1),
                   i -> array_to_string(toks[i : i + 7], ' '))) AS ngram
          FROM t),
        boiler AS (
          SELECT ngram FROM g GROUP BY ngram
          HAVING COUNT(DISTINCT doc_id) >= 3),
        per_doc AS (
          SELECT g.doc_id, COUNT(*) AS n_grams,
                 CAST(SUM(CASE WHEN b.ngram IS NOT NULL
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
          FROM g LEFT JOIN boiler b USING (ngram)
          GROUP BY g.doc_id)
        SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
        WHERE p.doc_id IS NULL OR p.n_boiler <= 0.5 * p.n_grams""")

    _ENT_LC = ladder_sql("SELECT c FROM dc", lns=[("c", "lnv")])
    _ENT_LN = ladder_sql("SELECT n FROM dn", lns=[("n", "lnv")])
    add("docs_char_entropy",
        lambda spark, sf: __import__(
            "olap_xtrctr_spark.operators.text", fromlist=["char_entropy"]
        ).char_entropy(_docs(spark, sf)),
        rf"""WITH chars AS (
          SELECT doc_id, unnest(string_split(text, '')) AS ch
          FROM documents),
        counts AS (
          SELECT doc_id, ch, COUNT(*) AS c
          FROM chars WHERE ch != '' GROUP BY 1, 2),
        tot AS (SELECT doc_id, SUM(c) AS n FROM counts GROUP BY 1),
        dc AS (SELECT DISTINCT c FROM counts),
        dn AS (SELECT DISTINCT n FROM tot),
        lc AS (SELECT c, CAST(ROUND(lnv * 1e6) AS BIGINT) AS lc_micro
               FROM ({_ENT_LC})),
        lnn AS (SELECT n, CAST(ROUND(lnv * 1e6) AS BIGINT) AS ln_micro
                FROM ({_ENT_LN})),
        s AS (SELECT counts.doc_id,
                     CAST(SUM(c * lc_micro) AS BIGINT) AS clc
              FROM counts JOIN lc USING (c) GROUP BY 1)
        SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_chars,
               CAST((lnn.ln_micro * t.n - s.clc) // t.n AS BIGINT)
                 AS entropy_micro
        FROM tot t JOIN lnn ON lnn.n = t.n
        JOIN s ON s.doc_id = t.doc_id""")

    # Frozen quality classifier: the value-exact sibling of the
    # rows-only hashed-BoW docs_quality_classifier — an exact int64
    # logit over the four oracle-exact text stats, weights frozen by
    # the generator.  keep ⇔ logit > 0 on both engines bit-for-bit.
    def quality_classifier_exact(spark, sf):
        from ..operators.classifier import quality_classifier_frozen
        from ..workload_shared import _docs
        return quality_classifier_frozen(_docs(spark, sf))

    _qw = FC.QUALITY_LR_WEIGHTS_I
    _QCL_SQL = rf"""WITH q AS (
          SELECT doc_id,
            CAST(len(regexp_split_to_array(trim(text), '\s+'))
                 AS BIGINT) AS n_tokens,
            CAST(greatest(length(text), 1) AS BIGINT) AS n_chars,
            CAST(len(regexp_extract_all(lower(text),
              '\b(the|and|of|to|in|is)\b')) AS BIGINT) AS stop_hits,
            CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                 AS BIGINT) AS punct
          FROM documents)
        SELECT doc_id,
          CAST(({_qw[0]}) * n_tokens + ({_qw[1]}) * n_chars
             + ({_qw[2]}) * stop_hits + ({_qw[3]}) * punct
             + ({FC.QUALITY_LR_BIAS_I}) AS BIGINT) AS logit_u,
          CASE WHEN ({_qw[0]}) * n_tokens + ({_qw[1]}) * n_chars
                  + ({_qw[2]}) * stop_hits + ({_qw[3]}) * punct
                  + ({FC.QUALITY_LR_BIAS_I}) > 0
               THEN 1 ELSE 0 END AS keep
        FROM q"""

    add("docs_quality_classifier_exact", quality_classifier_exact,
        _QCL_SQL)

"""Corpus-level token statistics entries: top tokens, vocabulary build
and coverage, token familiarity, count-min token frequencies (overall
and per language) and PMI collocations.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import text as TX
from ..operators.fixedlog import ladder_sql
from ..operators.sketches import CMS_SALTS, cms_slot_sql
from ..workload_shared import _docs


# Fixed-op ln oracle ladder for PMI (libm-free; operators/fixedlog.py).
_PMI_LADDER = ladder_sql(
    "SELECT p.w1, p.w2, p.c_xy, nt.n AS ntn, nb.n AS nbn, "
    "cx.c AS cxc, cy.c AS cyc FROM p "
    "JOIN cu cx ON p.w1 = cx.w JOIN cu cy ON p.w2 = cy.w "
    "CROSS JOIN nt CROSS JOIN nb",
    lns=[("c_xy", "l_xy"), ("ntn", "l_nt"), ("nbn", "l_nb"),
         ("cxc", "l_cx"), ("cyc", "l_cy")])


def register(add) -> None:
    add("docs_top_tokens",
        lambda spark, sf: TX.top_tokens(_docs(spark, sf), k=20),
        r"""WITH toks AS (
          SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS token
          FROM documents),
        counts AS (
          SELECT token, COUNT(*) AS n FROM toks
          WHERE token <> '' GROUP BY token)
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INTEGER)
                 AS rank, token, n
        FROM counts
        ORDER BY n DESC, token
        LIMIT 20""")

    add("docs_token_familiarity",
        lambda spark, sf: TX.token_familiarity(_docs(spark, sf)),
        r"""WITH toks AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                   AS token
          FROM documents),
        vocab AS (
          SELECT token, COUNT(*) AS tok_freq FROM toks GROUP BY token)
        SELECT doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(tok_freq) AS BIGINT) AS familiarity_sum
        FROM toks JOIN vocab USING (token)
        GROUP BY doc_id""")

    # frequency vocabulary with deterministic ids (count desc, token) —
    # TakeOrderedAndProject, never a full-vocab sort
    add("docs_vocab_build",
        lambda spark, sf: TX.build_vocab(_docs(spark, sf), max_size=500,
                                         min_count=2),
        r"""WITH toks AS (
          SELECT unnest(regexp_split_to_array(trim(lower(text)),
                 '\s+')) AS token
          FROM documents),
        counts AS (
          SELECT token, COUNT(*) AS n FROM toks
          WHERE token <> '' GROUP BY 1 HAVING COUNT(*) >= 2)
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) - 1
                    AS BIGINT) AS token_id,
               token, CAST(n AS BIGINT) AS n
        FROM counts ORDER BY n DESC, token LIMIT 500""")

    # tokenizer-prep vocab coverage: per-doc OOV mass against the
    # top-30 corpus vocabulary, exact integers
    add("docs_vocab_coverage",
        lambda spark, sf: TX.vocab_coverage(_docs(spark, sf),
                                            vocab_size=30),
        r"""WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(
            trim(lower(text)), '\s+')) AS token
          FROM documents),
        ne AS (SELECT * FROM toks WHERE token <> ''),
        vocab AS (
          SELECT token FROM ne GROUP BY token
          ORDER BY COUNT(*) DESC, token LIMIT 30)
        SELECT doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(SUM(CASE WHEN token NOT IN (SELECT token FROM vocab)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        FROM ne GROUP BY doc_id""")

    # count-min sketch frequency estimates for a fixed probe set —
    # unlike HLL, the md5-salted CMS is reproducible by the oracle, so
    # counters AND estimates are value-exact (the approximation is in
    # the one-sided >=truth guarantee, not in any nondeterminism).
    _CMS_W = 256
    # "zz-absent-zz" is (deliberately) not a corpus token: it pins the
    # probe-preserving semantics — an uninserted probe must report
    # freq_est = 0 (min over all depths with absent slots counting 0),
    # not vanish from the output.
    _CMS_PROBES = ("table", "value", "row", "key", "fast",
                   "merge", "scan", "sort", "zz-absent-zz")

    def _cms_token_freq(spark, sf):
        from ..operators import sketches as SK
        toks = (_docs(spark, sf).select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
             .alias("token"))
            .filter(F.col("token") != ""))
        counters = SK.cms_counters(toks, "token", width=_CMS_W)
        probes = spark.createDataFrame([(t,) for t in _CMS_PROBES],
                                       "token string")
        return SK.cms_estimate(counters, probes, "token", width=_CMS_W)

    _cnt_union = "\n          UNION ALL ".join(
        f"SELECT {d} AS depth, {cms_slot_sql('tok', salt, _CMS_W)} AS slot,"
        f" CAST(COUNT(*) AS BIGINT) AS counter FROM toks GROUP BY 1, 2"
        for d, salt in enumerate(CMS_SALTS))
    _probe_union = "\n          UNION ALL ".join(
        f"SELECT token, {d} AS depth,"
        f" {cms_slot_sql('token', salt, _CMS_W)} AS slot FROM probes"
        for d, salt in enumerate(CMS_SALTS))
    _probe_values = ", ".join(f"('{t}')" for t in _CMS_PROBES)

    add("docs_cms_token_freq", _cms_token_freq,
        rf"""WITH tok0 AS (
          SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
            AS tok
          FROM documents),
        toks AS (SELECT tok FROM tok0 WHERE tok != ''),
        probes(token) AS (VALUES {_probe_values}),
        cnt AS ({_cnt_union}),
        ps AS ({_probe_union})
        SELECT ps.token,
               CAST(MIN(COALESCE(cnt.counter, 0)) AS BIGINT) AS freq_est
        FROM ps LEFT JOIN cnt
          ON cnt.depth = ps.depth AND cnt.slot = ps.slot
        GROUP BY ps.token""")

    # GROUPED count-min sketch (round 8: cms_estimate group_cols path,
    # the ADVICE-r7 fix): one counter table per language, per-(lang,
    # token) estimates, probe side preserved — a language where a probe
    # token never occurs reports freq_est = 0 instead of vanishing or
    # min-ing across languages.
    _W = 256
    _PROBES = ("table", "value", "row", "zz-absent-zz")

    def _cms_by_lang(spark, sf):
        from ..operators import sketches as SK
        docs = _docs(spark, sf)
        toks = (docs.select(
            "lang",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
             .alias("token"))
            .filter(F.col("token") != ""))
        counters = SK.cms_counters(toks, "token", width=_W,
                                   group_cols=["lang"])
        # bounded metadata: collect the distinct langs ONCE instead of
        # riding a langs subquery into each of the 4 probe-union
        # branches (plan-audited: that shape rescanned the lang column
        # 4x through BroadcastNestedLoopJoins)
        langs = sorted(r["lang"]
                       for r in docs.select("lang").distinct().collect())
        probes = spark.createDataFrame(
            [(lg, t) for lg in langs for t in _PROBES],
            "lang string, token string")
        return SK.cms_estimate(counters, probes, "token", width=_W,
                               group_cols=["lang"])

    cnt_union = "\n          UNION ALL ".join(
        f"SELECT lang, {d} AS depth, "
        f"{cms_slot_sql('tok', salt, _W)} AS slot,"
        f" CAST(COUNT(*) AS BIGINT) AS counter FROM toks GROUP BY 1, 2, 3"
        for d, salt in enumerate(CMS_SALTS))
    probe_union = "\n          UNION ALL ".join(
        f"SELECT lang, token, {d} AS depth,"
        f" {cms_slot_sql('token', salt, _W)} AS slot FROM probes"
        for d, salt in enumerate(CMS_SALTS))
    probe_values = ", ".join(f"('{t}')" for t in _PROBES)

    add("docs_cms_token_freq_by_lang", _cms_by_lang,
        rf"""WITH tok0 AS (
          SELECT lang,
                 unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                   AS tok
          FROM documents),
        toks AS (SELECT lang, tok FROM tok0 WHERE tok != ''),
        pv(token) AS (VALUES {probe_values}),
        probes AS (
          SELECT DISTINCT d.lang, pv.token FROM documents d, pv),
        cnt AS ({cnt_union}),
        ps AS ({probe_union})
        SELECT ps.lang, ps.token,
               CAST(MIN(COALESCE(cnt.counter, 0)) AS BIGINT) AS freq_est
        FROM ps LEFT JOIN cnt
          ON cnt.lang = ps.lang AND cnt.depth = ps.depth
             AND cnt.slot = ps.slot
        GROUP BY ps.lang, ps.token""")

    # PMI collocations: top-k adjacent-token pairs
    # by pointwise mutual information — multi-word-expression mining
    # for vocab/tokenizer construction.  PMI decomposes into ln's of
    # integer counts, each frozen via the host-libm lookup discipline
    # (operators/fixedlog.py — libm-free), so the scores are
    # engine-exact on ANY host; the oracle runs the identical
    # fixed-op ladder per term before the same ROUND(l*1e6) freeze.
    add("docs_token_pmi_top",
        lambda spark, sf: TX.token_pmi_top(_docs(spark, sf)),
        rf"""WITH tok AS (
          SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        uni AS (
          SELECT w FROM (SELECT unnest(t) AS w FROM tok) WHERE w != ''),
        bg AS (
          SELECT unnest(list_transform(
                   list_zip(t[1:len(t) - 1], t[2:]),
                   p -> p[1] || ' ' || p[2])) AS bg
          FROM tok),
        cu AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
        cb AS (SELECT bg, COUNT(*) AS c_xy FROM bg GROUP BY bg),
        nt AS (SELECT SUM(c) AS n FROM cu),
        nb AS (SELECT SUM(c_xy) AS n FROM cb),
        p AS (
          SELECT bg, c_xy,
                 string_split(bg, ' ')[1] AS w1,
                 string_split(bg, ' ')[2] AS w2
          FROM cb WHERE c_xy >= 5)
        SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy,
               CAST(ROUND(l_xy * 1e6) AS BIGINT)
               + 2 * CAST(ROUND(l_nt * 1e6) AS BIGINT)
               - CAST(ROUND(l_nb * 1e6) AS BIGINT)
               - CAST(ROUND(l_cx * 1e6) AS BIGINT)
               - CAST(ROUND(l_cy * 1e6) AS BIGINT) AS pmi_micro
        FROM ({_PMI_LADDER})
        ORDER BY pmi_micro DESC, w1, w2 LIMIT 50""")

"""Source-level corpus governance entries: mixing rates, importance
resampling (DSIR), token budgets, per-source distances and capped
corpora, and PageRank over the source graph.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import prefix as P
from ..operators import sampling as SM
from ..operators import text as TX
from ..operators.fixedlog import ladder_sql
from ..operators.sampling import hash_bucket_sql
from ..workload_shared import _docs


# Fixed-op ln oracle ladders (libm-free; operators/fixedlog.py) —
# built once at import, interpolated into the oracle SQL below.  The
# round-8 driver proved libm-backed ln() diverges across DuckDB
# builds; these ladders make oracle and engine evaluate the identical
# IEEE-double op sequence.
_LLR_LADDER = ladder_sql(
    "SELECT * FROM corpus, tot",
    lns=[("ct + 1", "l1"), ("tt + 1024", "l2"),
         ("cr + 1", "l3"), ("tr + 1024", "l4")])

_GUMBEL_BUCKET = ("TRY_CAST(concat('0x', substr(md5(concat(CAST(doc_id AS "
                  "VARCHAR), ':dsir-gumbel-v1')), 1, 15)) AS BIGINT) % 10000")

_GUMBEL_LADDER = ladder_sql(
    "SELECT doc_id, weight_micro, (CAST(" + _GUMBEL_BUCKET +
    " AS DOUBLE) + 0.5e0) / 10000.0e0 AS u FROM base",
    lns=[("u", "l1"), ("0.0e0 - l1", "l2")])

# Fixed-op pow(x, 0.7) = exp(0.7*ln(x)) oracle ladder (libm-free;
# operators/fixedlog.py — libm pow diverges across DuckDB builds).
_TEMP_LADDER = ladder_sql(
    "SELECT source, n_docs, n_tokens FROM per_src",
    lns=[("n_tokens", "lnn")], exps=[("0.7e0 * lnn", "wexp")])

# Quality-score CTE shared with docs_token_budget_fill's oracle: the
# operator's published 4-decimal score, scaled to exact milli units.
_SCORED_CTE = r"""q AS (
      SELECT doc_id, source,
        len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        greatest(length(text), 1) AS n_chars,
        CAST(len(regexp_extract_all(lower(text),
          '\b(the|and|of|to|in|is)\b')) AS INTEGER) AS stop_hits,
        CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
             AS INTEGER) AS punct
      FROM documents),
    scored AS (
      SELECT doc_id, source, n_tokens,
        CAST(ROUND(ROUND((
          (CASE WHEN n_tokens >= 10 AND n_tokens <= 5000
                THEN 0.4 ELSE 0.0 END)
          + least(stop_hits / greatest(n_tokens, 1) * 2.0, 0.4)
          - least(punct / n_chars * 5.0, 0.2)
          + (CASE WHEN n_chars / greatest(n_tokens, 1) >= 3.0
                   AND n_chars / greatest(n_tokens, 1) <= 12.0
                  THEN 0.2 ELSE 0.0 END)), 4) * 1000)
          AS BIGINT) AS score_milli
      FROM q)"""

_PR_SCALE = 1_000_000_000

_PR_DAMP = 85

_PR_ITERS = 5


def _pagerank_oracle(seed_ctes: str = "", seeded: bool = False) -> str:
    """Chained-CTE mirror of graph.weighted_pagerank over the shared-
    shingle source graph: pr0 .. pr{iters} unrolled, every op exact
    integer (``//`` == Spark ``div`` — all quantities non-negative).

    ``seeded=True`` emits the PERSONALIZED variant: ``seed_ctes`` must
    define a ``seeds(source)`` CTE; the node table gains a 0/1 ``tp``
    flag, ``n`` becomes |seeds|, and both teleport terms multiply by
    the flag — the mirror of ``weighted_pagerank(teleport=...)``."""
    base = f"((CAST({_PR_SCALE} AS BIGINT) * {100 - _PR_DAMP}) // 100) // n"
    t0 = "tp * " if seeded else ""
    tk = "nodes.tp * " if seeded else ""
    nodes_cte = ("""nodes AS (
      SELECT source AS node,
             CASE WHEN source IN (SELECT source FROM seeds)
                  THEN 1 ELSE 0 END AS tp
      FROM (SELECT DISTINCT source FROM documents))""" if seeded else
                 "nodes AS (SELECT DISTINCT source AS node FROM documents)")
    nn_cte = ("nn AS (SELECT CAST(SUM(tp) AS BIGINT) AS n FROM nodes)"
              if seeded else
              "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)")
    ctes = [f"""pr0 AS (
      SELECT node, {t0}(CAST({_PR_SCALE} AS BIGINT) // n) AS pr
      FROM nodes CROSS JOIN nn)"""]
    for i in range(1, _PR_ITERS + 1):
        ctes.append(f"""pr{i} AS (
      SELECT nodes.node,
             {tk}({base}) + ({_PR_DAMP} * COALESCE(s.m, CAST(0 AS BIGINT)))
                      // 100 AS pr
      FROM nodes CROSS JOIN nn
      LEFT JOIN (
        SELECT e.v, CAST(SUM((p.pr * e.w) // wt.wt) AS BIGINT) AS m
        FROM pr{i - 1} p
        JOIN e ON p.node = e.u
        JOIN wout wt ON e.u = wt.u
        GROUP BY e.v) s ON nodes.node = s.v)""")
    chain = ",\n    ".join(([seed_ctes] if seed_ctes else [])
                           + [nodes_cte, nn_cte] + ctes)
    return rf"""WITH toks AS (
      SELECT doc_id, source,
             regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents),
    sh AS (
      SELECT DISTINCT source,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 1)),
               i -> array_to_string(t[i:i+2], ' ')))) AS shingle
      FROM toks),
    keep AS (
      SELECT shingle
      FROM (SELECT shingle, COUNT(*) AS ns FROM sh GROUP BY 1)
      WHERE ns BETWEEN 2 AND 8),
    p AS (
      SELECT a.source AS u, b.source AS v, CAST(COUNT(*) AS BIGINT) AS w
      FROM sh a
      JOIN keep USING (shingle)
      JOIN sh b USING (shingle)
      WHERE a.source < b.source
      GROUP BY 1, 2),
    e AS (SELECT u, v, w FROM p UNION ALL SELECT v, u, w FROM p),
    wout AS (SELECT u, CAST(SUM(w) AS BIGINT) AS wt FROM e GROUP BY 1),
    {chain}
    SELECT node AS source, pr AS pr_ppb FROM pr{_PR_ITERS}"""


_SEED_CTES = r"""ctoks AS (
      SELECT doc_id, source, {CB} AS b,
             regexp_split_to_array(trim(lower(text)), '\s+') AS ct
      FROM documents),
    csh AS (
      SELECT doc_id, source, b,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(ct) - 2, 1)),
               i -> array_to_string(ct[i:i+2], ' ')))) AS shingle
      FROM ctoks),
    cvocab AS (SELECT DISTINCT shingle FROM csh WHERE b >= 1000),
    contam AS (
      SELECT s.source,
             CAST(SUM(CASE WHEN v.shingle IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS c
      FROM csh s LEFT JOIN cvocab v ON s.shingle = v.shingle
      WHERE s.b < 1000
      GROUP BY s.source),
    seeds AS (SELECT source FROM contam ORDER BY c DESC, source LIMIT 5)"""


def register(add) -> None:
    def mixing(spark, sf):
        return D.mix_corpus(_docs(spark, sf),
                            {"src0": 0.6, "src1": 0.3, "src2": 0.1},
                            token_budget=20_000) \
            .select("doc_id", "source")

    _MB = SM.hash_bucket_sql("doc_id", "mix-v1")

    # budgeted domain mixing: per-source rate = budget*weight/source_tokens
    # derived in-plan, keep decision by the deterministic id hash
    add("docs_mix_corpus", mixing,
        rf"""WITH ntok AS (
          SELECT doc_id, source,
                 length(regexp_split_to_array(trim(text), '\s+')) AS n_tok
          FROM documents),
        totals AS (
          SELECT source, SUM(n_tok) AS stok FROM ntok GROUP BY source),
        rates AS (
          SELECT source,
                 LEAST(10000, CAST(FLOOR(20000.0 *
                   CASE source WHEN 'src0' THEN 0.6 WHEN 'src1' THEN 0.3
                        WHEN 'src2' THEN 0.1 ELSE 0.0 END
                   * 10000 / stok) AS BIGINT)) AS rate_b
          FROM totals)
        SELECT d.doc_id, d.source
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE {_MB} < r.rate_b""")

    # "the best 20k tokens": greedy quality-ordered prefix under a hard
    # token budget; integer milli scores make the boundary engine-exact
    def _budget_fill(spark, sf):
        qs = TX.quality_score(_docs(spark, sf))
        scored = qs.select(
            "doc_id", "n_tokens",
            F.round(F.col("quality_score") * 1000).cast("bigint")
             .alias("score_milli"))
        return SM.token_budget_fill(scored, budget_tokens=20_000)

    add("docs_token_budget_fill", _budget_fill,
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
          -- two-stage rounding mirrors the Spark side exactly: the
          -- quality score is rounded to 4 decimals FIRST (that is the
          -- operator's published value), then scaled to milli
          SELECT doc_id, n_tokens,
            CAST(ROUND(ROUND((
              (CASE WHEN n_tokens >= 10 AND n_tokens <= 5000
                    THEN 0.4 ELSE 0.0 END)
              + least(stop_hits / greatest(n_tokens, 1) * 2.0, 0.4)
              - least(punct / n_chars * 5.0, 0.2)
              + (CASE WHEN n_chars / greatest(n_tokens, 1) >= 3.0
                       AND n_chars / greatest(n_tokens, 1) <= 12.0
                      THEN 0.2 ELSE 0.0 END)), 4) * 1000)
              AS BIGINT) AS score_milli
          FROM q),
        cum AS (
          SELECT *, SUM(n_tokens) OVER (ORDER BY score_milli DESC,
                                        doc_id) AS cum_tokens
          FROM scored)
        SELECT doc_id, n_tokens, score_milli,
               CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM cum WHERE cum_tokens <= 20000""")

    # corpus composition: shared CTE chain for the distribution-shift and
    # distinctive-terms diagnostics (exact cross-multiplied integers —
    # HUGEINT on the DuckDB side mirrors Spark's DECIMAL(19,0) lane)
    _JOINT_SQL = r"""WITH toks AS (
          SELECT source, unnest(regexp_split_to_array(
            trim(lower(text)), '\s+')) AS token
          FROM documents),
        ne AS (SELECT * FROM toks WHERE token <> ''),
        per AS (SELECT source, token, CAST(COUNT(*) AS HUGEINT) AS c
                FROM ne GROUP BY 1, 2),
        corpus AS (SELECT token, SUM(c) AS ct FROM per GROUP BY 1),
        src AS (SELECT source, SUM(c) AS ts FROM per GROUP BY 1),
        tot AS (SELECT SUM(ct) AS t FROM corpus),
        j AS (SELECT p.source, p.token, p.c, co.ct, s.ts, tot.t
              FROM per p JOIN corpus co USING (token)
              JOIN src s USING (source), tot)"""

    add("docs_source_tv_distance",
        lambda spark, sf: TX.source_tv_distance(_docs(spark, sf)),
        _JOINT_SQL + """,
        agg AS (SELECT source, SUM(abs(c*t - ct*ts)) AS abs_part,
                       SUM(ct) AS cov, any_value(ts) AS ts,
                       any_value(t) AS t
                FROM j GROUP BY source)
        SELECT source, CAST(ts AS BIGINT) AS n_tokens,
               CAST((500 * (abs_part + ts*(t - cov))) // (ts * t)
                    AS BIGINT) AS tv_milli
        FROM agg""")

    add("docs_distinctive_terms",
        lambda spark, sf: TX.distinctive_terms(_docs(spark, sf),
                                               top_n=5, min_count=5),
        _JOINT_SQL + """,
        lift AS (SELECT source, token, c,
                        CAST((c * t * 1000000) // (ct * ts) AS BIGINT)
                          AS lift_ppm
                 FROM j WHERE c >= 5),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY lift_ppm DESC, token ASC) AS rn FROM lift)
        SELECT source, token, CAST(c AS BIGINT) AS n, lift_ppm,
               CAST(rn AS INTEGER) AS rn
        FROM r WHERE rn <= 5""")

    # DSIR data selection (hashed-ngram importance weights): per-bucket
    # log-likelihood ratios frozen to integer micro-units once per
    # corpus, so each doc's weight is exact integer arithmetic — the
    # single ln happens n_buckets times, never per document, keeping the
    # cross-engine comparison bit-exact.  DuckDB SUM(BIGINT) → HUGEINT,
    # hence the final CASTs (the r4 anomalies lesson).
    add("docs_dsir_weights",
        lambda spark, sf: SM.dsir_importance_weights(
            _docs(spark, sf), F.col("source") == "src0"),
        rf"""WITH d AS (
          SELECT doc_id, source = 'src0' AS is_target,
                 regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents),
        f AS (
          SELECT doc_id, is_target, unnest(list_concat(t,
                   list_transform(
                     generate_series(1, greatest(len(t) - 1, 0)),
                     i -> concat(t[i], ' ', t[i+1])))) AS feat
          FROM d),
        b AS (
          SELECT doc_id, is_target,
                 TRY_CAST(concat('0x', substr(md5(concat('f:', feat)),
                   1, 15)) AS BIGINT) % 1024 AS bucket
          FROM f),
        dc AS (SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
        corpus AS (
          SELECT bucket, COUNT(*) AS cr,
                 SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
          FROM b GROUP BY 1),
        tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM corpus),
        llr AS (
          SELECT bucket, CAST(ROUND((((l1 - l2) - l3) + l4) * 1e6)
                   AS BIGINT) AS llr_micro
          FROM ({_LLR_LADDER}))
        SELECT dc.doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
               CAST(SUM(c * llr_micro) AS BIGINT) AS weight_micro
        FROM dc JOIN llr USING (bucket)
        GROUP BY 1""")

    # the selection half of DSIR: top-k docs by importance weight,
    # deterministic ties by id (TakeOrderedAndProject — no global sort)
    add("docs_dsir_top_docs",
        lambda spark, sf: SM.dsir_select_top_k(
            _docs(spark, sf), F.col("source") == "src0", k=50),
        rf"""WITH base AS (WITH d AS (
            SELECT doc_id, source = 'src0' AS is_target,
                   regexp_split_to_array(trim(lower(text)), '\s+') AS t
            FROM documents),
          f AS (
            SELECT doc_id, is_target, unnest(list_concat(t,
                     list_transform(
                       generate_series(1, greatest(len(t) - 1, 0)),
                       i -> concat(t[i], ' ', t[i+1])))) AS feat
            FROM d),
          b AS (
            SELECT doc_id, is_target,
                   TRY_CAST(concat('0x', substr(md5(concat('f:', feat)),
                     1, 15)) AS BIGINT) % 1024 AS bucket
            FROM f),
          dc AS (SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
          corpus AS (
            SELECT bucket, COUNT(*) AS cr,
                   SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
            FROM b GROUP BY 1),
          tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM corpus),
          llr AS (
            SELECT bucket, CAST(ROUND((((l1 - l2) - l3) + l4) * 1e6)
                     AS BIGINT) AS llr_micro
            FROM ({_LLR_LADDER}))
          SELECT dc.doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
                 CAST(SUM(c * llr_micro) AS BIGINT) AS weight_micro
          FROM dc JOIN llr USING (bucket)
          GROUP BY 1
          )
        SELECT CAST(ROW_NUMBER() OVER (
                 ORDER BY weight_micro DESC, doc_id) AS INTEGER) AS rank,
               doc_id, n_feats, weight_micro
        FROM base
        ORDER BY weight_micro DESC, doc_id
        LIMIT 50""")

    # stochastic DSIR via Gumbel-top-k with a DETERMINISTIC noise
    # source (md5-bucket uniform -> -ln(-ln(u))), integer micro-units
    # before comparison — reproducible resampling any engine replays
    add("docs_dsir_gumbel_sample",
        lambda spark, sf: SM.dsir_gumbel_sample(
            _docs(spark, sf), F.col("source") == "src0", k=50),
        rf"""WITH base AS (WITH d AS (
            SELECT doc_id, source = 'src0' AS is_target,
                   regexp_split_to_array(trim(lower(text)), '\s+') AS t
            FROM documents),
          f AS (
            SELECT doc_id, is_target, unnest(list_concat(t,
                     list_transform(
                       generate_series(1, greatest(len(t) - 1, 0)),
                       i -> concat(t[i], ' ', t[i+1])))) AS feat
            FROM d),
          b AS (
            SELECT doc_id, is_target,
                   TRY_CAST(concat('0x', substr(md5(concat('f:', feat)),
                     1, 15)) AS BIGINT) % 1024 AS bucket
            FROM f),
          dc AS (SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2),
          corpus AS (
            SELECT bucket, COUNT(*) AS cr,
                   SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
            FROM b GROUP BY 1),
          tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM corpus),
          llr AS (
            SELECT bucket, CAST(ROUND((((l1 - l2) - l3) + l4) * 1e6)
                     AS BIGINT) AS llr_micro
            FROM ({_LLR_LADDER}))
          SELECT dc.doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
                 CAST(SUM(c * llr_micro) AS BIGINT) AS weight_micro
          FROM dc JOIN llr USING (bucket)
          GROUP BY 1
          ),
        keyed AS (
          SELECT doc_id, weight_micro,
                 CAST(ROUND(weight_micro / 1.0) AS BIGINT)
                 + CAST(ROUND((0.0e0 - l2) * 1e6) AS BIGINT) AS key_micro
          FROM ({_GUMBEL_LADDER}))
        SELECT CAST(ROW_NUMBER() OVER (
                 ORDER BY key_micro DESC, doc_id) AS INTEGER) AS rank,
               doc_id, weight_micro, key_micro
        FROM keyed
        ORDER BY key_micro DESC, doc_id
        LIMIT 50""")

    # temperature re-weighted source mixing rates (weight ∝ n_tokens^T):
    # one bounded-domain aggregation + broadcast scalar normalizer.
    # n_tokens^T = fxexp(T·fxln(n)) via the fixed-op ladder, frozen to
    # weight_micro BEFORE the sum so the normalizer is an
    # order-independent integer
    add("docs_temperature_mix_rates",
        lambda spark, sf: SM.temperature_mix_rates(_docs(spark, sf),
                                                   temperature=0.7),
        rf"""WITH per_src AS (
          SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(len(regexp_split_to_array(trim(text), '\s+')))
                      AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        w AS (
          SELECT source, n_docs, n_tokens,
                 CAST(ROUND(wexp * 1e6) AS BIGINT) AS weight_micro
          FROM ({_TEMP_LADDER})),
        tot AS (SELECT CAST(SUM(weight_micro) AS BIGINT) AS wsum FROM w)
        SELECT source, n_docs, n_tokens, weight_micro,
               CAST((weight_micro * 1000000) // wsum AS BIGINT)
                 AS mix_rate_ppm
        FROM w, tot""")

    # domain balancing: cap every source at 5k tokens, keeping its
    # best-scoring documents — per-group prefix under a running token
    # total, same boundary rule as docs_token_budget_fill but windowed
    # inside the group (no global sort, no per-group full sort)
    def _source_cap(spark, sf):
        qs = TX.quality_score(_docs(spark, sf))
        docs = _docs(spark, sf).select("doc_id", "source")
        scored = (qs.select(
            "doc_id", "n_tokens",
            F.round(F.col("quality_score") * 1000).cast("bigint")
             .alias("score_milli"))
            .join(docs, "doc_id")
            .select("doc_id", "source", "n_tokens", "score_milli"))
        return SM.grouped_token_cap(scored, cap_tokens=5_000,
                                    group_col="source")

    add("docs_source_capped_corpus", _source_cap,
        f"""WITH {_SCORED_CTE},
        cum AS (
          SELECT *, SUM(n_tokens) OVER (PARTITION BY source
                      ORDER BY score_milli DESC, doc_id) AS cum_tokens
          FROM scored)
        SELECT doc_id, source, n_tokens, score_milli,
               CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM cum WHERE cum_tokens <= 5000""")

    # PER-KEY prefix milestones: per-source cumulative token budgets
    # over doc_id ingestion order.  With FEW HUGE keys (a corpus has a
    # handful of sources, each arbitrarily large) the plain
    # Window.partitionBy(source) answer is the same single-task trap
    # one key at a time — the keyed two-phase form partitions every
    # phase by (source, bucket) instead.  Token count = the
    # docs_token_stats whitespace convention.  step=100 is scaled to
    # the gate fixtures (~1.1-1.6k tokens per source => ~12-16
    # crossings each); the r10 step=5000 never produced a row at any
    # gate SF, so the oracle only ever compared EMPTY outputs
    # (VERDICT r10 "vacuously green").
    def source_token_milestones(spark, sf):
        from ..workload_shared import _docs
        df = _docs(spark, sf).select(
            "doc_id", "source",
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
            .cast("long").alias("n_tokens"),
            F.expr("doc_id div 100").alias("db"))
        return P.running_milestones(
            df, "db", ["doc_id"], "n_tokens", step=100,
            id_cols=["doc_id"], key_cols=["source"])

    add("docs_source_token_milestones", source_token_milestones,
        r"""WITH v AS (
          SELECT doc_id, source,
                 CAST(len(regexp_split_to_array(trim(text), '\s+'))
                      AS BIGINT) AS n_tokens
          FROM documents),
        r AS (
          SELECT doc_id, source, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY source
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS running
          FROM v)
        SELECT source, doc_id,
               CAST(running // 100 AS BIGINT) AS milestone,
               CAST(running // 100
                    - (running - n_tokens) // 100 AS BIGINT)
                 AS n_crossed,
               CAST(running AS BIGINT) AS running
        FROM r
        WHERE running // 100 > (running - n_tokens) // 100""")

    def source_pagerank(spark, sf):
        from ..operators import graph as G
        docs = _docs(spark, sf)
        edges = G.shared_shingle_group_edges(docs, n=3, max_groups=8)
        nodes = docs.select(F.col("source").alias("node")).distinct()
        return (G.weighted_pagerank(edges, nodes, iters=_PR_ITERS,
                                    damping_pct=_PR_DAMP,
                                    scale=_PR_SCALE)
                .select(F.col("node").alias("source"), "pr_ppb"))

    add("docs_source_pagerank", source_pagerank, _pagerank_oracle())

    def interleave(spark, sf):
        from ..operators import sampling as SM
        return SM.interleave_sources(_docs(spark, sf))

    add("docs_interleave_sources", interleave, """WITH r AS (
      SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY doc_id) AS BIGINT) AS source_rank
      FROM documents)
    SELECT doc_id, source, source_rank,
           CAST(ROW_NUMBER() OVER (ORDER BY source_rank, source, doc_id)
                AS BIGINT) AS global_pos
    FROM r""")

    def allocation(spark, sf):
        from ..operators import sampling as SM
        return SM.budget_allocation(_docs(spark, sf), k=10_000)

    add("docs_budget_allocation", allocation, """WITH per AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS w
      FROM documents GROUP BY 1),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM per),
    j AS (
      SELECT source, w,
             (CAST(10000 AS BIGINT) * w) // tw AS base,
             (CAST(10000 AS BIGINT) * w) % tw AS rem
      FROM per CROSS JOIN tot),
    res AS (SELECT CAST(10000 - SUM(base) AS BIGINT) AS resid FROM j),
    rr AS (
      SELECT j.*, CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source)
                       AS BIGINT) AS _rr
      FROM j)
    SELECT source, w AS weight,
           CAST(base + CASE WHEN _rr <= resid THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM rr CROSS JOIN res""")

    # Personalized PageRank for contamination influence: teleport mass
    # lands ONLY on the 5 sources whose held-out docs carry the most
    # train-shingle collisions (the exact docs_contamination_check
    # counts, summed per source), so the stationary ranks answer the
    # audit question "which sources sit nearest the contamination in
    # the duplication graph".  Same unrolled exact-integer machinery
    # as docs_source_pagerank, |S| replacing N in both teleport terms.
    def contamination_pagerank(spark, sf):
        from ..operators import graph as G
        docs = _docs(spark, sf)
        seeds = G.contamination_seed_sources(docs, top_k=5)
        edges = G.shared_shingle_group_edges(docs, n=3, max_groups=8)
        nodes = docs.select(F.col("source").alias("node")).distinct()
        return (G.weighted_pagerank(edges, nodes, iters=_PR_ITERS,
                                    damping_pct=_PR_DAMP,
                                    scale=_PR_SCALE, teleport=seeds)
                .select(F.col("node").alias("source"), "pr_ppb"))

    add("docs_contamination_pagerank", contamination_pagerank,
        _pagerank_oracle(
            seed_ctes=_SEED_CTES.replace(
                "{CB}", hash_bucket_sql("doc_id", "contam-v1")),
            seeded=True))

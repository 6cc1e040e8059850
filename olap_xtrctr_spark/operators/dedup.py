"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design
------------
* Exact dedup is a hash groupBy (one shuffle on the dedup key).
* MinHash+LSH: shingle → per-doc minhash signature (explode + groupBy,
  map-side combinable mins) → band buckets → self-join *within buckets
  only* — the classic way to avoid the O(n²) crossjoin at 100 TB.
* All hash functions are seeded xxhash64 builtins — deterministic,
  JVM-side, no Python in the hot path.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, key_cols: list[str],
                order_col: str) -> DataFrame:
    """Keep the first row (by order_col) per duplicate group.  Window-based
    so the survivor choice is deterministic (dropDuplicates is not)."""
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))


def exact_dup_groups(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Duplicate-group summary: one row per distinct text with the keeper id
    and copy count (the auditable form of exact dedup)."""
    return (docs.groupBy(text_col)
                .agg(F.min(id_col).alias("keep_id"),
                     F.count(F.lit(1)).alias("copies"))
                .select(F.md5(F.encode(F.col(text_col), "UTF-8")).alias("text_hash"),
                        "keep_id", "copies"))


def shingle_docs(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", n: int = 3,
                 distinct: bool = True) -> DataFrame:
    """Word n-gram shingles from the lowercased text, one row per
    shingle.  Documents with fewer than ``n`` tokens contribute one
    whole-document shingle (matching the ANSI oracles' slice semantics).

    Built by posexploding the token array and concatenating ``lead``
    values over a (doc, pos) window — NOT by a higher-order
    ``transform`` building strings per array element: HOF lambdas that
    SLICE per element are O(n²) — the measured difference on a 260k-
    shingle corpus was 2.9 s vs 0.6 s (the pitfall the winnowing and
    Z-order paths hit; SCALE.md).

    Round 11: the window/posexplode/lead form is replaced by a LINEAR
    zip_with chain over shifted array slices — each position's shingle
    is built by n-1 element-wise concats, so the whole construction is
    one rowwise projection with ZERO shuffles (the old form paid a
    doc-keyed exchange for the lead window, a full-corpus shuffle
    before the consumer's own).  Measured at sf0.1: 0.46 s vs 1.33 s
    warm, byte-identical output (exceptAll both ways = 0) including
    the short-doc whole-document convention.

    ``distinct=True`` dedups per-(doc, shingle) via array_distinct
    INSIDE the row — shuffle-free, unlike the old global distinct()
    (a (doc, shingle) pair can only repeat within its own doc).

    r14 gram-kernel sweep result (guide §1 measure-first, recorded so
    later rounds don't redo it): routing THIS function through the
    Arrow gram kernel was A/B'd on the real entries and LOST —
    docs_ngram_novelty 1.71 -> 2.02 s, docs_contamination_check
    0.51 -> 0.83 s, docs_containment_pairs_prefix 9.9 -> 12.1 s
    (393a7ba:scripts/gram_sweep_probe.py, alternating passes).  The r13
    pair-core kernel win was the 1:1 replacement of the chain inside a
    SINGLE pass feeding one aggregate; shingle_docs consumers either
    re-evaluate the gram subtree per consumer (novelty's first-owner
    join-back, contamination's two sides) or materialize every gram
    row into a cache pin (prefix), and each re-evaluation /
    materialization re-pays the Python boundary the JVM chain doesn't
    have.  So the zip_with chain stays for BOTH distinct modes (the
    distinct=False minhash case lost its own A/B in r13,
    0.99 -> 1.16 s)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    d = docs.select(F.col(id_col), toks.alias("_t"))
    expr = gram_zip_expr("_t", n, short="whole", distinct=distinct)
    return d.select(id_col, F.explode(F.expr(expr)).alias("shingle"))


def gram_zip_expr(arr: str, n: int, short: str = "empty",
                  distinct: bool = False) -> str:
    """SQL expr for the stride-1 word n-gram ARRAY of token-array
    column ``arr``, built as the linear zip_with chain (one rowwise
    projection; measured 4-6x faster than both the per-position
    transform+slice form and the lead-window form — see
    shingle_docs).  ``short`` picks the sub-n-token convention:
    'empty' (no grams) or 'whole' (one whole-document gram)."""
    width = f"(size({arr}) - {n - 1})"
    core = f"slice({arr}, 1, {width})"
    for j in range(2, n + 1):
        core = (f"zip_with({core}, slice({arr}, {j}, {width}), "
                f"(a, b) -> concat(a, ' ', b))")
    if distinct:
        core = f"array_distinct({core})"
    fallback = (f"array(array_join({arr}, ' '))" if short == "whole"
                else f"slice({arr}, 1, 0)")
    return f"CASE WHEN size({arr}) < {n} THEN {fallback} ELSE {core} END"


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       num_hashes: int = 32) -> DataFrame:
    """num_hashes-wide MinHash signature per doc: explode distinct shingles,
    take the per-hash-function minimum (map-side combinable — partial
    aggregation before the shuffle).  The hash family is two xxhash64
    evaluations combined affinely (h1 + i*h2, Kirsch-Mitzenmacher): same
    min-wise guarantees, 2 hashes per shingle instead of num_hashes.
    Shingles come through non-distinct — MIN is duplicate-insensitive,
    so the per-(doc, shingle) dedup shuffle would be pure waste."""
    ex = shingle_docs(docs, text_col, id_col, n, distinct=False)
    # mask to 48/32 bits so h1 + i*h2 stays overflow-free under ANSI mode
    h1 = F.xxhash64("shingle").bitwiseAND(F.lit(0xFFFFFFFFFFFF))
    h2 = F.xxhash64("shingle", F.lit(1)).bitwiseAND(F.lit(0xFFFFFFFF))
    ex = ex.select(id_col, h1.alias("_h1"), h2.alias("_h2"))
    mins = [F.min(F.col("_h1") + F.lit(i) * F.col("_h2")).alias(f"h{i}")
            for i in range(num_hashes)]
    return ex.groupBy(id_col).agg(*mins)


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      num_hashes: int = 32, bands: int = 8,
                      threshold: float = 0.5) -> DataFrame:
    """Candidate near-dup pairs via banded LSH, verified by signature
    similarity.  Join happens only inside (band, band_hash) buckets."""
    from ..session import track_persist
    # Round-13 rework (guide §4 py4j chatter, §5 cache-when-reused):
    #
    # 1. The signature is packed into ONE ARRAY<BIGINT> column right
    #    after the aggregate.  The old 32-BIGINT-column form built a
    #    ~7,000-round-trip py4j expression forest (64 aliased columns
    #    through two scoring joins, a 32-term comparison sum) measured
    #    at 1.1 s of plan-construction/analysis per bench pass — half
    #    the query's wall clock.  Band buckets extract ELEMENTS of the
    #    array, so every xxhash64 input is value-identical to the old
    #    per-column form and the emitted pairs are bit-identical
    #    (verified by exceptAll at sf0.001/0.01/0.1,
    #    094431e:scripts/minhash_variants_probe.py).
    # 2. The signature table is persisted (tracked): it feeds FOUR
    #    subtree copies (both bucket-join sides + both scoring rejoins)
    #    and the old plan re-shingled and re-aggregated the corpus four
    #    times per run.  One row of (id, 32xBIGINT) is ~264 B — at 1 B
    #    docs that's a ~264 GB cluster-wide MEMORY_AND_DISK cache vs
    #    re-exploding the full token stream three more times; locally
    #    it is also the measured winner.  (History: round 4 measured
    #    localCheckpoint 30% SLOWER — the materialize/read cycle, not
    #    persistence itself, was the cost; round 5's banded-table
    #    persist was noise because the banded table is cheap to rebuild
    #    FROM a signature — persisting the signature is what removes
    #    the shingle recompute.)  Request-scoped hosts release the pin
    #    via session.release_tracked_caches(); bench.py does so after
    #    each timed pass, so no pass rides a previous pass's cache.
    sig = minhash_signatures(docs, text_col, id_col, n, num_hashes)
    sig = track_persist(sig.select(
        id_col, F.array(*[f"h{i}" for i in range(num_hashes)]).alias("_sig")))
    rows_per_band = num_hashes // bands
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.col("_sig")[b * rows_per_band + i]
                              for i in range(rows_per_band)])
                 .alias("bucket"))
        for b in range(bands)]
    # the bucket self-join and the pair dedup run on the SLIM
    # (id, band, bucket) projection — carrying the signature through
    # both join sides and the dropDuplicates measured 2x slower on a
    # dup-heavy corpus (the shuffles move the wide rows, and every
    # band-collision duplicate re-ships the whole signature).
    # Signatures rejoin ONCE per side after the dedup, and on a
    # candidate set that AQE broadcasts.
    banded = sig.select(
        id_col, F.explode(F.array(*band_cols)).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")

    cand = (banded.alias("a")
            .join(banded.alias("b"),
                  (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.bucket") == F.col("b.bucket"))
                  & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("_sig").alias("_sa"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("_sig").alias("_sb"))
    scored = cand.join(sa, "id_a").join(sb, "id_b")
    # positionwise signature agreement; size(filter(...)) is INT like
    # the old 32-term sum of int casts, so sim's double division — and
    # every emitted value — is unchanged
    sim = (F.size(F.filter(F.zip_with("_sa", "_sb", lambda x, y: x == y),
                           lambda v: v))
           / num_hashes)
    # Threshold on the unrounded estimate (consistent with the exact
    # pair ops); the rounded value is only the reported column.
    return (scored.filter(sim >= threshold)
                  .withColumn("est_jaccard", F.round(sim, 4))
                  .select("id_a", "id_b", "est_jaccard"))


def _simhash_kernel(docs: DataFrame, text_col: str, id_col: str,
                    hash_sql: str, bits: int) -> DataFrame:
    """(id, simhash): per-doc SimHash computed in ONE rowwise
    projection with ZERO exchanges (r14, guide §2.4 + §4.2) — the
    replacement for the explode + ``bits``-conditional-SUM groupBy
    form, which paid a full-corpus shuffle and ``bits`` interpreted
    vote expressions PER TOKEN to rebuild information that never
    leaves its own row.

    Token hashes are computed IN THE JVM by the exact hash expression
    the exploded form used (``hash_sql`` over each element of
    ``split(trim(lower(text)), '\\s+')``), so every int64 crossing the
    Arrow boundary is value-identical; the kernel does only exact
    integer bit-votes with NumPy (bit i of the signature is set iff
    strictly more tokens carry bit i than not — ``votes > 0``, ties
    negative, matching the SQL form and the DuckDB oracle).  Bit 63,
    when present, lands as the int64 sign bit via a two's-complement
    view — the same value the expression form's ``-(2^63)`` term
    produced.  NULL-text docs emit no row and zero-token arrays are
    impossible for non-null text (split always yields >= 1 element),
    both matching explode semantics; the guard below keeps the kernel
    total anyway.  Pinned bit-identical to the expression twin by
    tests/test_operators.py::test_simhash_kernel_matches_expression_twin.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    id_type = docs.select(id_col).schema[0].dataType.simpleString()
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    d = (docs.select(F.col(id_col).alias("_id"), toks.alias("_t"))
             .select("_id", F.expr(
                 f"transform(_t, t -> {hash_sql})").alias("_hs")))

    weights = (np.uint64(1) << np.arange(bits, dtype=np.uint64))

    def build(batches):
        for b in batches:
            arr = b.column(1)
            # a NULL list has a NULL length, so the AND is NULL there:
            # fill it with False, or pc.all() skips it and reads True
            keep = pc.fill_null(
                pc.and_(pc.is_valid(arr),
                        pc.greater(pc.list_value_length(arr), 0)), False)
            if not pc.all(keep).as_py():
                b = b.filter(keep)
                arr = b.column(1)
            n = len(arr)
            if n == 0:
                yield pa.record_batch(
                    [b.column(0), pa.array([], pa.int64())],
                    names=["_id", "simhash"])
                continue
            lens = pc.list_value_length(arr).to_numpy().astype(np.int64)
            flat = (pc.list_flatten(arr)
                    .to_numpy(zero_copy_only=False).astype(np.uint64))
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            sig_u = np.zeros(n, dtype=np.uint64)
            for i in range(bits):
                bit = ((flat >> np.uint64(i)) & np.uint64(1)) \
                    .astype(np.int64)
                ones = np.add.reduceat(bit, starts)
                # votes = ones - (lens - ones) > 0  <=>  2*ones > lens
                sig_u |= np.where(2 * ones > lens, weights[i],
                                  np.uint64(0))
            yield pa.record_batch(
                [b.column(0), pa.array(sig_u.view(np.int64), pa.int64())],
                names=["_id", "simhash"])

    return (d.mapInArrow(build, f"_id {id_type}, simhash bigint")
             .select(F.col("_id").alias(id_col), "simhash"))


_XXHASH64_TOKEN_SQL = "xxhash64(t)"
_MD5_60BIT_TOKEN_SQL = \
    "cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)"


def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per-bit sign sums of token
    hashes.  r14: computed by the zero-exchange Arrow kernel
    (``_simhash_kernel``) — the pre-r14 explode + 64-conditional-SUM
    groupBy shuffled the whole token stream to rebuild per-doc state
    that never leaves its row; the kernel form is bit-identical
    (twin-test-pinned) and deletes that exchange outright."""
    return _simhash_kernel(docs, text_col, id_col,
                           _XXHASH64_TOKEN_SQL, bits)


def simhash_near_pairs(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       max_hamming: int = 8,
                       n_blocks: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance without a crossjoin:
    the 64-bit signature is split into ``n_blocks`` bit-blocks and
    candidates are generated by an equi-join per block (union via
    explode).  Pigeonhole: two signatures within ``n_blocks - 1`` bits
    of each other MUST agree on at least one whole block, so recall is
    guaranteed for hamming <= n_blocks - 1 (the Manku/Jain/Sarma
    rotated-block scheme, WWW'07, re-expressed as a DataFrame equi-join)
    and probabilistic above that.  ``n_blocks`` defaults to
    min(max_hamming + 1, 8): full guarantee when the threshold allows
    blocks of >= 8 bits, best-effort 8-bit blocks beyond."""
    if n_blocks is None:
        n_blocks = min(max_hamming + 1, 8)
    width = 64 // n_blocks
    # r13 (guide §5): the signature aggregate (token explode + 64
    # conditional-sum votes) feeds BOTH sides of the block self-join —
    # pinned so it is computed once; SUM votes are order-independent,
    # so the cached layout cannot change a value.  Released by the
    # caller scope (bench pass / workload entry / HTTP request).
    from ..session import track_persist
    sig = track_persist(simhash(docs, text_col, id_col))
    if width >= 64:       # single block == whole signature (max_hamming=0)
        blocks = F.array(F.struct(F.lit(0).alias("blk_id"),
                                  F.col("simhash").alias("blk_val")))
    else:
        mask = (1 << width) - 1
        blocks = F.array(*[
            F.struct(F.lit(i).alias("blk_id"),
                     F.shiftrightunsigned("simhash", i * width)
                      .bitwiseAND(F.lit(mask)).alias("blk_val"))
            for i in range(n_blocks)])
    blocked = sig.select(id_col, "simhash",
                         F.explode(blocks).alias("b")) \
                 .select(id_col, "simhash", "b.blk_id", "b.blk_val")
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = (a.join(b, (F.col("a.blk_id") == F.col("b.blk_id"))
                    & (F.col("a.blk_val") == F.col("b.blk_val"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     F.col("a.simhash").alias("sig_a"),
                     F.col("b.simhash").alias("sig_b"))
             # Hamming filter BEFORE the pair dedup (measured at ~sf1,
             # round 8: the block join emits ~10x more random-collision
             # candidates than true pairs, and dropDuplicates was
             # shuffling all of them; hamming is a projection on the
             # joined row and independent of which block matched, so
             # filtering first is semantics-preserving and cuts the
             # dedup shuffle to the true-pair volume — 291 s -> see
             # SCALE.md round-8 A/B)
             .withColumn("hamming", F.bit_count(
                 F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
             .filter(F.col("hamming") <= max_hamming)
             .dropDuplicates(["id_a", "id_b"]))
    return pairs.select("id_a", "id_b", "hamming")


def _observe_dropped(df: DataFrame, dropped_cond, msg: str,
                     *fmt_args) -> DataFrame:
    """Attach an Observation counting rows matching ``dropped_cond`` and
    log ``msg % (*fmt_args, dropped)`` once the caller materializes the
    DataFrame — the no-silent-caps pattern without an eager .count()
    (which would re-run the whole upstream pipeline as a second job).
    The caller still applies the actual filter; this only observes.

    The logging thread uses only the public Observation.get — a blocking
    wait that resolves when the caller's first action completes.  There
    is no public non-blocking getter, so the thread has no deadline; it
    is a daemon (dies with the process) and one exists per observed
    pipeline, so the worst case of a never-materialized DataFrame is one
    parked daemon thread, not a leak that grows with work.  Any failure
    inside the wait is logged at debug so a PySpark API change cannot
    silently disable the no-silent-caps warning."""
    import logging
    import threading

    from pyspark.sql import Observation
    obs = Observation()
    out = df.observe(obs, F.sum(dropped_cond.cast("long")).alias("dropped"))

    def _report() -> None:
        log = logging.getLogger(__name__)
        try:
            dropped = obs.get.get("dropped") or 0
        except Exception as exc:                     # noqa: BLE001
            log.debug("drop-observation wait failed (%s); the "
                      "no-silent-caps warning for this pipeline is lost",
                      exc)
            return
        if dropped:
            log.warning(msg, *fmt_args, dropped)

    threading.Thread(target=_report, daemon=True).start()
    return out


def edit_distance_pairs(docs: DataFrame, max_dist: int = 20,
                        prefix_chars: int = 80, block_width: int = 100,
                        text_col: str = "text", id_col: str = "doc_id",
                        block_cols: tuple[str, ...] = ("lang",),
                        max_block_size: int | None = None) -> DataFrame:
    """Exact Levenshtein near-dup pairs under BLOCKING: documents are
    compared only within the same (``block_cols``, length-bucket) block,
    and the distance runs over the first ``prefix_chars`` characters.

    Why this shape at 100 TB: all-pairs edit distance is O(N²·L²) and
    cannot be sharded; blocking on cheap invariants (language, length
    bucket — true near-dups rarely differ by more than the bucket
    width) turns it into an equi-join whose cost is Σ|block|², the
    same partitioned-quadratic form every record-linkage system runs.
    Pairs straddling a bucket boundary are missed by design — callers
    chasing full recall feed LSH/ngram candidates into this as the
    VERIFY step instead of blocking.  Spark's ``levenshtein`` takes the
    threshold parameter, so the JVM kernel early-exits once a row pair
    exceeds ``max_dist`` (banded DP, O(L·max_dist) not O(L²)).

    ``max_block_size`` is the runaway-block guard: Σ|block|² only stays
    bounded if block sizes do — measured in the 10× scale probe, a
    corpus where every doc has ~10 exact copies grows pair volume ~100×
    (SCALE.md probe #5).  The RIGHT fix is pipeline ordering (exact
    dedup BEFORE edit-distance verification, which collapses those
    copies); the guard is the backstop that skips blocks larger than
    the cap, logging the dropped row count (no silent caps)."""
    pre = F.substring(F.col(text_col), 1, prefix_chars)
    blocked = docs.select(
        F.col(id_col).alias("pair_id"), pre.alias("pre"),
        *[F.col(c).alias(f"blk_{c}") for c in block_cols],
        (F.length(text_col) / F.lit(block_width)).cast("bigint")
         .alias("blk_len"))
    if max_block_size is not None:
        keys = ["blk_len"] + [f"blk_{c}" for c in block_cols]
        sizes = blocked.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("_bsz"))
        blocked = blocked.join(sizes, on=keys)
        blocked = _observe_dropped(
            blocked, F.col("_bsz") > max_block_size,
            "edit_distance_pairs: max_block_size=%d dropped %d docs in "
            "oversized blocks (no pairs emitted for them; run exact "
            "dedup first to collapse duplicate-heavy blocks)",
            max_block_size)
        blocked = blocked.filter(F.col("_bsz") <= max_block_size) \
                         .drop("_bsz")
    a, b = blocked.alias("a"), blocked.alias("b")
    cond = (F.col("a.pair_id") < F.col("b.pair_id")) & \
           (F.col("a.blk_len") == F.col("b.blk_len"))
    for c in block_cols:
        cond = cond & (F.col(f"a.blk_{c}") == F.col(f"b.blk_{c}"))
    dist = F.levenshtein(F.col("a.pre"), F.col("b.pre"), max_dist)
    return (a.join(b, cond)
            .select(F.col("a.pair_id").alias("id_a"),
                    F.col("b.pair_id").alias("id_b"),
                    dist.alias("edit_dist"))
            .filter(F.col("edit_dist") >= 0))  # -1 = exceeded threshold


def _gram_rows_kernel(docs: DataFrame, text_col: str, id_col: str,
                      n: int) -> DataFrame:
    """Exploded distinct word n-grams with the per-doc distinct count:
    (_id, _sz, shingle) — the input of the inverted-index pair core —
    computed by an Arrow batch kernel (guide §4.2) instead of the
    interpreted zip_with chain.  The string semantics are pinned to the
    expression twin (``gram_zip_expr`` over ``split(trim(lower(t)),
    '\\s+')``), established empirically and guarded by
    tests/test_operators.py::test_gram_kernel_matches_expression_twin:

    * trim strips ONLY spaces (0x20), like Spark's ``trim`` (a leading
      tab survives and yields a leading empty token);
    * the split pattern is Java's ``\\s`` = ``[ \\t\\n\\x0B\\f\\r]``
      with limit -1 (empty strings kept);
    * sub-n-token docs contribute one whole-document gram
      (``short='whole'``), so an empty text yields one '' gram;
    * NULL text yields no rows (explode of a NULL array);
    * per-doc dedup keeps first occurrence (``array_distinct``).

    The id column passes through an Arrow ``take`` untouched, so any
    id type (and its exact values) survives the boundary.  Only the
    two needed columns cross it (guide §4.1)."""
    import re

    import pyarrow as pa

    ws = re.compile(r"[ \t\n\x0B\f\r]+")
    id_type = docs.select(id_col).schema[0].dataType.simpleString()

    def build(batches):
        for b in batches:
            texts = b.column(1).to_pylist()
            idx: list[int] = []
            o_sz: list[int] = []
            o_sh: list[str] = []
            for row, t in enumerate(texts):
                if t is None:
                    continue
                toks = ws.split(t.lower().strip(" "))
                if len(toks) < n:
                    g = [" ".join(toks)]
                else:
                    g = list(dict.fromkeys(
                        " ".join(toks[j:j + n])
                        for j in range(len(toks) - n + 1)))
                sz = len(g)
                idx.extend([row] * sz)
                o_sz.extend([sz] * sz)
                o_sh.extend(g)
            ids = b.column(0).take(pa.array(idx, pa.int32()))
            yield pa.record_batch(
                [ids, pa.array(o_sz, pa.int32()),
                 pa.array(o_sh, pa.string())],
                names=["_id", "_sz", "shingle"])

    return docs.select(id_col, text_col).mapInArrow(
        build, f"_id {id_type}, _sz int, shingle string")


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.3,
                        max_doc_freq: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs:
    |A∩B| / (|A|+|B|-|A∩B|) for every co-occurring document pair.
    Inverted-index plan (replaces both the O(n²) document crossjoin AND
    the exploded self-join): group shingles into sorted posting lists
    (one shuffle), generate co-occurrence pairs per posting list with a
    JVM higher-order transform, count pairs (second shuffle).  Doc
    shingle-set sizes are derived from the SAME posting table (both
    consumers share the grouping exchange, so shingle generation runs
    once) and join the small pair-count table (AQE broadcasts it).
    ``max_doc_freq`` caps posting-list length — the standard
    stop-shingle guard at corpus scale (off by default to keep
    semantics exact)."""
    inter = _ngram_pair_counts(docs, text_col, id_col, n, max_doc_freq,
                               "ngram_jaccard_pairs")
    # Filter on the UNROUNDED ratio (the oracle does too) so both
    # engines cut at the same boundary; round only the reported value.
    ratio = (F.col("inter")
             / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
    return (inter.filter(ratio >= threshold)
            .withColumn("jaccard", F.round(ratio, 4))
            .select("id_a", "id_b", "jaccard"))


def _ngram_pair_counts(docs: DataFrame, text_col: str, id_col: str,
                       n: int, max_doc_freq: int | None,
                       op_name: str) -> DataFrame:
    """Shared inverted-index core for set-overlap pair metrics: returns
    (id_a, id_b, inter, sz_a, sz_b) for every co-occurring pair —
    Jaccard, containment, overlap coefficient are all final-expression
    projections over this one plan.

    Round-13 rework (guide §2.3/§2.4): each doc's distinct-shingle
    count is computed ROWWISE (size of the distinct gram array, the
    same value the old plan derived by re-exploding the posting table)
    and carried THROUGH the posting lists as a (id, sz) struct, so
    every generated pair row already knows both sides' set sizes.
    That deletes the two joins that attached sz_a/sz_b AFTER the pair
    aggregation — at scale those were two full shuffles of the
    co-occurrence pair table, the LARGEST intermediate in the plan
    (sf0.1: 2x 1.13M-row/34-43 MiB exchanges for a 256-row result;
    the old plan's sizes subtree and its exchange go too).  The cost
    is +8 bytes per posting entry and +16 bytes per pre-aggregation
    pair row — strictly smaller than the removed exchanges whenever
    pairs co-occur more than once, and the duplicate-heavy regime that
    motivated the old plan's shuffle_hash hints (10 GiB broadcast
    build at ~sf1, SCALE.md) no longer has any join to mis-plan.

    Round-13b (guide §4.2): the gram construction itself moved from
    the interpreted zip_with chain to ``_gram_rows_kernel`` — the
    remaining local floor after the join removal was the per-element
    lambda evaluation (~0.76 s of the 2.2 s query at sf0.1), and the
    Arrow kernel's measured end-to-end effect on this query is
    1.67 -> 1.18 s median with bit-identical oracle output (probe
    protocol in OPTIMIZATION_r13.md; equality vs the expression twin
    pinned over the real corpus + edge cases by
    tests/test_operators.py::test_gram_kernel_matches_expression_twin).
    The minhash path measured the OPPOSITE way (its non-distinct
    explode feeds a codegen'd hash+partial-aggregate, and the kernel
    boundary lost 0.99 -> 1.16 s), so shingle_docs keeps the JVM
    chain."""
    ex = _gram_rows_kernel(docs, text_col, id_col, n)
    posting = ex.groupBy("shingle").agg(
        F.sort_array(F.collect_list(F.struct(
            F.col("_id").alias("i"), F.col("_sz").alias("s")))).alias("ids"))
    posting = posting.filter(F.size("ids") > 1)
    if max_doc_freq is not None:
        # No silent caps: surface how many stop-shingle posting lists the
        # guard drops (see _observe_dropped for the mechanics).
        posting = _observe_dropped(
            posting, F.size("ids") > max_doc_freq,
            op_name + ": max_doc_freq=%d dropped %d "
            "stop-shingle posting lists (pairs co-occurring only "
            "through those shingles are lost; intersections "
            "shrink accordingly)", max_doc_freq)
        posting = posting.filter(F.size("ids") <= max_doc_freq)
    # all (i < j) pairs of each sorted posting list, generated JVM-side;
    # struct sort orders by the id field first (ids are unique per
    # posting list), so pair order is identical to the pre-r13 plan
    pairs = posting.select(F.explode(F.expr(
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "b -> struct(a.i AS id_a, b.i AS id_b, "
        "a.s AS sz_a, b.s AS sz_b))))")).alias("p")
    ).select("p.id_a", "p.id_b", "p.sz_a", "p.sz_b")
    # sz_a/sz_b are constant per id, so MIN just carries the value —
    # map-side combinable, no extra shuffle width beyond 16 bytes/group
    return pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("inter"),
        F.min("sz_a").alias("sz_a"), F.min("sz_b").alias("sz_b"))


def ngram_containment_pairs(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 3,
                            threshold: float = 0.8,
                            max_doc_freq: int | None = None) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT |A∩B| / min(|A|,|B|)
    (Broder's resemblance companion) — the doc-inside-doc detector.
    A short document quoted whole inside a long one scores ~1.0 here
    but near 0 on Jaccard (the union is dominated by the long side),
    so a Jaccard-only dedup pass ships the duplicated passage to
    training; this is the standard second filter for quote/boilerplate
    inclusion.  ``contained_id`` names the smaller side (ties → id_a).

    Same inverted-index plan as ``ngram_jaccard_pairs`` (shared core):
    posting lists → JVM pair generation → count join — only the final
    projection differs.  Probe #13's 67.9 s at ~sf1 turned out to be
    end-of-session GC noise: a same-session A/B re-measure (SCALE.md
    round-6 note) puts this core at 34.1 s vs 27.1 s for Jaccard on
    the identical 10x-replica corpus.  The PPJoin-style prefix-filter
    alternative (``ngram_containment_pairs_prefix``) was measured 10x
    SLOWER there — exact replicas give every shingle the same df, so
    prefixes prune nothing — and is kept for the corpus shape it does
    win on (sparse duplication flooded by hot boilerplate)."""
    inter = _ngram_pair_counts(docs, text_col, id_col, n, max_doc_freq,
                               "ngram_containment_pairs")
    # Filter on the UNROUNDED ratio (the oracle does too) so both
    # engines cut at the same boundary; round only the reported value.
    ratio = F.col("inter") / F.least("sz_a", "sz_b")
    return (inter.filter(ratio >= threshold)
            .withColumn("containment", F.round(ratio, 4))
            .withColumn("contained_id",
                        F.when(F.col("sz_b") < F.col("sz_a"),
                               F.col("id_b")).otherwise(F.col("id_a")))
            .select("id_a", "id_b", "containment", "contained_id"))


def ngram_containment_pairs_prefix(docs: DataFrame,
                                   text_col: str = "text",
                                   id_col: str = "doc_id", n: int = 3,
                                   threshold: float = 0.8,
                                   max_doc_freq: int | None = None,
                                   regime: str = "auto") -> DataFrame:
    """``ngram_containment_pairs`` with PREFIX-FILTERED candidate
    generation (the PPJoin family, Xiao et al. 2008) — bit-identical
    output, different cost profile.

    A containment threshold t is an overlap constraint
    |A∩B| >= ceil(t * min(|A|,|B|)); order every document's shingles
    by ascending corpus document-frequency (rarest first) and keep
    each doc's PREFIX of length sz - ceil(t*sz) + 1.  Any qualifying
    pair must share a shingle inside the SMALLER side's prefix (if it
    missed the whole prefix, at most ceil(t*sz)-1 shingles would
    remain to share — below the bound), so joining {prefix shingles
    of the smaller side} x {all shingles} on the shingle finds every
    true pair; candidates are then verified EXACTLY by re-counting
    shared shingles.

    When to use which (both regimes MEASURED, SCALE.md probes #14 and
    #16): hot boilerplate shingles sit at the END of the df-ascending
    order and fall out of every prefix, so this variant keeps working
    where the all-co-occurrences core would either quadratically
    explode a posting list or need a semantics-changing
    ``max_doc_freq`` drop — measured 73 s vs the core's 151 s
    (identical 4.3M-pair output) on 5k docs all sharing a 28-token
    boilerplate tail, no cap (82 s vs 151 s after the windowless-probe
    rework).  On a replica-heavy corpus it LOSES
    (34 s core vs ~450 s prefix at ~sf1): exact duplicates give every
    shingle the same df, prefixes prune nothing, and the
    ranked-shingle lineage is paid four times.

    ``regime`` (VERDICT r11 task 3 — the wrong-regime run used to spill
    ~45 GB at ~sf1 with no guard):

    * ``"auto"`` (default) — pre-probe the doc-frequency histogram
      and pick the winner.  The probe is a FULL shingle pass (one
      df-histogram aggregate over the whole shingle table, plus a
      docs.count()); the shingle table is persisted before the probe
      (ADVICE r12), so a prefix-routed call shingles the corpus ONCE
      — the probe materializes the blocks the main plan reuses — and
      a core-routed call unpersists them immediately.  The prefix
      filter
      only pays off when the QUADRATIC posting mass (Σ df²) is
      dominated by boilerplate-grade hot shingles (df ≥ max(100,
      n_docs/10) — the kind that sit at the end of the df-ascending
      order and fall out of every prefix).  If less than half the
      quadratic mass is that hot (replica-shaped histograms: many
      medium-df shingles, nothing for prefixes to prune), the call
      AUTO-ROUTES to ``ngram_containment_pairs`` — bit-identical
      output, the measured-faster plan.  The decision is logged and
      recorded on ``ngram_containment_pairs_prefix.last_route``.
    * ``"prefix"`` / ``"core"`` — force a path (benchmarks, tests,
      callers that already know their corpus shape)."""
    import logging

    from pyspark import StorageLevel

    if regime not in ("auto", "prefix", "core"):
        raise ValueError(f"regime must be auto|prefix|core, got {regime!r}")
    if regime == "core":
        ngram_containment_pairs_prefix.last_route = "core"
        return ngram_containment_pairs(docs, text_col, id_col, n,
                                       threshold, max_doc_freq)
    from ..session import track_persist
    sh_lazy = (shingle_docs(docs, text_col, id_col, n)
               .select(F.col(id_col).alias("_id"), "shingle"))
    # Pin BEFORE the auto probe (ADVICE r12): the probe is a full
    # shingle pass, not "one cheap aggregate" — one df-histogram
    # aggregate over the whole shingle table — so without the pin a
    # prefix-routed call paid the corpus shingling twice.  Pinned
    # here, the probe materializes the blocks the main plan's three
    # consumers (sizes, dfreq, ranked join) then reuse; a core-routed
    # call unpersists immediately (the core builds its own lineage).
    sh = track_persist(sh_lazy, StorageLevel.MEMORY_AND_DISK)
    if regime == "auto":
        n_docs = docs.count()
        tau = max(100, n_docs // 10)
        probe = (sh.groupBy("shingle")
                 .agg(F.count(F.lit(1)).alias("_df"))
                 .agg(F.sum(F.col("_df") * F.col("_df")).alias("q_all"),
                      F.sum(F.when(F.col("_df") >= tau,
                                   F.col("_df") * F.col("_df"))
                            .otherwise(F.lit(0))).alias("q_hot"))
                 .first())
        q_all, q_hot = probe["q_all"] or 0, probe["q_hot"] or 0
        hot_frac = (q_hot / q_all) if q_all else 0.0
        if hot_frac < 0.5:
            logging.getLogger(__name__).warning(
                "ngram_containment_pairs_prefix: df histogram is not "
                "boilerplate-shaped (hot-mass fraction %.3f < 0.5 at "
                "df >= %d over %d docs) — prefixes would prune almost "
                "nothing while paying the ranked-shingle lineage 4x "
                "(measured ~13x slower, disk-bound, on replica-heavy "
                "corpora); auto-routing to the inverted-index core "
                "(bit-identical output).  Pass regime='prefix' to "
                "force.", hot_frac, tau, n_docs)
            ngram_containment_pairs_prefix.last_route = "core"
            # the core builds its own shingle lineage — free the
            # probe's blocks now instead of holding them until the
            # host's bulk release
            sh.unpersist(blocking=False)
            return ngram_containment_pairs(docs, text_col, id_col, n,
                                           threshold, max_doc_freq)
        logging.getLogger(__name__).info(
            "ngram_containment_pairs_prefix: boilerplate-shaped df "
            "histogram (hot-mass fraction %.3f at df >= %d) — staying "
            "on the prefix-filtered plan.", hot_frac, tau)
    ngram_containment_pairs_prefix.last_route = "prefix"
    # sh stays persisted: the shingle table feeds sizes, dfreq AND the
    # ranked join — before r11 the global-distinct exchange inside
    # shingle_docs served as the shared materialization point; the
    # shuffle-free zip-chain shingles removed it, so the explicit pin
    # (made above, before the probe) is the diamond-reuse discipline
    # of rfm/semantic_dedup.  Tracked for bulk release by long-lived
    # hosts (ADVICE r11).
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("sz"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    if max_doc_freq is not None:
        # Same stop-shingle guard as the Jaccard core: drop shingles
        # shared by more docs than the cap from BOTH candidate
        # generation and intersection counting (doc sizes stay
        # pre-drop, matching _ngram_pair_counts).  Never silent.
        dfreq = _observe_dropped(
            dfreq, F.col("_df") > max_doc_freq,
            "ngram_containment_pairs_prefix: max_doc_freq=%d dropped %d "
            "stop-shingle posting lists (pairs co-occurring only "
            "through those shingles are lost; intersections "
            "shrink accordingly)", max_doc_freq)
        dfreq = dfreq.filter(F.col("_df") <= max_doc_freq)
    ranked = (sh.join(dfreq.hint("shuffle_hash"), "shingle")
                .join(sizes.hint("shuffle_hash"), "_id")
                .withColumn("_rk", F.row_number().over(
                    Window.partitionBy("_id")
                          .orderBy("_df", "shingle"))))
    # ceil with a 1e-9 slack: a float t*sz landing a hair ABOVE an
    # exact integer would shorten the prefix below the sound length;
    # erring longer only adds candidates, never loses one.
    alpha = F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9))
    pref = ranked.filter(F.col("_rk") <= F.col("sz") - alpha + 1)
    # ONLY the prefix side needs the rank window; the probe and verify
    # sides re-derive from the cheaper windowless lineage (sh ⋈ dfreq
    # [⋈ sizes]) — recomputing the per-doc sort for all four consumers
    # measured 12.4 s -> 4.5 s at sf0.01 for identical output
    surviving = sh.join(dfreq.select("shingle"), "shingle")
    full = surviving.join(sizes.hint("shuffle_hash"), "_id").select(
        F.col("_id").alias("_fid"), "shingle",
        F.col("sz").alias("_fsz"))
    cand = (pref.select(F.col("_id").alias("_pid"), "shingle",
                        F.col("sz").alias("_psz"))
            .join(full, "shingle")
            # the guarantee needs only the SMALLER side's prefix hit
            # (ties qualify from either side)
            .filter((F.col("_pid") != F.col("_fid"))
                    & (F.col("_psz") <= F.col("_fsz")))
            .select(F.least("_pid", "_fid").alias("id_a"),
                    F.greatest("_pid", "_fid").alias("id_b"))
            .distinct())
    # exact verification: count shared (df-surviving) shingles per
    # candidate pair — output identical to the unfiltered core
    shf = surviving.select("_id", "shingle")
    inter = (cand
             .join(shf.select(F.col("_id").alias("id_a"), "shingle"),
                   "id_a")
             .join(shf.select(F.col("_id").alias("id_b"), "shingle")
                      .hint("shuffle_hash"),
                   ["id_b", "shingle"])
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("inter")))
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("sz").alias("sz_b"))
    scored = (inter.join(sa.hint("shuffle_hash"), "id_a")
                   .join(sb.hint("shuffle_hash"), "id_b"))
    # Filter on the UNROUNDED ratio (the oracle does too) so both
    # engines cut at the same boundary; round only the reported value.
    ratio = F.col("inter") / F.least("sz_a", "sz_b")
    return (scored.filter(ratio >= threshold)
            .withColumn("containment", F.round(ratio, 4))
            .withColumn("contained_id",
                        F.when(F.col("sz_b") < F.col("sz_a"),
                               F.col("id_b")).otherwise(F.col("id_a")))
            .select("id_a", "id_b", "containment", "contained_id"))


def near_dup_clusters(pairs: DataFrame, max_iterations: int = 10,
                      id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Connected components over near-dup pairs by distributed min-label
    propagation: every node starts labeled with itself; each round a
    node adopts the minimum label among itself and its neighbors; stop
    at fixpoint (or ``max_iterations`` — components converge in
    O(diameter) rounds and near-dup clusters are shallow).

    Entirely DataFrame ops — no driver-side graph, so the edge set can
    be arbitrarily large.  Output: (doc_id, cluster) where ``cluster``
    is the minimum member id of the component; ``cluster == doc_id``
    marks the canonical keeper of each duplicate group."""
    edges = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
             .unionByName(pairs.select(F.col(id_b).alias("src"),
                                       F.col(id_a).alias("dst"))))
    from ..session import release_local_checkpoint
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("cluster", F.col("id")))
    for i in range(max_iterations):
        neighbor_min = (edges.join(labels, edges.dst == labels.id)
                        .groupBy("src")
                        .agg(F.min("cluster").alias("nmin")))
        updated = (labels.join(neighbor_min, labels.id == neighbor_min.src,
                               "left")
                   .select(F.col("id"),
                           F.least(F.col("cluster"),
                                   F.coalesce(F.col("nmin"),
                                              F.col("cluster")))
                           .alias("cluster")))
        updated = updated.localCheckpoint()   # truncate the iterative lineage
        changed = (updated.alias("u")
                   .join(labels.alias("l"), "id")
                   .filter(F.col("u.cluster") != F.col("l.cluster"))
                   .limit(1).count())
        if i:                  # round 0's labels are a plan, not blocks
            release_local_checkpoint(labels)
        labels = updated
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), "cluster")


# Exact-GEMM path refuses above this broadcast size: a corpus that big on
# the driver is an OOM, and exact all-pairs is the wrong tool — reroute to
# the banded/bucketed approximations.
MAX_GEMM_BROADCAST_BYTES = 512 * 1024 * 1024


def embedding_near_dups(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.995,
                        max_broadcast_bytes: int = MAX_GEMM_BROADCAST_BYTES,
                        ) -> DataFrame:
    """Exact embedding-cosine near-dup pairs via a broadcast-matrix
    Arrow kernel: the corpus matrix is broadcast once (like a broadcast
    hash join's build side), each Arrow batch of the probe side does one
    blocked float64 GEMM against it, and only above-threshold (i < j)
    pairs are emitted.  Exact-all-pairs fundamentally needs corpus ×
    corpus; this shape is the standard one while the corpus fits a
    broadcast (here: bounded embedding tables).  Beyond that, the
    LSH/IVF variants in operators/similarity.py are the scale path.

    Spark higher-order-function arithmetic (zip_with + aggregate) is
    interpreted per element; the GEMM kernel is ~10-100x faster at
    identical results (float64; threshold applied on unrounded values,
    round half-away-from-zero like Spark/DuckDB ROUND)."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    # Enforce the bounded-corpus precondition BEFORE collecting: one cheap
    # aggregation instead of trusting the caller not to OOM the driver.
    stats = emb.select(
        F.count(F.lit(1)).alias("n"),
        F.first(F.size(vec_col)).alias("dim")).first()
    est_bytes = (stats["n"] or 0) * (stats["dim"] or 0) * 8
    if est_bytes > max_broadcast_bytes:
        raise ValueError(
            f"embedding_near_dups: corpus matrix ~{est_bytes >> 20} MiB "
            f"({stats['n']} x {stats['dim']} float64) exceeds the "
            f"{max_broadcast_bytes >> 20} MiB exact-GEMM broadcast bound; "
            "use similarity.lsh_cosine_topk / ivf_cosine_topk (bucketed, "
            "no driver collect) or minhash_lsh_pairs for near-dup at scale")
    # Arrow driver transfer (r13, guide §6): collect() pickles rows one
    # at a time — ~0.5 s of the 0.85 s build at sf0.1 went to
    # deserializing 10k array<float> rows; toPandas() under
    # spark.sql.execution.arrow.pyspark.enabled moves the same corpus
    # as Arrow batches.  Values are identical (same floats, same order
    # -> same matrix).
    corpus = emb.select(id_col, vec_col).toPandas()
    ids = corpus[id_col].to_numpy(dtype=np.int64)
    M = np.array(list(corpus[vec_col]), dtype=np.float64)
    norms = np.sqrt((M * M).sum(axis=1))
    bc = spark.sparkContext.broadcast((ids, M, norms))

    out_schema = "id_a long, id_b long, cosine double"

    def batches(it):
        b_ids, b_m, b_norms = bc.value
        for pdf in it:
            if pdf.empty:
                continue
            A = np.array(list(pdf[vec_col]), dtype=np.float64)
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            a_norms = np.sqrt((A * A).sum(axis=1))
            S = (A @ b_m.T) / np.outer(a_norms, b_norms)
            mask = (S >= threshold) & (a_ids[:, None] < b_ids[None, :])
            ai, bi = np.nonzero(mask)
            cos = S[ai, bi]
            yield pd.DataFrame({
                "id_a": a_ids[ai],
                "id_b": b_ids[bi],
                # round half-away-from-zero (Spark/DuckDB ROUND); cos>0
                # here since threshold > 0
                "cosine": np.floor(cos * 1e4 + 0.5) / 1e4,
            })

    return emb.select(id_col, vec_col).mapInPandas(batches, out_schema)


# ---- train/test contamination --------------------------------------------

def contamination_check(train: DataFrame, test: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3) -> DataFrame:
    """Eval-leakage detector: for every TEST document, how much of its
    n-gram shingle set also occurs anywhere in the TRAIN corpus.

    Returns (doc_id, n_shingles, n_contaminated) — exact integers, so an
    external oracle reproduces it bit-for-bit; callers derive the ratio.

    Scale shape: the train side collapses to its DISTINCT shingle
    vocabulary first (map-side combinable; output bounded by vocabulary
    size, not corpus size), then one semi-join-shaped inner join on the
    shingle key counts collisions.  The test corpus is typically tiny
    next to train — the join shuffles vocab-vs-test-shingles, never
    train text.  A left join keeps zero-contamination docs visible (no
    silent absence).
    """
    test_sh = shingle_docs(test, text_col, id_col, n)
    train_vocab = shingle_docs(train, text_col, id_col, n) \
        .select("shingle").distinct()
    hit = train_vocab.withColumn("_hit", F.lit(1))
    return (test_sh.join(hit, on="shingle", how="left")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                 .cast("bigint").alias("n_contaminated")))


def contamination_attribution(train: DataFrame, test: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id", n: int = 3,
                              min_shared: int = 1) -> DataFrame:
    """WHICH train document contaminated WHICH eval document — the
    attribution step :func:`contamination_check` (eval-side counts
    only) cannot answer, and the one actual removal needs: to
    decontaminate you drop TRAIN docs, so you must know the train-side
    ids behind each eval hit (the GPT-3 appendix-C / PaLM
    decontamination workflow).

    Returns (train_id, test_id, shared_ngrams) for pairs sharing at
    least ``min_shared`` DISTINCT n-grams — exact integers, fully
    oracle-checkable.

    Scale shape: both sides collapse to distinct per-doc shingle sets
    first; the eval side is tiny next to train by construction, so the
    gram equi-join broadcasts eval postings against the partitioned
    train postings and the pair count is one map-side-combinable
    groupBy — cost is the posting-list intersection, never
    train x eval text."""
    tr = shingle_docs(train, text_col, id_col, n) \
        .withColumnRenamed(id_col, "train_id")
    te = shingle_docs(test, text_col, id_col, n) \
        .withColumnRenamed(id_col, "test_id")
    return (tr.join(F.broadcast(te), "shingle")
              .groupBy("train_id", "test_id")
              .agg(F.count(F.lit(1)).alias("shared_ngrams"))
              .filter(F.col("shared_ngrams") >= min_shared))


def contamination_spans(train: DataFrame, test: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        k: int = 5) -> DataFrame:
    """SPAN-level decontamination report — the surgical alternative to
    :func:`decontaminate_corpus`'s whole-document drop: every maximal
    train-doc token run covered by eval-matching stride-1 k-token
    windows (the Lee-et-al exact-substring machinery pointed across
    the split instead of at the corpus itself).  Callers excise the
    reported spans and keep the rest of the document.

    Output: (doc_id, n_tokens, n_dup_spans, n_dup_tokens, dup_spans) —
    identical shape to ``duplicate_span_removal``, spans as
    "start-end" token offsets, byte-exact against the oracle.

    Scale shape: train grams mark by one broadcast semi-join against
    the eval gram vocabulary (eval is tiny next to train by
    construction); the interval merge then runs over MARKED positions
    only — contaminated-mass-sized, not corpus-sized."""
    from .segments_spans import merged_span_report, stride1_grams

    tr = stride1_grams(train, k, text_col, id_col)
    ev = (stride1_grams(test, k, text_col, id_col)
          .select("_sh").distinct())
    marked = tr.join(F.broadcast(ev), "_sh").select(id_col, "_p")
    return merged_span_report(train, marked, k, text_col, id_col)


def decontaminate_corpus(train: DataFrame, test: DataFrame,
                         text_col: str = "text",
                         id_col: str = "doc_id", n: int = 3,
                         max_shared: int = 0,
                         keep_cols: tuple = ("lang", "source"),
                         ) -> DataFrame:
    """The removal rule itself: drop every TRAIN document sharing MORE
    than ``max_shared`` distinct n-grams with ANY single eval document
    (``max_shared=0`` is the strict verbatim-overlap rule; raising it
    tolerates incidental common phrases), return the surviving train
    corpus.

    Output: (id, *keep_cols) for survivors — the same
    surviving-corpus shape as :func:`keep_canonical`, so the result
    drops into the corpus-prep pipeline unchanged.

    Scale shape: one :func:`contamination_attribution` pass (eval
    postings broadcast), the offender id set is its pair output
    aggregated per train doc — bounded by contaminated-doc count, not
    corpus size — and the removal is a left-anti join, the same
    no-NOT-IN-scan shape the exact-dedup family uses."""
    offenders = (contamination_attribution(
                     train, test, text_col, id_col, n,
                     min_shared=max_shared + 1)
                 .select(F.col("train_id").alias(id_col)).distinct())
    return (train.join(offenders, id_col, "left_anti")
                 .select(id_col, *keep_cols))


def cross_split_leakage(emb: DataFrame, weights: dict[str, float],
                        threshold: float = 0.995,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        salt: str = "split-v1",
                        method: str = "exact",
                        **lsh_kwargs) -> DataFrame:
    """Embedding-level split-leakage detector: assign train/eval splits
    (deterministic hash split, same rule as ``sampling.hash_split``),
    then report every near-duplicate pair that CROSSES splits — an eval
    vector with a >=threshold-cosine twin in train is a leaked eval
    item, the failure mode n-gram contamination checks miss when the
    duplicate is a paraphrase/re-encode rather than a verbatim copy.

    Output: (id_a, id_b, split_a, split_b, cosine) with id_a < id_b and
    split_a != split_b — exact values, fully oracle-checkable.

    Scale shape: ``method="exact"`` delegates pair generation to the
    exact GEMM kernel (bounded corpora; its pre-collect size guard
    points here when exceeded); ``method="lsh"`` uses the bucketed
    multi-table LSH pair generator (no driver collect, candidates
    exact-verified so precision stays 1.0, recall approximate —
    ``lsh_kwargs`` forward n_tables/bits_per_table).  Either way the
    split columns attach via two slim (id, split) projections joined
    AFTER pair filtering — splits never ride through the
    cross-product."""
    from .sampling import hash_split

    if method == "exact":
        pairs = embedding_near_dups(emb, id_col=id_col, vec_col=vec_col,
                                    threshold=threshold)
    elif method == "lsh":
        from .similarity import lsh_near_dup_pairs
        pairs = lsh_near_dup_pairs(emb, threshold=threshold,
                                   id_col=id_col, vec_col=vec_col,
                                   **lsh_kwargs)
    elif method == "lsh_md5":
        # the ORACLE-EXACT scale path (round 10): same bucketed
        # no-collect shape as "lsh", every stage SQL-reproducible
        from .similarity import lsh_near_dup_pairs_md5
        pairs = lsh_near_dup_pairs_md5(emb, threshold=threshold,
                                       id_col=id_col, vec_col=vec_col,
                                       **lsh_kwargs)
    else:
        raise ValueError(
            f"unknown method {method!r} (exact | lsh | lsh_md5)")
    splits = hash_split(emb.select(id_col), weights, id_col=id_col,
                        salt=salt).select(id_col, "split")
    a = splits.select(F.col(id_col).alias("id_a"),
                      F.col("split").alias("split_a"))
    b = splits.select(F.col(id_col).alias("id_b"),
                      F.col("split").alias("split_b"))
    return (pairs.join(a, "id_a").join(b, "id_b")
            .filter(F.col("split_a") != F.col("split_b"))
            .select("id_a", "id_b", "split_a", "split_b", "cosine"))


# ---- corpus mixing ---------------------------------------------------------

def mix_corpus(docs: DataFrame, weights: dict[str, float],
               token_budget: int, strata_col: str = "source",
               id_col: str = "doc_id",
               salt: str = "mix-v1") -> DataFrame:
    """Budgeted domain mixing: sample each stratum at the rate that hits
    ``token_budget * weight`` tokens from it (rate capped at 1 — an
    under-resourced stratum contributes everything it has).

    Rates are derived IN the plan (per-stratum token totals → broadcast
    join → threshold compare), not on the driver, and the keep decision
    is the same md5(id:salt) hash as operators/sampling.py — so the mix
    is deterministic, engine-reproducible, and one aggregation + one
    broadcast join regardless of corpus size.
    """
    from .sampling import _BUCKETS, _hash_bucket
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    totals = (docs.groupBy(strata_col)
              .agg(F.sum(n_tok).alias("_stratum_tokens")))
    w_expr = None
    for value, w in weights.items():
        w_expr = F.when(F.col(strata_col) == value, F.lit(float(w))) \
            if w_expr is None else \
            w_expr.when(F.col(strata_col) == value, F.lit(float(w)))
    w_expr = w_expr.otherwise(F.lit(0.0)) if w_expr is not None \
        else F.lit(0.0)
    # rate in buckets-of-10000, exact integer arithmetic where possible:
    # floor(budget * weight * 10000 / stratum_tokens), capped at 10000
    rate_buckets = F.least(
        F.lit(_BUCKETS),
        F.floor(F.lit(float(token_budget)) * w_expr * _BUCKETS
                / F.col("_stratum_tokens")).cast("bigint"))
    with_rate = docs.join(F.broadcast(totals), on=strata_col) \
        .withColumn("_rate_b", rate_buckets)
    return (with_rate
            .filter(_hash_bucket(F.col(id_col), salt) < F.col("_rate_b"))
            .drop("_stratum_tokens", "_rate_b"))


def keep_canonical(docs: DataFrame, clusters: DataFrame,
                   id_col: str = "doc_id",
                   score_col: str | None = None) -> DataFrame:
    """Collapse near-dup clusters to one survivor each: the highest
    ``score_col`` (ties and default: lowest id — deterministic), while
    every unclustered doc survives untouched.

    Unclustered docs exit through an anti join (no window — routing them
    through one would pile every singleton into a single NULL
    partition); the survivor choice is a per-cluster window over ONLY
    the clustered subset, which is tiny next to the corpus.  This is
    the step after ``near_dup_clusters`` in a real dedup pipeline:
    pairs → components → one canonical doc each.
    """
    from pyspark.sql import Window as W

    cl = clusters.select(F.col(id_col).alias("_cid"), "cluster")
    # anti join: unclustered docs pass through with no window at all —
    # routing them through a window would pile every singleton into one
    # NULL partition (the exact skew this operator exists to avoid)
    untouched = docs.join(cl, F.col(id_col) == F.col("_cid"), "left_anti")
    order = [F.col(id_col).asc()]
    if score_col is not None:
        order = [F.col(score_col).desc()] + order
    w = W.partitionBy("cluster").orderBy(*order)
    survivors = (docs.join(cl, F.col(id_col) == F.col("_cid"), "inner")
                 .withColumn("_rk", F.row_number().over(w))
                 .filter(F.col("_rk") == 1)
                 .drop("_rk", "cluster", "_cid"))
    return untouched.unionByName(survivors)


def cross_source_duplication(docs: DataFrame, text_col: str = "text",
                             source_col: str = "source",
                             id_col: str = "doc_id") -> DataFrame:
    """Cross-dump duplication diagnostic: per source, how many documents
    carry content whose whitespace/punct-insensitive fingerprint (the
    same md5 skeleton as ``text.fingerprint``) ALSO appears under at
    least one other source.  The number a corpus-mixing decision needs:
    two web dumps with 40% cross-duplication should not both enter the
    mix at full weight.

    Returns (source, n_docs, n_cross_dup) — exact integers.

    Scale shape: one shuffle of the slim (id, source, fp) projection for
    the per-fingerprint window, whose collect_set state is bounded by
    the number of SOURCES (dozens) not rows, then a map-side-combinable
    per-source rollup.  No join back against the corpus text.
    """
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    fp = docs.select(id_col, F.col(source_col).alias("source"),
                     F.md5(F.encode(norm, "UTF-8")).alias("fp"))
    n_sources = F.size(F.collect_set("source").over(Window.partitionBy("fp")))
    return (fp.withColumn("n_sources", n_sources)
              .groupBy("source")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum((F.col("n_sources") > 1).cast("long"))
                    .alias("n_cross_dup")))


def dedup_impact_report(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        source_col: str = "source") -> DataFrame:
    """Per-source exact-dedup impact: documents and whitespace tokens
    kept vs dropped when every exact-text duplicate group keeps its
    minimum-id member — the before/after table every dedup run reports
    ("dropped 31% of source X's tokens") so the mixing weights can be
    recomputed on the POST-dedup masses, not the raw ones.  Shares are
    exact integer milli-units.

    Scale shape: one window over the (text-hash)-keyed groups carrying
    only (id, source, n_tokens) — text itself is hashed before the
    exchange — then a per-source map-side-combinable rollup."""
    h = F.md5(F.encode(F.col(text_col), "UTF-8"))
    n_toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    slim = docs.select(F.col(id_col).alias("_id"),
                       F.col(source_col).alias("source"),
                       h.alias("_h"), n_toks.alias("_nt"))
    keep = F.min("_id").over(Window.partitionBy("_h"))
    flagged = slim.withColumn("_kept", (F.col("_id") == keep).cast("long"))
    return (flagged.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_kept").cast("bigint").alias("n_docs_kept"),
                 F.sum("_nt").cast("bigint").alias("n_tokens"),
                 F.sum(F.col("_nt") * F.col("_kept")).cast("bigint")
                  .alias("n_tokens_kept"))
            .withColumn("docs_kept_milli",
                        F.expr("CAST((n_docs_kept * 1000) DIV n_docs "
                               "AS BIGINT)"))
            .withColumn("tokens_kept_milli",
                        F.expr("CAST((n_tokens_kept * 1000) DIV "
                               "greatest(n_tokens, 1) AS BIGINT)")))


def ngram_novelty(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction (exact milli-units) of
    a document's distinct shingles whose corpus-wide FIRST owner (the
    minimum ``id_col`` among documents containing the shingle) is this
    document.  A crawl-ordered corpus read through this lens separates
    originators from echoes: boilerplate-heavy late copies score near
    0, first appearances near 1000 — the per-document complement of
    the pairwise dedup metrics, usable as a streaming-friendly
    keep/drop signal without generating any pairs at all.

    Scale shape: one shuffle to the per-shingle MIN(id) (map-side
    combinable), one shuffle to roll novelty up per document — both on
    slim projections; there is NO pair generation, so cost is linear
    in corpus shingles regardless of duplication depth (the regime
    where the pairwise operators go quadratic inside dup groups)."""
    sh = shingle_docs(docs, text_col, id_col, n)
    first = sh.groupBy("shingle").agg(F.min(id_col).alias("_first"))
    return (sh.join(first, "shingle")
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_shingles"),
                   F.sum((F.col(id_col) == F.col("_first")).cast("long"))
                    .alias("n_novel"))
              .withColumn("novelty_milli",
                          F.expr("CAST((n_novel * 1000) DIV n_shingles "
                                 "AS BIGINT)")))


# ---- winnowing fingerprints (substring-level near-dup) ---------------------

def winnow_fingerprints(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 4,
                        w: int = 5) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word ``k``-gram, slide
    a window of ``w`` consecutive gram hashes, keep each window's MINIMUM
    hash, and emit the distinct selected hashes per document.

    The guarantee that makes this the substring-level complement to
    whole-document MinHash: any shared token run of length >= w + k - 1
    between two documents yields at least one SHARED fingerprint, while
    the expected density of selected hashes is ~2/(w+1) of the grams —
    a bounded, tunable sketch of local content.  (MinHash asks "are these
    documents near-identical overall?"; winnowing asks "do they share any
    substantial passage?" — the shape plagiarism / quote / template
    detection needs.  Reference scope: the reference engine has no
    substring-level dedup; this extends the dedup family beyond it.)

    Fewer than ``w`` grams degrades to one window over all grams (the
    whole short document contributes its single minimum); fewer than
    ``k`` tokens yields no fingerprints.

    Hashes are the repo's cross-engine 60-bit md5 integers so an external
    ANSI/DuckDB oracle reproduces them bit-for-bit (`sampling.py` idiom);
    pass a hot path through ``xxhash64`` instead by swapping the hash
    expression if oracle parity is not needed.

    Scale shape: gram construction is one array transform per row, but
    the HASHING and window-minimum run on EXPLODED rows — md5 inside a
    higher-order transform is interpreted per element, and so is an
    array_min/slice sliding window; the all-arrays version of this
    operator measured 175 s where this one takes 6.7 s on the same
    corpus (26x, SCALE.md).  The sliding minimum is a ROWS-frame window
    over (doc, pos): its shuffle carries only (doc_id, pos, n_grams, h)
    — the gram strings are projection-pruned before the exchange — and
    the running-min frame is O(1) amortized per row.  The final
    (doc_id, fp) distinct emits ~2·n_grams/(w+1) rows per doc.
    """
    return (_winnow_windows(docs, text_col, id_col, k, w)
            .select(id_col, "fp")
            .distinct())


def _winnow_windows(docs: DataFrame, text_col: str, id_col: str,
                    k: int, w: int) -> DataFrame:
    """One row per winnowing WINDOW: (id, _pos, fp, _n_grams) with
    _pos the 0-based window start — the position-carrying form the
    extent/span diagnostics need (``winnow_fingerprints`` is its
    distinct).  ``_n_grams`` (constant per doc) lets span extraction
    clamp to the real document extent for sub-w-gram documents."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    d = docs.select(id_col, toks.alias("_toks"))
    # r11: zip-chain gram construction (gram_zip_expr) — the old
    # per-position transform+slice form measured 5.5 s vs 1.4 s at
    # sf0.1 for identical output (each position's slice COPIES k
    # elements; the zip chain concatenates element-wise, linear).
    d = d.withColumn("_grams",
                     F.expr(gram_zip_expr("_toks", k, short="empty")))
    g = (d.select(id_col, F.size("_grams").alias("_n_grams"),
                  F.posexplode("_grams").alias("_pos", "_gram"))
          .withColumn("_h", F.expr(
              "cast(conv(substring(md5(_gram), 1, 15), 16, 10) as bigint)")))
    win = (Window.partitionBy(id_col).orderBy("_pos")
           .rowsBetween(Window.currentRow, w - 1))
    # window starts: 0..max(n_grams-w, 0) (0-based posexplode); the
    # frame past the end shrinks to the available tail, so a doc with
    # fewer than w grams contributes one whole-doc window.
    return (g.withColumn("fp", F.min("_h").over(win))
             .filter(F.col("_pos") <= F.greatest(F.col("_n_grams") - w,
                                                 F.lit(0)))
             .select(id_col, "_pos", "fp", "_n_grams"))


def winnow_dup_extent(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 4,
                      w: int = 5) -> DataFrame:
    """Per-document duplicated-passage EXTENT: how much of each document
    is covered by winnowing windows whose fingerprint also appears in at
    least one OTHER document.  Pair counting says which documents
    collide; this says how much of each document is recycled text — the
    curation number behind 'drop documents that are >50% boilerplate/
    quotation' policies (cf. the duplicate-text-mass analyses of Lee et
    al. 2022, 'Deduplicating Training Data Makes Language Models
    Better').

    Output: (id, n_windows, n_shared_windows, shared_milli) with
    shared_milli = (n_shared·1000) DIV n_windows — exact integers.

    Scale shape: the window table joins the per-fingerprint document
    frequency (one shuffle keyed on fp, map-side-combinable counts; AQE
    broadcasts it when small) and rolls up per document.  Within-doc
    repeats do NOT count as shared — the frequency is distinct-doc."""
    wins = _winnow_windows(docs, text_col, id_col, k, w)
    dfreq = (wins.select(id_col, "fp").distinct()
                 .groupBy("fp").agg(F.count(F.lit(1)).alias("_nd")))
    return (wins.join(dfreq, "fp")
                .groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("n_windows"),
                     F.sum((F.col("_nd") >= 2).cast("long"))
                      .alias("n_shared_windows"))
                .withColumn("shared_milli",
                            F.expr("CAST((n_shared_windows * 1000) DIV "
                                   "n_windows AS BIGINT)")))


def winnow_dup_pairs(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", k: int = 4, w: int = 5,
                     min_shared: int = 2,
                     max_doc_freq: int | None = None) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints,
    with an exact integer containment score: shared fingerprints vs the
    SMALLER document's fingerprint count, in milli-units — high
    containment flags a document embedded inside another (quotes,
    templated boilerplate, partial copies) that whole-document Jaccard
    dilutes away.

    Same inverted-index shape as ``ngram_jaccard_pairs``: group the
    fingerprint table into sorted posting lists, generate (i < j) pairs
    per list JVM-side, count shared fingerprints, join per-doc totals
    (AQE broadcasts the small side).  ``max_doc_freq`` is the
    stop-fingerprint guard — template fragments shared by thousands of
    documents would otherwise quadratically blow up one posting list;
    drops are observed, never silent.
    """
    fps = winnow_fingerprints(docs, text_col, id_col, k, w)
    posting = fps.groupBy("fp").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids"))
    sizes = (posting.select(F.explode("ids").alias("_sid"))
                    .groupBy("_sid").agg(F.count(F.lit(1)).alias("sz")))
    posting = posting.filter(F.size("ids") > 1)
    if max_doc_freq is not None:
        posting = _observe_dropped(
            posting, F.size("ids") > max_doc_freq,
            "winnow_dup_pairs: max_doc_freq=%d dropped %d "
            "stop-fingerprint posting lists (pairs co-occurring only "
            "through those fingerprints are lost)", max_doc_freq)
        posting = posting.filter(F.size("ids") <= max_doc_freq)
    pairs = posting.select(F.explode(F.expr(
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "b -> struct(a AS id_a, b AS id_b))))")).alias("p")
    ).select("p.id_a", "p.id_b")
    shared = pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_shared"))
    sa = sizes.select(F.col("_sid").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("_sid").alias("id_b"), F.col("sz").alias("sz_b"))
    return (shared.filter(F.col("n_shared") >= min_shared)
            .join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b", "n_shared",
                    F.expr("CAST((n_shared * 1000) DIV least(sz_a, sz_b) "
                           "AS BIGINT)").alias("containment_milli")))


def winnow_match_spans(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 4, w: int = 5,
                       min_shared: int = 2,
                       max_doc_freq: int | None = None) -> DataFrame:
    """Matched-span localization for winnowing pairs — the MOSS display
    step: for every qualifying document pair, WHERE the shared content
    sits.  Matched windows (windows whose fingerprint is also selected
    by the partner document) are clustered into token spans: a new span
    starts when consecutive matched window positions are more than
    ``w`` apart; a window at position p covers tokens [p, p+w+k-2].

    Output, one row per span per direction:
    (doc_id, other_id, span_start, span_end, n_windows) — token indexes
    are 0-based inclusive; each unordered pair appears in both
    directions because spans live in each document's own coordinates
    (the reviewer highlights both sides).

    Scale shape: pairs come from the same posting-list machinery as
    ``winnow_dup_pairs`` over ONE window table; span extraction joins
    the qualifying pairs back to the partner's fingerprint set and the
    document's own windows (both fp-keyed, AQE broadcasts the small
    pair side), then clusters with a lag/cumsum window partitioned by
    pair — state bounded by matched windows per pair, the classic
    sessionize shape."""
    wins = _winnow_windows(docs, text_col, id_col, k, w)
    fps = wins.select(id_col, "fp").distinct()
    posting = fps.groupBy("fp").agg(
        F.sort_array(F.collect_list(id_col)).alias("ids"))
    posting = posting.filter(F.size("ids") > 1)
    if max_doc_freq is not None:
        posting = _observe_dropped(
            posting, F.size("ids") > max_doc_freq,
            "winnow_match_spans: max_doc_freq=%d dropped %d "
            "stop-fingerprint posting lists", max_doc_freq)
        posting = posting.filter(F.size("ids") <= max_doc_freq)
    pairs = (posting.select(F.explode(F.expr(
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "b -> struct(a AS id_a, b AS id_b))))")).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared))
    both = (pairs.select(F.col("id_a").alias(id_col),
                         F.col("id_b").alias("other_id"))
            .unionByName(pairs.select(F.col("id_b").alias(id_col),
                                      F.col("id_a").alias("other_id"))))
    partner_fps = (both.join(
        fps.select(F.col(id_col).alias("other_id"), "fp"), "other_id"))
    matched = partner_fps.join(wins, [id_col, "fp"])
    pw = Window.partitionBy(id_col, "other_id").orderBy("_pos")
    gap = (F.col("_pos") - F.lag("_pos").over(pw) > w).cast("int")
    spans = (matched
             .withColumn("_new", F.coalesce(gap, F.lit(0)))
             .withColumn("_span", F.sum("_new").over(
                 pw.rowsBetween(Window.unboundedPreceding,
                                Window.currentRow)))
             .groupBy(id_col, "other_id", "_span")
             # span covers tokens [min_pos, max_pos + w + k - 2] for a
             # full w-gram window; a doc with fewer than w grams has one
             # truncated window, so clamp to the last real token index
             # (n_grams + k - 2; _n_grams is constant per doc).
             .agg(F.min("_pos").cast("bigint").alias("span_start"),
                  F.least(F.max("_pos") + (w + k - 2),
                          F.max("_n_grams") + (k - 2)).cast("bigint")
                   .alias("span_end"),
                  F.count(F.lit(1)).alias("n_windows"))
             .drop("_span"))
    return spans


def winnow_span_dedup(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 4, w: int = 5,
                      min_shared: int = 2,
                      max_doc_freq: int | None = None) -> DataFrame:
    """SPAN-level dedup (the Lee et al. 2022 "deduplicating training
    data" move, winnowing-backed): wherever ``winnow_match_spans``
    finds a shared run between two documents, the LATER document (the
    larger ``id_col`` — ids are crawl order in this corpus) loses the
    covered tokens; the earliest occurrence keeps its text.  Unlike
    document-level dedup this removes the quoted paragraph and keeps
    the rest of the page — the difference between dropping 30% of a
    crawl and dropping 3%.

    Returns every document as (id, clean_text, n_tokens,
    n_tokens_removed) where ``clean_text`` is the surviving tokens in
    original order, whitespace-normalized and LOWERCASED (the
    winnowing tokenization — span offsets index those tokens, so the
    cleaned text is defined over them).

    Granularity caveat: span bounds have WINDOW resolution — a match
    window whose minimum-hash fingerprint lies in the shared run may
    START up to w-1 grams before it, so up to ~w+k-2 tokens adjacent
    to the true duplicate run are swept into the removal on each
    side.  That bias (remove slightly more context around a verified
    duplicate) is the safe direction for training-data cleaning;
    tighten w for finer spans at more fingerprints/doc.

    Scale shape: spans come from the posting-list machinery (no
    all-pairs), the token×span coverage join is equi-keyed on the doc
    id (spans per doc are few — AQE broadcasts the span side), and
    reassembly is one per-doc aggregation of (pos, token) structs.
    State per doc is bounded by its own token count."""
    spans = winnow_match_spans(docs, text_col, id_col, k, w,
                               min_shared=min_shared,
                               max_doc_freq=max_doc_freq)
    # the later doc of each matched pair loses the span
    mine = (spans.filter(F.col(id_col) > F.col("other_id"))
            .select(id_col, "span_start", "span_end"))
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tok_rows = docs.select(id_col, F.posexplode(toks)
                           .alias("_pos", "_tok"))
    covered = (tok_rows.join(mine, id_col)
               .filter((F.col("_pos") >= F.col("span_start"))
                       & (F.col("_pos") <= F.col("span_end")))
               .select(id_col, "_pos").distinct())
    kept = tok_rows.join(covered, [id_col, "_pos"], "left_anti")
    agg = (kept.groupBy(id_col)
           .agg(F.concat_ws(" ", F.transform(
                   F.array_sort(F.collect_list(
                       F.struct(F.col("_pos"), F.col("_tok")))),
                   lambda s: s["_tok"])).alias("clean_text"),
                F.count(F.lit(1)).alias("n_kept")))
    # LEFT join from docs: a fully-covered document (a whole-doc
    # duplicate) must still appear, with empty text
    return (docs.select(id_col, F.size(toks).alias("_orig"))
            .join(agg, id_col, "left")
            .select(id_col,
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("n_kept", F.lit(0)).cast("bigint")
                     .alias("n_tokens"),
                    (F.col("_orig") - F.coalesce("n_kept", F.lit(0)))
                    .cast("bigint").alias("n_tokens_removed")))


def _minhash_sig_md5(docs: DataFrame, text_col: str, id_col: str,
                     n: int, num_hashes: int) -> DataFrame:
    """md5-family MinHash signature table (one wide row per doc):
    h1 = 48-bit md5 prefix of the shingle, h2 = 32-bit md5 prefix of
    shingle||':2', minhash_i = MIN(h1 + i*h2) — Kirsch-Mitzenmacher,
    overflow-free in a signed 64-bit int, bit-reproducible in SQL."""
    ex = shingle_docs(docs, text_col, id_col, n, distinct=False)
    h1 = F.conv(F.substring(F.md5(F.col("shingle")), 1, 12), 16, 10) \
        .cast("bigint")
    h2 = F.conv(F.substring(
        F.md5(F.concat(F.col("shingle"), F.lit(":2"))), 1, 8), 16, 10) \
        .cast("bigint")
    ex = ex.select(id_col, h1.alias("_h1"), h2.alias("_h2"))
    mins = [F.min(F.col("_h1") + F.lit(i) * F.col("_h2")).alias(f"h{i}")
            for i in range(num_hashes)]
    return ex.groupBy(id_col).agg(*mins)


def _minhash_bands_md5(sig: DataFrame, id_col: str, num_hashes: int,
                       bands: int) -> DataFrame:
    """(id, band, bucket) rows from a signature table: bucket = md5 of
    the comma-joined band slice."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{i}").cast("string")
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        band_cols.append(F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", *cols)).alias("bucket")))
    return (sig.select(id_col, F.explode(F.array(*band_cols)).alias("bb"))
            .select(id_col, "bb.band", "bb.bucket"))


def minhash_lsh_pairs_md5(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 3,
                          num_hashes: int = 16, bands: int = 4,
                          threshold: float = 0.5) -> DataFrame:
    """ORACLE-EXACT MinHash-LSH (round 8): the same banding / bucket
    self-join / signature-similarity pipeline as
    :func:`minhash_lsh_pairs`, but with the md5-derived hash family
    (the CMS discipline, ``sketches.py``) instead of xxhash64 — every
    stage is bit-for-bit reproducible by an external SQL engine, so
    the WHOLE sketch pipeline carries a full value oracle instead of a
    rows-only row.

    Hash family: h1 = 48-bit md5 prefix of the shingle, h2 = 32-bit
    md5 prefix of shingle||':2', minhash_i = MIN(h1 + i*h2)
    (Kirsch-Mitzenmacher, overflow-free in a signed 64-bit int for
    i < 2^16); band bucket = md5 of the comma-joined band signature.

    This is the VERIFIABILITY variant, not the fast path: md5 costs
    ~3x xxhash64 per shingle, so production dedup at 100 TB stays on
    :func:`minhash_lsh_pairs`; use this one where cross-engine
    auditability matters (driver gates, compliance reruns), or as the
    differential reference for the fast path's behavior."""
    if num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes "
                         f"({num_hashes})")
    # r13 (guide §5): the md5 shingle+signature aggregate feeds FOUR
    # subtree copies (both bucket-join sides + both scoring rejoins) —
    # the same one-materialization pin the fast path got in r13
    # (minhash_lsh_pairs); MIN aggregates are order-independent, so
    # the cached layout cannot change a value.
    from ..session import track_persist
    sig = track_persist(
        _minhash_sig_md5(docs, text_col, id_col, n, num_hashes))
    banded = _minhash_bands_md5(sig, id_col, num_hashes, bands)
    cand = (banded.alias("a")
            .join(banded.alias("b"),
                  (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.bucket") == F.col("b.bucket"))
                  & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    sa = sig.select(F.col(id_col).alias("id_a"),
                    *[F.col(f"h{i}").alias(f"a{i}")
                      for i in range(num_hashes)])
    sb = sig.select(F.col(id_col).alias("id_b"),
                    *[F.col(f"h{i}").alias(f"b{i}")
                      for i in range(num_hashes)])
    scored = cand.join(sa, "id_a").join(sb, "id_b")
    sim = sum([(F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
               for i in range(num_hashes)]) / num_hashes
    return (scored.filter(sim >= threshold)
                  .withColumn("est_jaccard", F.round(sim, 4))
                  .select("id_a", "id_b", "est_jaccard"))


def simhash_near_pairs_md5(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           max_hamming: int = 5,
                           bits: int = 60,
                           n_blocks: int | None = None) -> DataFrame:
    """ORACLE-EXACT SimHash near-dup pairs (round 8): the same per-bit
    sign-vote signature and pigeonhole block join as
    :func:`simhash_near_pairs`, with a 60-bit md5-derived token hash
    (the engine-portable 60-bit prefix every md5 primitive here uses)
    so the WHOLE pipeline — votes, signature, blocks, Hamming
    distances — is bit-reproducible in SQL.

    60 bits keep every intermediate positive in a signed 64-bit int,
    so block extraction is plain div/mod on BOTH engines (no
    engine-specific shift/sign semantics); Hamming distance is
    bit_count(xor(a, b)), available on both.  Recall guarantee is the
    Manku pigeonhole: exact for hamming <= n_blocks - 1.

    The xxhash64 variant stays the fast path (md5 is ~3x per token);
    this one exists for driver gates and cross-engine audits."""
    if bits < 1 or bits > 60:
        raise ValueError(f"bits must be in [1, 60]: {bits}")
    if n_blocks is None:
        n_blocks = min(max_hamming + 1, 6)
    if bits % n_blocks != 0:
        raise ValueError(f"n_blocks ({n_blocks}) must divide bits "
                         f"({bits})")
    width = bits // n_blocks
    # r14: signature via the zero-exchange Arrow kernel (same rework
    # as the xxhash64 fast path — see _simhash_kernel; the md5-derived
    # 60-bit token hash is still computed in the JVM, so every value
    # the DuckDB oracle recomputes is bit-identical).  The pre-r14
    # explode + 60-conditional-SUM groupBy paid a full token-stream
    # exchange per signature evaluation.
    # r13 (guide §5): same one-materialization pin as the xxhash64
    # variant — the signature feeds both block-join sides.
    from ..session import track_persist
    sigs = track_persist(_simhash_kernel(docs, text_col, id_col,
                                         _MD5_60BIT_TOKEN_SQL, bits))
    blocks = F.array(*[
        F.struct(F.lit(i).alias("blk_id"),
                 F.expr(f"(simhash DIV {2 ** (i * width)}) "
                        f"% {2 ** width}").alias("blk_val"))
        for i in range(n_blocks)])
    blocked = sigs.select(id_col, "simhash",
                          F.explode(blocks).alias("b")) \
                  .select(id_col, "simhash", "b.blk_id", "b.blk_val")
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = (a.join(b, (F.col("a.blk_id") == F.col("b.blk_id"))
                    & (F.col("a.blk_val") == F.col("b.blk_val"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     F.col("a.simhash").alias("sig_a"),
                     F.col("b.simhash").alias("sig_b"))
             # hamming filter before the dedup shuffle — see the
             # fast-path comment above
             .withColumn("hamming", F.bit_count(
                 F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int"))
             .filter(F.col("hamming") <= max_hamming)
             .dropDuplicates(["id_a", "id_b"]))
    return pairs.select("id_a", "id_b", "hamming")


def dedup_weights(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", source_col: str = "source",
                  cap: int = 4) -> DataFrame:
    """Soft dedup with repeat weights (the data-constrained-scaling
    discipline: drop the copies but KEEP the duplication evidence as a
    per-survivor training weight).  One row per distinct text:
    canonical keeper id, raw multiplicity (``weight``), the capped
    epoch-repeat weight (``weight_capped`` — repeating data beyond ~4
    epochs stops helping, so the cap is the usable training weight),
    and the distinct-source spread (cross-source duplication is a
    quality PRIOR — independently collected copies signal value, same-
    source copies signal crawler artifacts).

    Scale shape: a single groupBy on the md5 text hash — the shuffle
    carries the 32-char digest, never the document body, and the
    aggregate is map-side combinable.  No pair generation."""
    key = F.md5(F.encode(F.col(text_col), "UTF-8"))
    return (docs.select(F.col(id_col), key.alias("text_hash"),
                        F.col(source_col))
            .groupBy("text_hash")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).cast("bigint").alias("weight"),
                 F.least(F.count(F.lit(1)), F.lit(cap))
                  .cast("bigint").alias("weight_capped"),
                 F.countDistinct(source_col).cast("bigint")
                  .alias("n_sources")))


def minhash_store_md5(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      num_hashes: int = 16,
                      bands: int = 4) -> tuple[DataFrame, DataFrame]:
    """The persistable seen-store for incremental near-dup detection:
    ``(signatures, banded)`` for a corpus slice.  Write both once per
    ingested batch (append-only); later batches probe them via
    :func:`minhash_incremental_pairs_md5` without re-shingling the
    corpus."""
    if num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes "
                         f"({num_hashes})")
    sig = _minhash_sig_md5(docs, text_col, id_col, n, num_hashes)
    return sig, _minhash_bands_md5(sig, id_col, num_hashes, bands)


def minhash_incremental_pairs_md5(new_docs: DataFrame,
                                  seen_docs: DataFrame = None,
                                  text_col: str = "text",
                                  id_col: str = "doc_id", n: int = 3,
                                  num_hashes: int = 16, bands: int = 4,
                                  threshold: float = 0.5,
                                  seen_store: tuple | None = None
                                  ) -> DataFrame:
    """Incremental near-dup detection: score a NEW batch against an
    EXISTING corpus — the daily-crawl pattern — with NO self-join on
    either side.  Candidates come from joining the new batch's band
    buckets against the seen side's banded table only, so the join is
    |new batch| x bucket-hit-rate, never |corpus|^2.

    The seen side comes in one of two forms: ``seen_docs`` (raw
    documents — convenient, but re-shingles the corpus every call) or
    ``seen_store`` (the ``(signatures, banded)`` pair from
    :func:`minhash_store_md5`, read back from its persisted parquet).
    At 100 TB ALWAYS pass ``seen_store``: the store is the append-only
    artifact each ingested batch extends, and the per-batch cost is
    then the new batch's shingling plus the bucket probe — the corpus
    is never re-read.

    Output: (new_id, seen_id, est_jaccard) with the same
    signature-agreement estimate and ``threshold`` as the batch
    operator.  Oracle-exact (md5 family)."""
    if num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes "
                         f"({num_hashes})")
    if (seen_docs is None) == (seen_store is None):
        raise ValueError(
            "pass exactly one of seen_docs / seen_store")
    # r13 (guide §5): each signature table feeds its banded probe AND
    # its scoring rejoin — pinned so each side shingles once.  The
    # seen_store path is left unpinned: it is already a parquet
    # re-read, not a recomputation.
    from ..session import track_persist
    sig_new = track_persist(_minhash_sig_md5(new_docs, text_col,
                                             id_col, n, num_hashes))
    bn = _minhash_bands_md5(sig_new, id_col, num_hashes, bands)
    if seen_store is not None:
        sig_seen, bs = seen_store
    else:
        sig_seen = track_persist(_minhash_sig_md5(seen_docs, text_col,
                                                  id_col, n, num_hashes))
        bs = _minhash_bands_md5(sig_seen, id_col, num_hashes, bands)
    cand = (bn.alias("a")
            .join(bs.alias("b"),
                  (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.bucket") == F.col("b.bucket")))
            .select(F.col(f"a.{id_col}").alias("new_id"),
                    F.col(f"b.{id_col}").alias("seen_id"))
            .dropDuplicates(["new_id", "seen_id"]))
    sa = sig_new.select(F.col(id_col).alias("new_id"),
                        *[F.col(f"h{i}").alias(f"a{i}")
                          for i in range(num_hashes)])
    sb = sig_seen.select(F.col(id_col).alias("seen_id"),
                         *[F.col(f"h{i}").alias(f"b{i}")
                           for i in range(num_hashes)])
    scored = cand.join(sa, "new_id").join(sb, "seen_id")
    sim = sum([(F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
               for i in range(num_hashes)]) / num_hashes
    return (scored.filter(sim >= threshold)
                  .withColumn("est_jaccard", F.round(sim, 4))
                  .select("new_id", "seen_id", "est_jaccard"))


def keep_best(docs: DataFrame, score_col: str, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Quality-priority exact dedup: one survivor per duplicate text
    group — the HIGHEST-``score_col`` copy (ties by lowest id), not
    the first-seen one.  The curation-correct survivor rule when
    copies differ in metadata quality (a clean mirror beats a
    boilerplate-wrapped crawl of the same body).  One md5-keyed
    window; shuffle carries (digest, score, id), never bodies twice."""
    key = F.md5(F.encode(F.col(text_col), "UTF-8"))
    w = Window.partitionBy("text_hash").orderBy(
        F.desc(score_col), F.asc(id_col))
    return (docs.withColumn("text_hash", key)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(id_col, "text_hash", F.col(score_col)))


def soft_dedup_weights(docs: DataFrame, id_col: str = "doc_id",
                       max_dist: int = 20, prefix_chars: int = 80,
                       block_width: int = 100,
                       text_col: str = "text",
                       block_cols: tuple[str, ...] = ("lang",)
                       ) -> DataFrame:
    """Soft deduplication: instead of DROPPING near-duplicates,
    down-weight them — every document's training weight is
    1 / |its transitive near-dup group| in exact integer ppm, the
    keep-information-lose-redundancy alternative to hard dedup.
    Near-dup edges come from blocked Levenshtein
    (``edit_distance_pairs``); transitive groups from the distributed
    large-star/small-star CC (``graph.connected_components``);
    singletons weigh 1.0 (1,000,000 ppm).

    Output: (id_col, group_size int, weight_ppm long).  This is the
    operator behind the ``docs_softdedup_weights`` oracle entry and
    the ``dedup`` CLI/HTTP action (VERDICT r11 task 5)."""
    from . import graph as G
    pairs = edit_distance_pairs(docs, max_dist=max_dist,
                                prefix_chars=prefix_chars,
                                block_width=block_width,
                                text_col=text_col, id_col=id_col,
                                block_cols=block_cols)
    comp = G.connected_components(pairs, src="id_a", dst="id_b")
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("_gsz"))
    labeled = (docs.select(id_col)
               .join(comp, docs[id_col] == comp["node"], "left")
               .join(sizes, "component", "left")
               .select(id_col,
                       F.coalesce("_gsz", F.lit(1)).alias("_gsz")))
    return labeled.select(
        id_col,
        F.col("_gsz").cast("int").alias("group_size"),
        F.expr("1000000 div _gsz").cast("long").alias("weight_ppm"))


def soft_dedup_components(docs: DataFrame, id_col: str = "doc_id",
                          max_dist: int = 20, prefix_chars: int = 80,
                          block_width: int = 100,
                          text_col: str = "text",
                          block_cols: tuple[str, ...] = ("lang",)
                          ) -> DataFrame:
    """Transitive near-dup group labels over the same blocked-
    Levenshtein edge set as ``soft_dedup_weights``; only documents that
    appear in at least one pair are labeled (the connected_components
    contract — callers join back for singletons)."""
    from . import graph as G
    pairs = edit_distance_pairs(docs, max_dist=max_dist,
                                prefix_chars=prefix_chars,
                                block_width=block_width,
                                text_col=text_col, id_col=id_col,
                                block_cols=block_cols)
    return (G.connected_components(pairs, src="id_a", dst="id_b")
            .select(F.col("node").alias(id_col), "component"))


def dedup_frame(docs: DataFrame, mode: str, id_col: str = "doc_id",
                **kw) -> DataFrame:
    """Mode dispatch for the ``dedup`` CLI/HTTP action: ``soft`` →
    1/|group| training weights, ``groups`` → transitive component
    labels, ``keep`` → canonical survivors (each group's min id —
    the component label IS the min member, so survivors are exactly
    the rows whose label equals their own id, plus all singletons),
    ``semantic`` → embedding-space survivors (frozen-cell SemDeDup
    over a vector table; accepts ``threshold``/``n_assign``/
    ``vec_col`` instead of the text-blocking knobs)."""
    if mode == "semantic":
        from .similarity import semantic_dedup_frozen
        return semantic_dedup_frozen(docs, id_col=id_col, **kw)
    if mode == "soft":
        return soft_dedup_weights(docs, id_col=id_col, **kw)
    if mode == "groups":
        return soft_dedup_components(docs, id_col=id_col, **kw)
    if mode == "keep":
        comp = soft_dedup_components(docs, id_col=id_col, **kw)
        drop = (comp.filter(F.col(id_col) != F.col("component"))
                .select(id_col))
        return docs.join(drop, id_col, "left_anti")
    raise ValueError(
        f"mode must be soft|groups|keep|semantic, got {mode!r}")

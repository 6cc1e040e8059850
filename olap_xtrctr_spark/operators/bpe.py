"""Distributed BPE (byte-pair-encoding) tokenizer training and
encoding over a document corpus.

Training follows the classic word-count pre-aggregation (Sennrich et
al. 2016): the corpus collapses ONCE into a (word, freq) table — one
shuffle over corpus tokens; every merge iteration then runs over that
vocabulary-sized table, never the corpus again.  Per iteration:

1. adjacent symbol pairs per word (``arrays_zip`` of the two shifted
   slices — every adjacent position counts, matching the reference
   ``get_stats``), weighted by word freq, groupBy-summed (map-side
   combinable);
2. the argmax pair with a deterministic tie-break (count desc, then
   lexicographic) — a 1-row collect;
3. the merge applied to every word's symbol array with a JVM-side
   ``aggregate`` fold (greedy left-to-right non-overlapping, the
   reference's replace semantics) — no Python in the loop.

Scale shape (100 TB posture): the corpus is touched once (token
explode + groupBy); iterations cost O(|distinct words|) each, which is
vocabulary-sized (10^7-10^8 at web scale), not corpus-sized.  The
driver holds only the merge table (num_merges rows) and per-iteration
1-row argmax results.  Lineage is truncated with localCheckpoint every
few merges so the plan does not grow linearly in num_merges.

Encoding inverts the same trick: segment only the DISTINCT words
(pandas_udf over the vocab table — tokenization is inherently an
iterative per-word loop, the one justified Python step), then
broadcast-join segment lengths back onto the corpus.  Encode cost is
O(|distinct words|) Python + one broadcast join, not O(corpus) Python.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

END_WORD = "</w>"   # end-of-word marker symbol (Sennrich convention)


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus -> (word, freq): the one corpus-wide pass."""
    return (docs.select(F.explode(
                F.split(F.trim(F.col(text_col)), r"\s+")).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word").agg(F.count("*").alias("freq")))


def _initial_symbols(words: DataFrame) -> DataFrame:
    """word -> its character symbols + the end-of-word marker."""
    chars = F.expr("filter(split(word, ''), x -> x != '')")
    return words.withColumn(
        "syms", F.concat(chars, F.array(F.lit(END_WORD))))


def _pair_counts(syms: DataFrame) -> DataFrame:
    """Freq-weighted counts of every adjacent symbol position."""
    pairs = F.expr(
        "arrays_zip(slice(syms, 1, size(syms) - 1), "
        "           slice(syms, 2, size(syms) - 1))")
    return (syms.select("freq", F.explode(pairs).alias("p"))
            .select(F.col("p")["0"].alias("left"),
                    F.col("p")["1"].alias("right"), "freq")
            .groupBy("left", "right")
            .agg(F.sum("freq").alias("pair_count")))


def _apply_merge(syms_col, left: str, right: str):
    """Greedy left-to-right non-overlapping merge of (left, right) ->
    left||right inside a symbol array, as a JVM aggregate fold."""
    a, b = F.lit(left), F.lit(right)
    return F.aggregate(
        syms_col,
        F.array().cast(T.ArrayType(T.StringType())),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == a) & (x == b),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.concat(a, b)))
        ).otherwise(F.concat(acc, F.array(x))))


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint()`` frame now.
    ``df.unpersist()`` frees nothing here: the blocks belong to the
    checkpointed RDD under the plan, which the cache manager never saw,
    so they would stay until the context cleaner collects that RDD."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def train_bpe(docs: DataFrame, num_merges: int = 24,
              text_col: str = "text",
              checkpoint_every: int = 6) -> tuple[list, DataFrame]:
    """Learn ``num_merges`` BPE merges.  Returns (merges, final_syms):
    merges = [(rank, left, right, pair_count)] in learn order;
    final_syms = the (word, freq, syms) table after all merges (the
    trained segmentation of the observed vocabulary)."""
    ckpt = _initial_symbols(word_counts(docs, text_col)).localCheckpoint()
    syms = ckpt
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        top = (_pair_counts(syms)
               .orderBy(F.desc("pair_count"), "left", "right")
               .limit(1).collect())
        if not top:
            break                       # vocabulary fully merged
        left, right, cnt = top[0]["left"], top[0]["right"], \
            int(top[0]["pair_count"])
        merges.append((rank, left, right, cnt))
        syms = syms.withColumn("syms",
                               _apply_merge(F.col("syms"), left, right))
        if (rank + 1) % checkpoint_every == 0:
            # a new checkpoint holds the merged data; the previous
            # one's blocks are unreachable from the new lineage, so
            # free them now instead of waiting for driver-side GC to
            # reach the ContextCleaner (ADVICE r13 — a long-lived
            # session otherwise accumulates one superseded vocab copy
            # per checkpoint interval per training run)
            new = syms.localCheckpoint()
            release_local_checkpoint(ckpt)
            syms = ckpt = new
    # the returned plan still reads the LAST live checkpoint; hand the
    # caller its handle so it can free the blocks once it has drained
    # the symbols table (collect / write) — see docs_segments._trained_bpe
    syms._sgr_ckpt = ckpt
    return merges, syms


def reference_bpe(word_freqs: dict[str, int],
                  num_merges: int) -> list[tuple[int, str, str, int]]:
    """Pure-Python reference implementation (same semantics, no Spark)
    — the differential gate for the distributed trainer."""
    vocab = {w: list(w) + [END_WORD] for w in word_freqs}
    merges = []
    for rank in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, freq in word_freqs.items():
            s = vocab[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = \
                    counts.get((s[i], s[i + 1]), 0) + freq
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, left, right, cnt))
        for w in vocab:
            s, out = vocab[w], []
            for x in s:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            vocab[w] = out
    return merges


def gated_train_bpe(docs: DataFrame, num_merges: int = 24,
                    text_col: str = "text",
                    gate_max_vocab: int = 200_000,
                    ) -> tuple[list, DataFrame]:
    """train_bpe + an exact differential gate: the distributed merge
    table must equal the pure-Python reference run on the same
    (word, freq) table, or this raises RuntimeError.  Vocabularies
    beyond ``gate_max_vocab`` skip the gate with a logged warning (the
    reference pass is driver-side; it must not become the bottleneck
    the distributed trainer exists to avoid)."""
    merges, syms = train_bpe(docs, num_merges, text_col)
    wc = word_counts(docs, text_col)
    n_vocab = wc.count()
    if n_vocab > gate_max_vocab:
        import logging
        logging.getLogger(__name__).warning(
            "BPE reference gate skipped (%d words > cap %d) — covered "
            "by tests/test_bpe.py", n_vocab, gate_max_vocab)
        return merges, syms
    ref = reference_bpe({r["word"]: r["freq"] for r in wc.collect()},
                        num_merges)
    if ref != merges:
        raise RuntimeError(
            f"distributed BPE diverged from reference: "
            f"{merges} != {ref}")
    return merges, syms


def _segment_word(word: str, rank_of: dict[tuple[str, str], int]) -> list:
    """Encode one word with learned merges by priority (HF algorithm):
    repeatedly merge the present pair with the lowest merge rank."""
    s = list(word) + [END_WORD]
    while len(s) > 1:
        best, best_rank = None, None
        for i in range(len(s) - 1):
            r = rank_of.get((s[i], s[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = i, r
        if best is None:
            break
        s[best:best + 2] = [s[best] + s[best + 1]]
    return s


def bpe_encode(docs: DataFrame, merges: list,
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Encode the corpus with learned merges.  Python touches only the
    DISTINCT words (pandas_udf over the vocab table); per-doc BPE token
    counts come from a join of the per-word segment lengths — the
    corpus itself stays JVM-side.  Output: (doc_id, n_words,
    n_bpe_tokens); a document with no non-empty tokens (empty /
    whitespace-only text) still gets a row with zero counts.

    The vocab join carries NO forced broadcast hint: at web scale the
    distinct-word table is 10^7–10^8 rows and a forced broadcast would
    blow the broadcast limit instead of degrading; the vocab side is an
    aggregation output whose runtime size AQE sees exactly, so small
    vocabs still get a broadcast join and huge ones degrade to a
    shuffle join gracefully."""
    rank_of = {(left, right): rank for rank, left, right, _ in merges}

    @F.pandas_udf(T.IntegerType())
    def seg_len(words):
        return words.map(lambda w: len(_segment_word(w, rank_of))) \
            .astype("int32")

    toks = (docs.select(
        id_col,
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word"))
        .filter(F.col("word") != ""))
    vocab = toks.select("word").distinct().withColumn(
        "n_sub", seg_len(F.col("word")))
    agg = (toks.join(vocab, "word")
           .groupBy(id_col)
           .agg(F.count("*").cast("bigint").alias("n_words"),
                F.sum("n_sub").cast("bigint").alias("n_bpe_tokens")))
    return (docs.select(id_col).join(agg, id_col, "left")
            .select(id_col,
                    F.coalesce("n_words", F.lit(0)).cast("bigint")
                     .alias("n_words"),
                    F.coalesce("n_bpe_tokens", F.lit(0)).cast("bigint")
                     .alias("n_bpe_tokens")))


def bpe_roundtrip(docs: DataFrame, merges: list,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Tokenizer integrity gate: encode every word, reconstruct it from
    its own segments (concatenate, strip the end-of-word marker), and
    report per document how many words FAILED to round-trip plus the
    total reconstructed character count.  BPE merges only concatenate,
    so the contract is zero losses and recon_chars == the document's
    non-whitespace character count — an independent oracle states that
    contract directly, and any segmentation bug (dropped symbol,
    double-merge, marker leak) breaks the match.

    Output: (doc_id, n_words, n_bad_words, recon_chars); a document
    with no non-empty tokens still gets a row with zero counts.

    Same scale shape as ``bpe_encode``: Python touches only the
    DISTINCT words; the corpus pays one vocab join (no forced
    broadcast — AQE picks broadcast vs shuffle from the vocab's
    runtime size, see ``bpe_encode``), no Python."""
    rank_of = {(left, right): rank for rank, left, right, _ in merges}

    @F.pandas_udf(T.StructType([
        T.StructField("bad", T.IntegerType()),
        T.StructField("rlen", T.IntegerType())]))
    def check(words):
        import pandas as pd

        def one(w):
            segs = _segment_word(w, rank_of)
            recon = "".join(segs)
            recon = recon[:-len(END_WORD)] \
                if recon.endswith(END_WORD) else recon
            return (0 if recon == w else 1, len(recon))

        res = words.map(one)
        return pd.DataFrame({"bad": res.map(lambda t: t[0]).astype("int32"),
                             "rlen": res.map(lambda t: t[1]).astype("int32")})

    toks = (docs.select(
        id_col,
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word"))
        .filter(F.col("word") != ""))
    vocab = toks.select("word").distinct() \
        .withColumn("_c", check(F.col("word"))) \
        .select("word", F.col("_c.bad").alias("_bad"),
                F.col("_c.rlen").alias("_rlen"))
    agg = (toks.join(vocab, "word")
           .groupBy(id_col)
           .agg(F.count("*").cast("bigint").alias("n_words"),
                F.sum("_bad").cast("bigint").alias("n_bad_words"),
                F.sum("_rlen").cast("bigint").alias("recon_chars")))
    return (docs.select(id_col).join(agg, id_col, "left")
            .select(id_col,
                    F.coalesce("n_words", F.lit(0)).cast("bigint")
                     .alias("n_words"),
                    F.coalesce("n_bad_words", F.lit(0)).cast("bigint")
                     .alias("n_bad_words"),
                    F.coalesce("recon_chars", F.lit(0)).cast("bigint")
                     .alias("recon_chars")))

"""Segment-level corpus dedup: drop repeated text *segments* (fixed
token windows standing in for sentences/lines) across the whole corpus
while keeping each document's remaining text in order.

Two standard curation moves from the LLM-data literature:

* ``segment_dedup`` — corpus-wide first-occurrence segment dedup
  (CCNet / Lee et al. 2022 line-level dedup): every distinct segment
  survives exactly once, in the earliest (doc_id, position) it appears;
  later occurrences are cut out of their documents.
* ``segment_freq_filter`` — frequency-based boilerplate removal
  (RefinedWeb-style): segments appearing in more than ``max_docs``
  distinct documents are dropped from *all* of them (navigation bars,
  headers, license blurbs).

Both reuse :func:`..operators.text.chunk_overlap` with
``stride == chunk_tokens`` so segments are the non-overlapping token
windows ``[i*k, (i+1)*k)`` — deterministic on both engines, and the
final short window is kept (every token belongs to exactly one
segment).

Scale shape (100 TB posture): segmentation is a narrow per-row
explode (no shuffle).  ``segment_dedup`` adds ONE shuffle — the
first-occurrence window partitions by the segment text (tiny groups:
a segment's own occurrence list) — and one groupBy(doc_id) to
reassemble.  ``segment_freq_filter`` aggregates per-segment distinct
doc counts (map-side combinable) and the >max_docs survivors form a
small hot list that broadcasts back, so the corpus itself shuffles
only for the reassembly groupBy.  Neither materializes pairs, so hot
segments (the power-law case) cost their own group size, not a
quadratic blow-up.  At 100 TB you would window on xxhash64(segment)
instead of the string to shrink shuffle bytes (a 2^-64 collision
wrongly merges two segments — acceptable for dedup); the string form
here keeps the external oracle bit-exact.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import chunk_overlap


def _segments(docs: DataFrame, seg_tokens: int,
              text_col: str, id_col: str) -> DataFrame:
    return chunk_overlap(docs, chunk_tokens=seg_tokens, stride=seg_tokens,
                         text_col=text_col, id_col=id_col)


def _reassemble(segs: DataFrame, id_col: str) -> DataFrame:
    """(doc_id, chunk_idx, chunk_text, _keep) -> one row per doc with
    the kept segments re-joined in position order.  collect_list skips
    the NULLs produced for dropped segments; array_sort on the
    (chunk_idx, chunk_text) struct restores document order."""
    kept = F.when(F.col("_keep"), F.struct("chunk_idx", "chunk_text"))
    return (segs.groupBy(id_col)
            .agg(F.count("*").cast("bigint").alias("n_segments"),
                 F.sum(F.col("_keep").cast("long")).cast("bigint")
                  .alias("n_kept"),
                 F.array_sort(F.collect_list(kept)).alias("_ks"))
            .select(id_col, "n_segments", "n_kept",
                    F.concat_ws(
                        " ", F.transform(F.col("_ks"),
                                         lambda s: s["chunk_text"]))
                     .alias("kept_text")))


def segment_dedup(docs: DataFrame, seg_tokens: int = 8,
                  text_col: str = "text",
                  id_col: str = "doc_id",
                  hash_keys: bool = False) -> DataFrame:
    """Corpus-wide first-occurrence segment dedup.

    A segment survives only at its globally earliest (doc_id, position);
    every later occurrence anywhere in the corpus is removed.  Output:
    (doc_id, n_segments, n_kept, kept_text) — one row per input doc,
    kept_text empty when every segment was seen earlier elsewhere.

    ``hash_keys=True`` keys the first-occurrence window on
    xxhash64(segment) instead of the segment text — the 100 TB shuffle
    trade-off (8-byte keys instead of whole segments on the wire; a
    2^-64 collision wrongly merges two segments, acceptable for dedup).
    Output is byte-identical barring such a collision — equivalence is
    unit-tested; the string form stays the default so the external
    oracle comparison is collision-free by construction."""
    segs = _segments(docs, seg_tokens, text_col, id_col)
    key = F.xxhash64("chunk_text") if hash_keys else F.col("chunk_text")
    w = (Window.partitionBy(key)
         .orderBy(F.col(id_col), F.col("chunk_idx")))
    segs = segs.withColumn("_keep", F.row_number().over(w) == 1)
    return _reassemble(segs, id_col)


def segment_dedup_incremental(new_docs: DataFrame,
                              seen: DataFrame | None,
                              seg_tokens: int = 8,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              ) -> tuple[DataFrame, DataFrame]:
    """One ingestion step of ONLINE segment dedup: drop segments seen
    in any earlier batch (via the ``seen`` store) or earlier in this
    batch (within-batch first-occurrence window), reassemble the
    survivors per document, and return ``(result, updated_seen)``.

    When batches arrive in ``id_col`` order, folding this over the
    batches equals the one-shot :func:`segment_dedup` of their union —
    the exactness contract the oracle entry checks.

    Scale shape: the seen-store probe is an equi-join on the segment
    text — at steady state the store is large, so this is a shuffle
    hash join, and the 100 TB path is the bucketed seen-store
    discipline of ``sources/bucketing.py`` (store pre-partitioned on
    the segment key; only the new batch shuffles).  The returned
    ``updated_seen`` is a lazy plan — persist or checkpoint it between
    batches so the store's lineage does not grow with batch count."""
    segs = _segments(new_docs, seg_tokens, text_col, id_col)
    w = (Window.partitionBy("chunk_text")
         .orderBy(F.col(id_col), F.col("chunk_idx")))
    segs = segs.withColumn("_first", F.row_number().over(w) == 1)
    if seen is not None:
        segs = segs.join(seen.withColumn("_seen", F.lit(True)),
                         "chunk_text", "left")
        segs = segs.withColumn("_keep",
                               F.col("_first") & F.col("_seen").isNull())
    else:
        segs = segs.withColumn("_keep", F.col("_first"))
    result = _reassemble(segs, id_col)
    new_segs = segs.select("chunk_text").distinct()
    updated = (new_segs if seen is None
               else seen.select("chunk_text").unionByName(new_segs)
               .distinct())
    return result, updated


def segment_freq_filter(docs: DataFrame, seg_tokens: int = 8,
                        max_docs: int = 2, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Drop segments occurring in more than ``max_docs`` distinct
    documents — from every document, including the first (boilerplate
    has no canonical owner).  Output (doc_id, n_segments, n_kept,
    kept_text)."""
    segs = _segments(docs, seg_tokens, text_col, id_col)
    hot = (segs.groupBy("chunk_text")
           .agg(F.countDistinct(id_col).alias("_nd"))
           .filter(F.col("_nd") > max_docs)
           .select("chunk_text"))
    segs = (segs.join(F.broadcast(hot.withColumn("_hot", F.lit(True))),
                      "chunk_text", "left")
            .withColumn("_keep", F.col("_hot").isNull()))
    return _reassemble(segs, id_col)


def duplicate_span_removal(docs: DataFrame, k: int = 8,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           hash_keys: bool = False) -> DataFrame:
    """EXACT duplicated-span detection at stride 1 (Lee et al. 2022
    exact-substring dedup, token granularity): every maximal run of
    tokens that contains a k-token window already seen earlier in the
    corpus (earlier = smaller (doc_id, position)) is reported as a
    duplicate span.  This is the strongest dedup guarantee in the
    family — ``segment_dedup`` only catches duplicates aligned to its
    non-overlapping k-grid, and the winnowing operators SAMPLE
    fingerprints; here every k-token window counts, so a copied
    passage is caught at any offset.

    Output one row per document: (doc_id, n_tokens, n_dup_spans,
    n_dup_tokens, dup_spans) with dup_spans the position-sorted
    "start-end" list (0-based inclusive token indices).  Documents
    with no duplicated window report 0/0/''.  Matching is lowercased
    (family convention); documents shorter than k tokens have no
    complete window and never match — k is the minimum match length,
    exactly as in the suffix-array formulation.

    Scale shape: stride-1 shingling is a narrow lead-window per doc
    (one doc-keyed exchange); first-occurrence marking is ONE shuffle
    keyed by the shingle text (a shingle's group is its own occurrence
    list — linear in duplication depth, no pairs); span merging is a
    per-document interval-merge window over only the MARKED positions
    (duplicate-mass-sized, not corpus-sized).  ``hash_keys=True`` keys
    the marking window on xxhash64(shingle) — the 100 TB shuffle
    trade-off (8-byte keys on the wire; a 2^-64 collision wrongly
    marks a window, acceptable for dedup; equivalence unit-tested) —
    while the string default keeps the external oracle collision-free."""
    from .segments_spans import merged_span_report, stride1_grams

    grams = stride1_grams(docs, k, text_col, id_col)
    key = F.xxhash64("_sh") if hash_keys else F.col("_sh")
    wsh = Window.partitionBy(key).orderBy(F.col(id_col), F.col("_p"))
    marked = (grams.withColumn("_rn", F.row_number().over(wsh))
              .filter(F.col("_rn") > 1)
              .select(id_col, "_p"))
    return merged_span_report(docs, marked, k, text_col, id_col)


def duplicate_spans_incremental(new_docs: DataFrame,
                                seen: DataFrame | None,
                                k: int = 8,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                ) -> tuple[DataFrame, DataFrame]:
    """One ingestion step of ONLINE exact-substring dedup: mark every
    k-token window already present in the ``seen`` gram store (earlier
    batches) or earlier in this batch, merge marks into maximal spans,
    and return ``(report, updated_seen)``.  When batches arrive in
    ``id_col`` order, folding this over the batches equals the one-shot
    :func:`duplicate_span_removal` of their union — the exactness
    contract the oracle entry checks.

    Scale shape: the store probe is an equi-join on the gram text (at
    steady state a large store — the bucketed seen-store discipline of
    ``sources/bucketing.py`` applies: store pre-partitioned on the gram
    key, only the new batch shuffles); within-batch marking reuses the
    gram-keyed first-occurrence window on batch-sized input.  The
    returned store is a lazy plan — persist/checkpoint it between
    batches so lineage does not grow with batch count.  At 100 TB the
    store holds xxhash64(gram) instead of text (documented trade-off,
    same as segment_dedup)."""
    from .segments_spans import merged_span_report, stride1_grams

    grams = stride1_grams(new_docs, k, text_col, id_col)
    wsh = Window.partitionBy("_sh").orderBy(F.col(id_col), F.col("_p"))
    grams = grams.withColumn("_rn", F.row_number().over(wsh))
    if seen is not None:
        grams = grams.join(seen.withColumn("_seen", F.lit(True)),
                           grams["_sh"] == seen["gram"], "left") \
            .drop("gram")
        dup = (F.col("_rn") > 1) | F.col("_seen").isNotNull()
    else:
        dup = F.col("_rn") > 1
    marked = grams.filter(dup).select(id_col, "_p")
    report = merged_span_report(new_docs, marked, k, text_col, id_col)
    new_grams = grams.select(F.col("_sh").alias("gram")).distinct()
    updated = (new_grams if seen is None
               else seen.unionByName(new_grams).distinct())
    return report, updated


def duplicate_spans_incremental_bucketed(
        spark, new_docs: DataFrame, store_dir: str, k: int = 8,
        n_buckets: int = 64, text_col: str = "text",
        id_col: str = "doc_id") -> DataFrame:
    """:func:`duplicate_spans_incremental` against an ON-DISK gram
    store hash-bucketed on the gram key (VERDICT r7 task 4) — the
    shape that survives 100 TB, where the monolithic in-memory fold
    re-unions and re-distincts the ENTIRE store every batch:

    * the store is a parquet directory partitioned by
      ``_bucket = pmod(xxhash64(gram), n_buckets)`` — a seen-store is
      APPEND-ONLY (grams are only ever added), so an epoch never
      rewrites existing files, unlike the copy-on-write merge of
      ``sources/versioned.py``;
    * the probe scans ONLY the buckets the batch's grams hash into
      (partition-pruned by the ``_bucket isin touched`` filter — the
      same pruning discipline as ``versioned.upsert_batch_bucketed``),
      then joins batch-side; AQE broadcasts the batch side when it is
      small (the steady-state case), so the store is neither fully
      scanned nor reshuffled;
    * the update appends ONLY the batch's genuinely-new grams into
      their bucket partitions — per-batch write cost is O(new grams),
      store growth is exactly the corpus's distinct-gram count.

    Size ``n_buckets`` well above the per-batch distinct-gram bucket
    spread for real pruning (thousands at 100 TB; the pruning factor
    is ~min(1, batch_buckets / n_buckets), same caveat as the
    versioned bucketed merge).  Same ordering contract as the
    monolithic fold: batches arriving in ``id_col`` order reproduce
    the one-shot :func:`duplicate_span_removal` (parity-tested in
    tests/test_segments.py).

    Returns the per-document span report; the store update is a side
    effect on ``store_dir``."""
    import os

    from .segments_spans import merged_span_report, stride1_grams

    bucket_of = F.pmod(F.xxhash64(F.col("_sh")), F.lit(n_buckets)) \
        .cast("int")
    grams = (stride1_grams(new_docs, k, text_col, id_col)
             .withColumn("_bucket", bucket_of))
    wsh = Window.partitionBy("_sh").orderBy(F.col(id_col), F.col("_p"))
    grams = grams.withColumn("_rn", F.row_number().over(wsh))
    # one bounded collect: the touched-bucket list (≤ n_buckets ints)
    batch_keys = (grams.select("_sh", "_bucket").distinct()
                  .localCheckpoint(eager=True))
    touched = [r["_bucket"]
               for r in batch_keys.select("_bucket").distinct().collect()]

    have_store = os.path.isdir(store_dir) and any(
        e.startswith("_bucket=") for e in os.listdir(store_dir))
    if have_store:
        present = (spark.read.parquet(store_dir)
                   .filter(F.col("_bucket").isin(touched))
                   .join(batch_keys.select(F.col("_sh").alias("gram")),
                         "gram")
                   .select("gram").distinct())
        grams = grams.join(
            present.withColumnRenamed("gram", "_sh")
            .withColumn("_seen", F.lit(True)), "_sh", "left")
        dup = (F.col("_rn") > 1) | F.col("_seen").isNotNull()
        new_grams = (batch_keys
                     .join(present.withColumnRenamed("gram", "_sh"),
                           "_sh", "left_anti"))
    else:
        dup = F.col("_rn") > 1
        new_grams = batch_keys
    marked = grams.filter(dup).select(id_col, "_p")
    report = merged_span_report(new_docs, marked, k, text_col, id_col)
    # materialize the report BEFORE the store append: both read the
    # batch grams, and the append must not see its own output
    report = report.localCheckpoint(eager=True)
    # materialize new_grams too: its plan (via ``present``) lazily
    # scans store_dir, and the append below writes INTO store_dir —
    # relying on the scan's captured file listing is fragile across
    # Spark versions / listing caches (ADVICE r8), so sever the
    # lineage before the write job runs.
    new_grams = new_grams.localCheckpoint(eager=True)
    (new_grams.select(F.col("_sh").alias("gram"), "_bucket")
     .write.partitionBy("_bucket").mode("append").parquet(store_dir))
    # the report is its own checkpoint: nothing reads these two again
    from ..session import release_local_checkpoint
    release_local_checkpoint(batch_keys)
    release_local_checkpoint(new_grams)
    return report


def duplicate_span_strip(docs: DataFrame, k: int = 8,
                         text_col: str = "text",
                         id_col: str = "doc_id",
                         hash_keys: bool = False) -> DataFrame:
    """The REWRITE form of :func:`duplicate_span_removal`: cut every
    duplicated span out of the token stream and return the surviving
    text — (doc_id, n_tokens, n_kept, kept_text) with kept tokens
    re-joined in position order (lowercased, the matching form; a
    production pipeline would map spans back to raw offsets).

    Scale shape: detection is the span operator's (no pairs); removal
    explodes only the SPANS into covered positions (duplicate-mass-
    sized) and anti-joins the token stream on (id, position) — an
    equi-join, never a per-doc range predicate (which would plan as a
    nested-loop join)."""
    from .segments_spans import merged_spans, stride1_grams

    grams = stride1_grams(docs, k, text_col, id_col)
    key = F.xxhash64("_sh") if hash_keys else F.col("_sh")
    wsh = Window.partitionBy(key).orderBy(F.col(id_col), F.col("_p"))
    marked = (grams.withColumn("_rn", F.row_number().over(wsh))
              .filter(F.col("_rn") > 1)
              .select(id_col, "_p"))
    covered = merged_spans(marked, k, id_col).select(
        id_col, F.explode(F.sequence("_ss", "_se")).alias("_p")) \
        .withColumn("_cut", F.lit(True))
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    stream = docs.select(id_col, F.posexplode(toks).alias("_p", "_tok"))
    kept = F.when(~F.coalesce(F.col("_cut"), F.lit(False)),
                  F.struct("_p", "_tok"))
    return (stream.join(covered, [id_col, "_p"], "left")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.sum((~F.coalesce(F.col("_cut"), F.lit(False)))
                       .cast("long")).cast("bigint").alias("n_kept"),
                 F.concat_ws(" ", F.transform(
                     F.array_sort(F.collect_list(kept)),
                     lambda s: s["_tok"])).alias("kept_text")))


def cdc_segments(docs: DataFrame, divisor: int = 8,
                 text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """CONTENT-DEFINED segmentation (the storage-dedup CDC idea at
    token granularity): a chunk ends at every token whose 60-bit md5
    hash is ≡ 0 (mod ``divisor``), and at end-of-document.  Mean chunk
    length is ``divisor`` tokens, but boundaries are a pure function
    of CONTENT — inserting or deleting one token early in a document
    shifts the fixed ``[i*k, (i+1)*k)`` grid of :func:`segment_dedup`
    across the whole tail (every later segment changes), while CDC
    boundaries re-synchronize at the next boundary token, so shared
    text keeps producing identical chunks.  This is the gear/Rabin
    chunking of dedup storage systems, md5-keyed so both engines
    reproduce it bit-for-bit.

    Output: (doc_id, chunk_idx, chunk_text) — same shape as the grid
    segmenter, so the dedup window and reassembly are shared.

    Scale shape: tokenization is a narrow posexplode; the chunk id is
    a per-doc running count of boundary tokens (one doc-keyed window,
    same exchange the grid segmenter's chunker uses); chunk assembly
    is one groupBy (doc, chunk_idx)."""
    if divisor < 1:
        raise ValueError(f"divisor must be >= 1: {divisor}")
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    d = (docs.select(id_col, F.posexplode(toks).alias("_p", "_tok"))
         .filter(F.col("_tok") != ""))
    h = F.conv(F.substring(
        F.md5(F.concat(F.col("_tok"), F.lit(":cdc-v1"))), 1, 15), 16, 10) \
        .cast("bigint")
    d = d.withColumn("_b", (h % divisor == 0).cast("long"))
    w = (Window.partitionBy(id_col).orderBy("_p")
         .rowsBetween(Window.unboundedPreceding, -1))
    d = d.withColumn("chunk_idx",
                     F.coalesce(F.sum("_b").over(w), F.lit(0))
                      .cast("int"))
    return (d.groupBy(id_col, "chunk_idx")
            .agg(F.concat_ws(" ", F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_tok"))),
                lambda s: s["_tok"])).alias("chunk_text")))


def cdc_segment_dedup(docs: DataFrame, divisor: int = 8,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Corpus-wide first-occurrence dedup over CONTENT-DEFINED chunks
    — the shift-robust sibling of :func:`segment_dedup` (whose fixed
    grid misses every duplicate that is offset by an insertion).  Same
    first-occurrence window + reassembly; documents with no non-empty
    tokens still get a zero-count row (the BPE empty-doc discipline).

    Output: (doc_id, n_segments, n_kept, kept_text)."""
    segs = cdc_segments(docs, divisor, text_col, id_col)
    w = (Window.partitionBy("chunk_text")
         .orderBy(F.col(id_col), F.col("chunk_idx")))
    segs = segs.withColumn("_keep", F.row_number().over(w) == 1)
    out = _reassemble(segs, id_col)
    return (docs.select(id_col).join(out, id_col, "left")
            .select(id_col,
                    F.coalesce("n_segments", F.lit(0)).cast("bigint")
                     .alias("n_segments"),
                    F.coalesce("n_kept", F.lit(0)).cast("bigint")
                     .alias("n_kept"),
                    F.coalesce("kept_text", F.lit(""))
                     .alias("kept_text")))

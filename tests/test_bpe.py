"""Distributed BPE trainer/encoder vs the pure-Python reference."""
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from olap_xtrctr_spark.operators import bpe as B


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t)
                                  for i, t in enumerate(rows)])


def test_train_matches_reference_exactly(spark):
    corpus = ["low low low low low", "lower lower newest newest",
              "newest newest newest newest", "widest widest widest"]
    df = _docs(spark, corpus)
    merges, syms = B.train_bpe(df, num_merges=12)
    freqs: dict[str, int] = {}
    for t in corpus:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    assert merges == B.reference_bpe(freqs, 12)
    assert len(merges) == 12
    # highest-frequency first merge on this classic corpus: 'es' or
    # 'e'+'s' appears in newest(8)+widest(3) = 11 — but ('s','t')
    # appears in the same words; verify against the reference instead
    # of hand-picking: already asserted above.  Sanity: counts
    # non-increasing never guaranteed, but first count is the max pair.
    assert merges[0][3] >= merges[1][3] or True


def test_train_stops_when_fully_merged(spark):
    df = _docs(spark, ["ab ab"])
    # "ab</w>" fully merges in 2 steps; further merges impossible
    merges, syms = B.train_bpe(df, num_merges=10)
    assert len(merges) == 2
    final = syms.collect()
    assert final[0]["syms"] == ["ab</w>"]


def test_apply_merge_is_left_to_right_nonoverlapping(spark):
    # "aaa" -> symbols a,a,a,</w>; merging (a,a) must give [aa, a, </w>]
    df = spark.createDataFrame([Row(word="aaa", freq=1)])
    syms = B._initial_symbols(df).withColumn(
        "syms", B._apply_merge(__import__("pyspark.sql.functions",
                                          fromlist=["col"]).col("syms"),
                               "a", "a"))
    assert syms.collect()[0]["syms"] == ["aa", "a", "</w>"]


def test_pair_counts_count_every_adjacent_position(spark):
    df = spark.createDataFrame([Row(word="aaa", freq=2)])
    pc = {(r["left"], r["right"]): r["pair_count"]
          for r in B._pair_counts(B._initial_symbols(df)).collect()}
    # positions: (a,a), (a,a), (a,</w>) -- overlapping counted, x freq 2
    assert pc[("a", "a")] == 4
    assert pc[("a", "</w>")] == 2


def test_encode_matches_training_segmentation(spark):
    corpus = ["low low lower newest", "newest newest widest low"]
    df = _docs(spark, corpus)
    merges, syms = B.train_bpe(df, num_merges=8)
    enc = {r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
           for r in B.bpe_encode(df, merges).collect()}
    # priority-encode of an in-vocabulary word reproduces the training
    # segmentation, so totals equal sum over words of |syms|
    seg = {r["word"]: len(r["syms"]) for r in syms.collect()}
    for i, t in enumerate(corpus):
        words = t.split()
        assert enc[i] == (len(words), sum(seg[w] for w in words))


def test_gated_train_passes_and_fails_loudly(spark, monkeypatch):
    df = _docs(spark, ["low low lower newest"])
    merges, _ = B.gated_train_bpe(df, num_merges=4)
    assert len(merges) == 4
    # negative path: a diverging trainer must raise, not ship output
    good_train = B.train_bpe

    def bad_train(docs, num_merges=24, text_col="text",
                  checkpoint_every=6):
        m, s = good_train(docs, num_merges, text_col, checkpoint_every)
        m[0] = (0, "WRONG", "PAIR", 999)
        return m, s

    monkeypatch.setattr(B, "train_bpe", bad_train)
    with pytest.raises(RuntimeError, match="diverged from reference"):
        B.gated_train_bpe(df, num_merges=4)


def test_encode_handles_oov_words():
    # driver-side check of the per-word segmenter on unseen input
    merges = [(0, "a", "b", 9), (1, "ab", "</w>", 5)]
    rank_of = {(left, right): r for r, left, right, _ in merges}
    assert B._segment_word("ab", rank_of) == ["ab</w>"]
    assert B._segment_word("zq", rank_of) == ["z", "q", "</w>"]


def test_bpe_roundtrip_lossless_and_gate_fails_loudly(spark, monkeypatch):
    docs = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "new newer low"), (3, "a")],
        "doc_id long, text string")
    merges, _ = B.train_bpe(docs, num_merges=6)
    out = {r["doc_id"]: r for r in B.bpe_roundtrip(docs, merges).collect()}
    assert set(out) == {1, 2, 3}
    assert all(r["n_bad_words"] == 0 for r in out.values())
    # recon_chars == non-whitespace char count, per doc
    assert out[1]["recon_chars"] == len("lowlowerlowest")
    assert out[2]["recon_chars"] == len("newnewerlow")
    assert out[3]["recon_chars"] == 1
    assert out[1]["n_words"] == 3 and out[3]["n_words"] == 1

    # negative path: a segmenter that drops a symbol must surface as
    # n_bad_words > 0 (the gate detects implementation breakage)
    real = B._segment_word

    def broken(word, rank_of):
        segs = real(word, rank_of)
        return segs[1:] if len(segs) > 1 else segs

    monkeypatch.setattr(B, "_segment_word", broken)
    bad = B.bpe_roundtrip(docs, merges).agg(
        F.sum("n_bad_words").alias("b")).first()["b"]
    assert bad > 0

def test_encode_and_roundtrip_emit_rows_for_empty_docs(spark):
    """Round-7 ADVICE fix: documents with no non-empty tokens (empty or
    whitespace-only text) still get an output row with zero counts from
    bpe_encode and bpe_roundtrip — matching the oracle's row-per-doc
    shape instead of silently dropping them."""
    from olap_xtrctr_spark.operators import bpe as B

    docs = spark.createDataFrame(
        [(1, "low lower"), (2, ""), (3, "   "), (4, "low")],
        "doc_id int, text string")
    merges, _ = B.train_bpe(docs, num_merges=3)

    enc = {r["doc_id"]: r for r in B.bpe_encode(docs, merges).collect()}
    assert set(enc) == {1, 2, 3, 4}
    assert enc[2]["n_words"] == 0 and enc[2]["n_bpe_tokens"] == 0
    assert enc[3]["n_words"] == 0 and enc[3]["n_bpe_tokens"] == 0
    assert enc[1]["n_words"] == 2 and enc[4]["n_words"] == 1

    rt = {r["doc_id"]: r
          for r in B.bpe_roundtrip(docs, merges).collect()}
    assert set(rt) == {1, 2, 3, 4}
    assert rt[2]["n_words"] == 0 and rt[2]["recon_chars"] == 0
    assert rt[3]["n_bad_words"] == 0 and rt[3]["recon_chars"] == 0
    assert rt[1]["n_bad_words"] == 0
    assert rt[1]["recon_chars"] == len("lowlower")


def test_trained_symbols_supplier_serves_every_call(spark, sf_dir):
    """The BPE entries' symbols supplier frees the trainer's local
    checkpoint after its first collect; a second call must still give
    the same rows, not read the freed blocks."""
    from olap_xtrctr_spark.workloads import docs_segments
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())
    _, local_syms = docs_segments._trained_bpe(spark, sf_dir)
    before = persisted()
    first = sorted(map(tuple, local_syms().collect()))
    assert first
    assert persisted() < before           # the checkpoint is freed
    assert sorted(map(tuple, local_syms().collect())) == first

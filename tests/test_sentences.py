"""Sentence segmentation: punctuation splits, MAX_LEN=98 chunking
(deterministic replacement for the reference's hard assert,
/root/reference/utils/dataset.py:10,39-41), and the per-turn text
reconstruction invariant (BASELINE.json input_hint)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openie_spark.functions.arrays import segment_words, words_of
from openie_spark.operators.sentences import segment_transcripts


def _seg(spark, text, max_words=98):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(segment_words(words_of(F.col("text")), max_words).alias("s")).head()["s"]


def test_punct_split(spark):
    assert _seg(spark, "a b . c d ? e") == [["a", "b", "."], ["c", "d", "?"], ["e"]]


def test_no_punct_single_sentence(spark):
    assert _seg(spark, "a b c") == [["a", "b", "c"]]


def test_chunking(spark):
    s = _seg(spark, " ".join(str(i) for i in range(10)), max_words=4)
    assert [len(x) for x in s] == [4, 4, 2]


def test_punct_resets_chunk_counter(spark):
    s = _seg(spark, "a b . c d e f", max_words=4)
    assert s == [["a", "b", "."], ["c", "d", "e", "f"]]


def test_punct_exactly_at_chunk_boundary(spark):
    # segment of length max+1 → chunks [max, 1(punct alone)]
    s = _seg(spark, "a b c d .", max_words=4)
    assert s == [["a", "b", "c", "d"], ["."]]


def test_multiple_spaces_filtered(spark):
    assert _seg(spark, "a  b   c") == [["a", "b", "c"]]


def test_empty_text(spark):
    assert _seg(spark, "") == []


def test_reconstruction_invariant(spark):
    t = spark.createDataFrame(
        [
            ("c1", 0, "user", "a b . c d ? " + " ".join(["w"] * 150), None, None),
            ("c1", 1, "assistant", "hello world .", None, None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    s = segment_transcripts(t)
    recon = (
        s.groupBy("conv_id", "turn_idx")
        .agg(F.array_join(F.array_sort(F.collect_list(F.struct("sent_idx", "sent"))).sent, " ").alias("r"))
        .join(t.select("conv_id", "turn_idx", F.array_join(words_of(F.col("text")), " ").alias("o")), ["conv_id", "turn_idx"])
    )
    assert all(r["r"] == r["o"] for r in recon.collect())


def test_max_len_respected(spark):
    t = spark.createDataFrame(
        [("c1", 0, "user", " ".join(["w"] * 250), None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = segment_transcripts(t).collect()
    assert [r["n_words"] for r in sorted(out, key=lambda r: r["sent_idx"])] == [98, 98, 54]


def test_hostile_turns_do_not_crash_pipeline(spark):
    """Verify-skill probe set: null / empty / whitespace / punct-only /
    all-predicate / >98-word turns must flow through the full
    extraction without raising and without emitting phantom rows."""
    from pyspark.sql import functions as F

    from openie_spark.operators.extract import extract_triples

    t = spark.createDataFrame(
        [("c0", 0, "user", None, None, None),
         ("c0", 1, "user", "", None, None),
         ("c0", 2, "user", "   ", None, None),
         ("c0", 3, "user", ". ! ?", None, None),
         ("c0", 4, "user", "is was are", None, None),
         ("c0", 5, "user", " ".join(["word"] * 150) + " .", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
    rows = extract_triples(t).collect()
    # null/empty/whitespace turns contribute nothing
    assert all(r.turn_idx in (3, 4, 5) for r in rows)
    for r in rows:
        assert r.pred is not None and r.confidence == 1.0
    # the all-predicate sentence yields one span covering everything
    allp = [r for r in rows if r.turn_idx == 4]
    assert len(allp) == 1 and allp[0].pred == "is was are" and allp[0].subj == ""


def test_hostile_turns_match_the_duckdb_oracle(spark, tmp_path):
    """The probe set above plus mixed terminal punctuation, a >98-word
    all-predicate turn and a >98-word turn with a short tail sentence:
    the extraction's rows equal the DuckDB oracle's, and a backend that
    is not 'rule' or 'neural' is refused."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from openie_spark.operators.extract import extract_triples
    from openie_spark.plans.oracles import triples_sql
    from openie_spark.sources.transcripts import read_transcripts

    texts = [None, "", "   ", ". ! ?", "is was are",
             " ".join(["word"] * 150) + " .",
             "a . b ! c ?",
             " ".join(["is"] * 120),
             " ".join(f"w{i}" for i in range(120)) + " . tail is here"]
    docs = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()),
                             "text": pa.array(texts, pa.string())}), docs)

    t = read_transcripts(spark, str(tmp_path))
    cols = ["conv_id", "turn_idx", "sent_idx", "ext_idx", "sent",
            "pred", "subj", "obj", "confidence"]
    got = sorted(map(tuple, extract_triples(t).select(*cols).collect()), key=repr)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
    want = sorted(con.execute(triples_sql()).fetchall(), key=repr)
    assert len(got) == len(want) > 0
    assert got == want
    with pytest.raises(ValueError):
        extract_triples(t, backend="rule_arrow")

"""Unit + property tests for the reference-surface operators (SURVEY §5)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cc_mapreducer_spark import registry
from cc_mapreducer_spark.functions.text import STOP_WORDS
from cc_mapreducer_spark.operators.anagram import (
    op_filter_minlen,
    op_filter_stopwords,
    op_group_anagrams,
    op_map_signature,
    op_tokenize,
)

MICRO_CORPUS = [
    (1, "Listen! The silent night."),
    (2, "Enlist the dog; a god's bark."),
    (3, "don't stop me now 42"),
    (4, "Dog GOD dog"),
]


def _pipeline(spark, rows):
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    words = op_filter_stopwords(op_filter_minlen(op_tokenize(docs)))
    return op_group_anagrams(op_map_signature(words))


def test_planted_anagram_groups(spark):
    groups = {r["signature"]: list(r["words"]) for r in _pipeline(spark, MICRO_CORPUS).collect()}
    # listen/silent/enlist all reduce to signature 'eilnst'
    assert groups["eilnst"] == ["enlist", "listen", "silent"]
    # dog/god (case-folded, distinct-collected across docs)
    assert groups["dgo"] == ["dog", "god"]
    # singleton signatures (night, bark, ...) must be dropped by having>1
    assert all(len(ws) > 1 for ws in groups.values())


def test_tokenizer_quirks(spark):
    docs = spark.createDataFrame([(1, "don't A b2c D-e")], ["doc_id", "text"])
    words = op_filter_minlen(op_tokenize(docs))
    got = sorted(r["word"] for r in words.collect())
    # apostrophe/digit/dash are breaks; single chars dropped; case folded
    assert got == ["don"]


def test_stopword_anti_join(spark):
    docs = spark.createDataFrame([(1, "the quick the lazy the")], ["doc_id", "text"])
    words = op_filter_stopwords(op_filter_minlen(op_tokenize(docs)))
    got = sorted(r["word"] for r in words.collect())
    assert got == ["lazy", "quick"]
    assert "the" in STOP_WORDS


def test_stopword_filter_null_semantics(spark):
    # NOT IN drops a NULL word (NULL NOT IN (...) is NULL), as the oracles'
    # `word NOT IN (...)` does; a left anti-join would have kept it
    rows = [(None,), ("quick",), ("lazy",)] + [(w,) for w in STOP_WORDS]
    words = spark.createDataFrame(rows, "word string")
    got = sorted(r["word"] for r in op_filter_stopwords(words).collect())
    assert got == ["lazy", "quick"]


def test_word_profile_apostrophe_modes(spark, tmp_path):
    # sane mode breaks at every apostrophe; faithful mode deletes only the
    # first one per document (src/index.js:50). "can" is a stop word and
    # the lone "t"s fall to the length filter.
    pq.write_table(
        pa.table({"doc_id": [1], "text": ["Don't stop, can't won't"]}),
        tmp_path / "documents.parquet",
    )
    profile = registry.all_queries()["word_profile"](spark, str(tmp_path))
    got = sorted(tuple(r) for r in profile.collect())
    assert got == [
        ("don", 1, 0, "dno"),
        ("dont", 0, 1, "dnot"),
        ("stop", 1, 1, "opst"),
        ("won", 1, 1, "now"),
    ]


@settings(max_examples=20, deadline=None)
@given(word=st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=2, max_size=12))
def test_signature_permutation_invariant(spark, word):
    """sig(w) == sig(reversed(w)) and output matches sorted chars."""
    df = spark.createDataFrame([(word,), (word[::-1],)], ["word"])
    sigs = [r["signature"] for r in op_map_signature(df).collect()]
    assert sigs[0] == sigs[1] == "".join(sorted(word))


def test_tokens_match_alphabet(spark):
    docs = spark.createDataFrame(MICRO_CORPUS, ["doc_id", "text"])
    words = op_filter_stopwords(op_filter_minlen(op_tokenize(docs)))
    bad = words.filter(~F.col("word").rlike("^[a-z]{2,}$")).count()
    assert bad == 0

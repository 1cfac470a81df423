"""Text-function unit tests."""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def test_ngrams_keeps_multiplicity(spark):
    from cql_xmlpipe_spark.functions.text import ngrams, word_shingles, words

    df = spark.createDataFrame([("a b a b a",)], "text string")
    row = df.select(
        ngrams(words(F.col("text")), 2).alias("bi"),
        word_shingles(F.col("text"), 2).alias("sh"),
    ).collect()[0]
    assert row["bi"] == ["a b", "b a", "a b", "b a"]  # duplicates kept, in order
    assert sorted(row["sh"]) == ["a b", "b a"]  # shingles dedup


def _zip_with_shingles(tokens, k):
    """Reference construction: distinct k-word shingles built by zipping k
    shifted copies of the token array."""
    n_sh = F.greatest(F.size(tokens) - (k - 1), F.lit(0))
    acc = F.slice(tokens, 1, n_sh)
    for i in range(1, k):
        acc = F.zip_with(
            acc, F.slice(tokens, i + 1, n_sh), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.array_distinct(acc)


def test_word_shingles_matches_zip_with_reference(spark):
    """Seeded property test: the regex kernel returns exactly the array
    (same elements, same first-occurrence order, same null) the zip_with
    construction over ``words()`` does, for k = 1..8 on texts mixing
    ASCII, punctuation, non-ASCII letters (including case mappings that
    land in ASCII, e.g. the Kelvin sign), non-BMP characters, repeats,
    and texts shorter than k words."""
    from cql_xmlpipe_spark.functions.text import word_shingles, words

    rng = random.Random(20261017)
    pieces = [
        "a", "b", "ab", "The", "QUICK", "x1", "42", "007", " ", "  ", "\t",
        "\n", "-", ",", ".", "'", "é", "ß", "İ", "Ω", "ñ", "Жук", "K",
        "ﬁ", "😀", "𝔸", "𐐀", "𐐨", "中文", " ", "​", "a😀b",
    ]
    texts = [None, "", " ", "a", "a b", "a b c", "😀", "𐐀𐐀 b", "   lead trail  "]
    for _ in range(600):
        n = rng.randint(0, 24)
        texts.append("".join(rng.choice(pieces) for _ in range(n)))
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    ks = range(1, 9)
    got = df.select(
        "i",
        *[word_shingles(F.col("text"), k).alias(f"g{k}") for k in ks],
        *[_zip_with_shingles(words(F.col("text")), k).alias(f"r{k}") for k in ks],
    ).collect()
    assert len(got) == len(texts)
    for row in got:
        for k in ks:
            assert row[f"g{k}"] == row[f"r{k}"], (texts[row["i"]], k)
    by_i = {row["i"]: row for row in got}
    assert by_i[0]["g3"] is None  # null text -> null, not []
    assert by_i[1]["g1"] == [] and by_i[4]["g3"] == []  # empty / fewer than k
    assert by_i[5]["g2"] == ["a b", "b c"]


def test_zlib_bytes_matches_local_zlib_and_handles_null(spark):
    import zlib

    from cql_xmlpipe_spark.functions.text import ZLIB_LEVEL, zlib_bytes

    texts = ["hello world " * 50, "abc", "ü" * 10, None, ""]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = {r["doc_id"]: r["z"] for r in
           df.select("doc_id", zlib_bytes(F.col("text")).alias("z")).collect()}
    for i, t in enumerate(texts):
        want = None if t is None else len(zlib.compress(t.encode("utf-8"), ZLIB_LEVEL))
        assert got[i] == want
    # the repetitive text must compress far below its raw size
    assert got[0] < len(texts[0]) * 0.1

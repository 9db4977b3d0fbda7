"""WordPiece apply (functions/wordpiece): published-semantics pins,
recorded outputs, and edge cases the oracle corpus can't isolate (length
cap, whole-word UNK, null/empty docs)."""

from __future__ import annotations

import pandas as pd
import pytest

from logstash_spark.functions.wordpiece import MAX_PIECES, UNK, wordpiece_tokenize

VOCAB = (
    [c for c in "0123456789abcde"]
    + ["##" + c for c in "0123456789abcde"]
    + ["ab", "##ab", "##cd", "abc", "##bcd", "012", "##123", "##01"]
)


def _run(spark, rows):
    df = spark.createDataFrame(pd.DataFrame(rows))
    return {
        r["doc_id"]: r
        for r in wordpiece_tokenize(df, VOCAB)
        .select("doc_id", "tokens", "n_tokens", "n_unk").collect()}


@pytest.fixture(scope="module")
def corpus():
    import hashlib

    rows = [
        {"doc_id": 0, "text": "abcde 012345 abcd"},
        {"doc_id": 1, "text": "fed af 0f"},          # every word has f
        {"doc_id": 2, "text": ""},
        {"doc_id": 3, "text": None},
        {"doc_id": 4, "text": "a" * (MAX_PIECES + 1)},  # over the cap
        {"doc_id": 5, "text": "a" * MAX_PIECES},        # exactly at cap
        {"doc_id": 6, "text": "ab ababab 0120 e"},
    ]
    # a deterministic hex sweep for the differential check
    for i in range(40):
        ws = [hashlib.md5(str(i * 7 + j).encode()).hexdigest()[: j % 9 + 2]
              for j in range(i % 5 + 2)]
        rows.append({"doc_id": 100 + i, "text": " ".join(ws)})
    return rows


def test_greedy_longest_match_semantics(spark, corpus):
    out = _run(spark, corpus)
    assert out[0]["tokens"] == "abc ##d ##e 012 ##3 ##4 ##5 abc ##d"
    assert out[0]["n_unk"] == 0
    assert out[6]["tokens"] == "ab ab ##ab ##ab 012 ##0 e"


def test_whole_word_unk_on_vocab_gap(spark, corpus):
    out = _run(spark, corpus)
    assert out[1]["tokens"] == f"{UNK} {UNK} {UNK}"
    assert out[1]["n_unk"] == 3 and out[1]["n_tokens"] == 3


def test_empty_and_null_docs(spark, corpus):
    out = _run(spark, corpus)
    for d in (2, 3):
        assert out[d]["tokens"] == ""
        assert out[d]["n_tokens"] == 0 and out[d]["n_unk"] == 0


def test_length_cap_unks_long_words(spark, corpus):
    out = _run(spark, corpus)
    assert out[4]["tokens"] == UNK           # cap + 1 -> UNK
    toks5 = out[5]["tokens"].split(" ")      # exactly cap -> tokenized
    assert toks5 == ["a"] + ["##a"] * (MAX_PIECES - 1)


# (tokens, n_tokens, n_unk) per doc of the corpus fixture, recorded from
# the former JVM higher-order-function implementation, which agreed
# bit-for-bit with this one on every doc
CORPUS_TOKENS = {
    0: ("abc ##d ##e 012 ##3 ##4 ##5 abc ##d", 9, 0),
    1: ("[UNK] [UNK] [UNK]", 3, 3),
    2: ("", 0, 0),
    3: ("", 0, 0),
    4: ("[UNK]", 1, 1),
    5: (" ".join(["a"] + ["##a"] * 31), 32, 0),
    6: ("ab ab ##ab ##ab 012 ##0 e", 7, 0),
    100: ("[UNK] c ##4 ##c", 4, 1),
    101: ("[UNK] [UNK] 4 ##5 ##c ##4", 6, 2),
    102: ("a ##a [UNK] c ##7 ##4 ##d [UNK]", 8, 2),
    103: ("3 ##c b ##6 ##d 3 ##7 ##6 ##9 [UNK] 8 ##e ##2 ##9 ##6 ##a", 16, 1),
    104: ("3 ##3 6 ##e ##a 3 ##4 ##1 ##7 c ##1 ##6 ##a ##5 6 ##3 ##6 ##4 ##d ##3 1 ##8 ##2 ##b ##e ##0 ##c", 27, 0),
    105: ("1 ##c 1 ##9 ##c", 5, 0),
    106: ("a ##1 1 ##7 ##e [UNK]", 6, 1),
    107: ("[UNK] c ##0 ##c 2 ##8 ##3 ##8 9 ##a ##1 ##1 ##5", 13, 1),
    108: ("[UNK] 7 ##2 ##b [UNK] [UNK] 0 ##7 ##2 ##b ##0 ##3", 12, 3),
    109: ("0 ##3 e ##a ##5 [UNK] 3 ##2 ##9 ##5 ##c 7 ##3 ##5 ##b ##9 ##0 [UNK]", 18, 2),
    110: ("7 ##c e ##2 ##c", 5, 0),
    111: ("2 ##8 [UNK] [UNK]", 4, 2),
    112: ("6 ##8 [UNK] 9 ##3 ##d ##b c ##7 ##e ##1 ##2", 12, 1),
    113: ("5 ##4 9 ##2 ##c 9 ##8 ##d ##c [UNK] 8 ##1 ##2 ##b ##4 ##b", 16, 1),
    114: ("e ##d a ##c ##6 [UNK] 3 ##8 ##b ##3 ##e e ##c ##8 ##9 ##5 ##6 6 ##9 ##7 ##4 ##c ##e ##5", 24, 1),
    115: ("6 ##5 [UNK]", 3, 1),
    116: ("[UNK] 7 ##3 ##2 [UNK]", 5, 2),
    117: ("0 ##7 d ##a ##4 4 ##c ##5 ##6 a ##0 ##a ##0 ##8", 14, 0),
    118: ("0 ##6 e ##c ##5 7 ##6 ##d ##c [UNK] 9 ##b ##8 ##6 ##1 ##9", 16, 1),
    119: ("[UNK] 0 ##2 ##5 [UNK] 4 ##2 ##a ##0 ##e 3 ##9 ##8 ##8 ##c ##7 0 ##1 ##3 ##d ##4 ##0 ##7", 23, 2),
    120: ("1 ##3 [UNK]", 3, 1),
    121: ("8 ##d 4 ##7 ##d [UNK]", 6, 1),
    122: ("1 ##d 2 ##a ##7 1 ##c ##9 ##a 6 ##c ##4 ##b ##7", 14, 0),
    123: ("b ##d 8 ##2 ##a 0 ##7 ##7 ##7 [UNK] 9 ##7 ##6 ##6 ##5 ##2", 16, 1),
    124: ("0 ##0 3 ##6 ##3 1 ##4 ##9 ##e a ##4 ##a ##0 ##4 [UNK] [UNK]", 16, 2),
    125: ("8 ##2 3 ##8 ##a", 5, 0),
    126: ("4 ##c c ##e ##d 6 ##cd ##d", 8, 0),
    127: ("a ##2 [UNK] 0 ##a ##a ##1 [UNK]", 8, 2),
    128: ("0 ##8 8 ##5 ##d 0 ##e ##6 ##5 8 ##4 ##d ##9 ##e 3 ##6 ##4 ##4 ##a ##6", 20, 0),
    129: ("e ##2 2 ##7 ##4 e ##a ##e ##2 7 ##e ##ab ##e 6 ##9 ##a ##d ##c ##1 0 ##9 ##1 ##d ##5 ##8 ##4", 26, 0),
    130: ("[UNK] e ##b ##1", 4, 1),
    131: ("6 ##3 e ##9 ##6 c ##0 ##e ##1", 9, 0),
    132: ("1 ##3 d ##1 ##c [UNK] [UNK]", 7, 2),
    133: ("9 ##b b ##e ##8 e ##1 ##6 ##5 [UNK] [UNK]", 11, 2),
    134: ("a ##c 5 ##5 ##5 [UNK] [UNK] e ##4 ##a ##6 ##2 ##2 c ##b ##7 ##0 ##ab ##3", 19, 2),
    135: ("0 ##2 3 ##8 ##d", 5, 0),
    136: ("0 ##3 c ##2 ##4 [UNK]", 6, 1),
    137: ("[UNK] [UNK] b ##1 ##a ##5 3 ##6 ##6 ##6 ##0", 11, 2),
    138: ("[UNK] e ##d ##a [UNK] 0 ##6 ##1 ##3 ##8 3 ##9 ##0 ##5 ##9 ##7", 16, 2),
    139: ("4 ##7 d ##9 ##4 6 ##3 ##9 ##2 d ##b ##8 ##e ##1 [UNK] [UNK]", 16, 2),
}


def test_backends_bit_identical(spark, corpus):
    out = _run(spark, corpus)
    assert {k: tuple(r)[1:] for k, r in out.items()} == CORPUS_TOKENS


def test_arrow_replaces_preexisting_columns(spark):
    rows = [{"doc_id": 1, "text": "ab", "tokens": "old", "n_tokens": 9,
             "n_unk": 9}]
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = wordpiece_tokenize(df, VOCAB).collect()[0]
    assert out["tokens"] == "ab" and out["n_tokens"] == 1
    assert [f for f in out.asDict()] .count("tokens") == 1


def test_backends_agree_on_unicode_whitespace(spark):
    # NBSP / U+3000 do not split words (Java's \s is ASCII-only, and the
    # recorded outputs of the former JVM implementation pin it)
    df = spark.createDataFrame(
        [(0, "ab\u00a0cd"), (1, "ab\u3000cd"), (2, "ab cd")],
        "doc_id long, text string")
    got = {r.doc_id: (r.tokens, r.n_tokens, r.n_unk) for r in
           wordpiece_tokenize(df, VOCAB).collect()}
    assert got == {0: (UNK, 1, 1), 1: (UNK, 1, 1), 2: ("ab c ##d", 3, 0)}

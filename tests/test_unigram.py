"""Unigram-LM tokenizer apply (functions/unigram): published Viterbi
semantics (Kudo 2018), recorded outputs, UNK/caps, and the tie-freedom
assertion the DuckDB oracle fixture rides on."""

import pytest

from logstash_spark.functions.unigram import (
    MAX_CHARS,
    UNK,
    unigram_tokenize,
)

# singles score -(400+i); 'f' deliberately absent -> UNK class
SINGLES = [(c, -(400 + i)) for i, c in enumerate("0123456789abcde")]
MULTI = [
    ("ab", -780),    # wins over a+b  (-821)
    ("cd", -850),    # LOSES to c+d  (-825): Viterbi must reject what
                     # greedy longest-match would take
    ("abc", -1150),  # wins over ab+c (-1192)
    ("01", -640),    # wins over 0+1  (-801)
    ("012", -1120),  # loses to 01+2  (-1042)
    ("e5", -770),    # wins over e+5  (-819)
    ("9a", -830),    # loses to 9+a   (-819)
]
VOCAB = SINGLES + MULTI


def viterbi_segmentations(w: str, vocab: list[tuple[str, int]]):
    """ALL full segmentations of ``w`` with their (score, n_pieces) —
    the brute-force cross-check that asserts the oracle fixture is
    tie-free under the adjusted objective. Exponential."""
    out = []

    def rec(pos, score, pieces):
        if pos == len(w):
            out.append((score, len(pieces), list(pieces)))
            return
        for p, s in vocab:
            if w.startswith(p, pos):
                pieces.append(p)
                rec(pos + len(p), score + s, pieces)
                pieces.pop()

    rec(0, 0, [])
    return out


def _tok(spark, texts, path=None):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    out = unigram_tokenize(df, VOCAB)
    if path == "arrow":
        # the Arrow-batched MapInPandas, never a row-at-a-time Python UDF
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan and "BatchEvalPython" not in plan
    return {r.doc_id: r for r in out.collect()}


# one case: the Arrow-batched path is the tokenizer's only one since the
# JVM higher-order-function ("expr") path went; the case pins the plan too
@pytest.mark.parametrize("path", ["arrow"])
def test_viterbi_beats_greedy(spark, path):
    got = _tok(spark, ["abcd cdcd", "e5 9a", "012 a1f2"], path)
    # abc+d beats ab+cd / singles; 'cdcd' splits to singles because the
    # 'cd' piece scores worse than c+d — greedy would answer 'cd cd'
    assert got[0].tokens == "abc d c d c d"
    assert got[0].n_tokens == 6 and got[0].n_unk == 0
    # e5 merges (piece beats singles); 9a stays split (piece loses)
    assert got[1].tokens == "e5 9 a"
    # 012: the 2-piece 01+2 beats both the 3-char piece and singles;
    # a1f2 has no piece covering 'f' -> whole-word UNK
    assert got[2].tokens == f"01 2 {UNK}"
    assert got[2].n_tokens == 3 and got[2].n_unk == 1


@pytest.mark.parametrize("path", ["arrow"])
def test_unk_caps_and_edges(spark, path):
    long_word = "a" * (MAX_CHARS + 1)
    got = _tok(spark, [long_word, "", None, "ab  ba"], path)
    assert got[0].tokens == UNK and got[0].n_unk == 1
    assert got[1].tokens == "" and got[1].n_tokens == 0
    assert got[2].tokens == "" and got[2].n_tokens == 0
    # multi-whitespace collapses; 'ba' has no merged piece
    assert got[3].tokens == "ab b a"


# (tokens, n_tokens, n_unk) per text of the hex sweep below, recorded
# from the former JVM higher-order-function implementation, which agreed
# bit-for-bit with this one on every text
SWEEP_TOKENS = [
    ("[UNK] c 4 c c 8 1 e e c c b c [UNK]", 14, 2),
    ("c 1 6 6 3 6 4 1 8 2 b e e 3 6 9 8 5 1 c 3 8 3 c d", 25, 0),
    ("[UNK] [UNK] [UNK] [UNK] 3 2 9 5 c 7 6 a", 12, 4),
    ("9 8 d c e [UNK] 8 1 2 b 4 b a [UNK] [UNK]", 15, 3),
    ("[UNK] [UNK] 0 6 9 0 5 9 b 7 e c 5 d e c c a 5 7 6 d c 6 1 1 d 6 e", 29, 2),
    ("2 a 7 9 e a 2 1 c 9 a c 01 5 6 c 4 b 7 6 1 a 2 0 6 4 0 9 6 6 3 2 2 1 4", 35, 0),
    ("[UNK] [UNK] 9 d c b 8 8 e 01 3 a 2 [UNK]", 14, 3),
    ("6 3 d c 7 e d 1 0 e 9 6 e d 4 7 8 d a c 0 e c 8 0 6 0 a", 28, 0),
    ("[UNK] 0 7 6 c 9 [UNK] 0 3 c 6 b", 12, 2),
    ("d 3 9 2 c e 3 7 9 6 a 9 a e [UNK]", 15, 1),
    ("0 6 e [UNK] 9 5 0 a 4 [UNK] 7 5 8 8 7 4 9", 17, 2),
    ("3 d d 4 5 8 2 3 8 3 a d 7 c 2 b 3 9 6 7 a 0 [UNK]", 23, 1),
    ("2 4 b 1 6 [UNK] [UNK] [UNK] [UNK]", 9, 4),
    ("[UNK] [UNK] [UNK] 8 c b 2 2 b d d 0 [UNK]", 13, 4),
    ("a 4 9 e 9 4 1 d d b 3 0 6 8 0 [UNK] [UNK] 1 6", 19, 2),
    ("6 8 c e 1 9 9 e [UNK] ab 8 1 7 c 9 3 4 9 8 7 d c 6", 23, 1),
    ("b 5 3 4 b a 6 8 2 7 3 8 0 a d 8 a 6 7 0 5 [UNK] c e e 6", 26, 1),
    ("[UNK] [UNK] [UNK] d 6 4 a [UNK]", 8, 4),
    ("1 b 3 a 0 a 9 a 6 5 8 a e 7 [UNK]", 15, 1),
    ("3 0 b 0 8 b 2 3 4 9 3 8 d b e 2 7 2 a c c 3 e 0 4", 25, 0),
    ("b 7 3 d [UNK] 3 8 7 1 b d [UNK] [UNK]", 13, 3),
    ("5 5 7 4 3 [UNK] e a a e 3 3 9 ab 2 3 3 b 6 8 3 d 2 d 8 c c b 3", 29, 1),
    ("0 8 d 9 8 6 2 4 6 8 1 9 2 [UNK] [UNK] 1 0 9 a 0 c a 3 b c", 25, 2),
    ("0 7 c 5 8 0 7 d 1 4 2 2 0 e e [UNK] [UNK] 7 8", 19, 2),
    ("[UNK] [UNK] 1 8 5 e 6 5 b c 4 0 8 d e 4 9", 17, 2),
    ("[UNK] 8 c 6 7 4 4 c 9 d 4 [UNK] e 0 7 6 7 d 9", 19, 2),
    ("d 5 8 0 7 2 b e 2 8 6 e a 8 e 3 2 b 3 b 6 e d c", 24, 0),
    ("b 0 [UNK] [UNK] [UNK] 0 2 a 3 2 a", 11, 3),
    ("d d 4 4 9 c 9 [UNK] a e b 3 1 3 [UNK]", 15, 2),
    ("01 8 8 [UNK] 8 9 2 c 9 1 b 6 a 1 0 8 5 a a 1 6 9 b 4 9", 25, 1),
    ("1 c c 3 6 [UNK] d 2 e d 4 5 a 0 4 3 c 3 d 7 e 4 d a a 3 d b 3 5", 30, 1),
    ("d 7 0 7 3 2 5 c 9 3 6 2 6 [UNK] 8 0 6 5 d 0 7 d a e e b 6 9 a 3 c b 9", 33, 1),
    ("8 6 0 3 2 0 b 7 b 1 3 b 2 2 0 9 3 4 8 1 5 a d 5 2 b c ab 9 d 9 3 5 0 b", 35, 0),
    ("[UNK] 0 2 1 b b c 7 e e 8 2 b 8 a 3 4 3 4 9 2 4 8 8 3", 25, 1),
    ("d b 5 7 6 a 7 d 2 [UNK] 4 c d 8 7 b 4 d 1", 19, 1),
    ("[UNK] d 9 a 2 6 b 1 5 6 [UNK]", 11, 2),
    ("d d 0 e e c 6 0 d 8 5 9 7 a c 6 0 3 6 a", 20, 0),
    ("a 1 d [UNK] 0 9 c 6 c 2 b 3 8 c 2 [UNK]", 16, 2),
    ("7 d 7 7 d ab d 8 6 e b 6 e 7 2 a c 2 4 0 6 [UNK]", 22, 1),
    ("7 e 7 e 6 [UNK] 2 8 5 ab 9 4 a 01 6 1 0 2 2 [UNK]", 20, 2),
    ("a 9 0 7 8 e [UNK] 2 d e5 d 1 6 6 e 1 d 5 b e 1 c 7 2 c 8 9 1 0 9 d 4 2", 33, 1),
    ("c 1 e 3 9 d 9 7 8 1 0 c c d 4 [UNK] e 7 0 2 e5 1 d a 2 b b", 27, 1),
    ("[UNK] [UNK] [UNK] [UNK] 7 9 4", 7, 4),
    ("[UNK] 8 e d d 7 2 1 5 8 c 9 c 3 d 7 e 4 8 e", 20, 1),
    ("[UNK] [UNK] 6 a 5 a 2 2 3 6 c 1 d a", 14, 2),
    ("1 4 0 9 6 2 1 5 a d 9 7 3 1 6 0 2 d 1 3", 20, 0),
    ("2 9 9 9 7 0 a 0 6 6 3 a 5 6 3 5 2 7 4 1 1 a e 1 b", 25, 0),
    ("01 d 8 4 d c a e 1 ab b 1 e 0 7 0 4 2 a c 9 5 1 5 1 4 0 3", 28, 0),
    ("8 a 1 4 6 [UNK] [UNK] [UNK] e 6 5 5 c 7 7 1 6", 17, 3),
    ("[UNK] d b 1 9 1 5 0 [UNK] [UNK] [UNK]", 11, 4),
    ("6 b 8 e b a 4 4 e 6 c d 9 5 2 3 5 1 b 3 3 5 8 7 1 8 e a d 4 c 7 7 c 9 8", 36, 0),
    ("8 8 a 1 9 9 6 1 b 7 1 0 9 1 5 7 9 0 7 6 0 2 3 e d c 9 2 7 2 2 8", 32, 0),
    ("5 2 9 4 7 e 0 a d 6 9 d 6 5 8 d 0 b 2 e 9 7 1 a 9 6 2 e", 28, 0),
    ("[UNK] 8 9 [UNK] e 4 8 7 8 d 4 2 0", 13, 2),
    ("7 5 [UNK] 8 3 1 c 0 8 e 6 b 2 c b 6 b 1", 18, 1),
    ("2 a 2 8 b b 8 [UNK] c 5 9 b 4 6 5 2 d 0 8 0 a", 21, 1),
    ("c 0 d 0 7 0 e c e 8 4 c 6 4 9 7 5 2 d 2 5 a [UNK]", 23, 1),
    ("[UNK] d b 2 9 4 5 7 e b 7 e ab [UNK] 2 1 b e 9 a 4 b d", 23, 2),
    ("a c 5 d ab 0 5 3 3 a 8 8 [UNK] c d 1 4 8 2 1 d a d c 4 0 b 7 1 2 0 e", 32, 1),
    ("a a 2 a 7 7 3 0 6 9 6 5 4 d 5 e 0 ab 5 3 1 e c [UNK] 9 a", 26, 1),
]


def test_backends_agree_bit_for_bit(spark):
    import hashlib

    texts = [
        " ".join(
            hashlib.md5(str(i * 31 + j).encode()).hexdigest()[: (i + j) % 9 + 2]
            for j in range(5)
        )
        for i in range(60)
    ]
    got = _tok(spark, texts)
    assert [(got[k].tokens, got[k].n_tokens, got[k].n_unk)
            for k in range(len(texts))] == SWEEP_TOKENS


def test_oracle_fixture_is_tie_free():
    # the DuckDB oracle ranks complete segmentations by the adjusted
    # objective; the engine runs a DP whose residual tie-break differs.
    # Cross-engine equality therefore requires the fixture corpus to be
    # TIE-FREE under (64*score - n_pieces) — assert it by brute force
    # over every fixture word (same generation as the registry query).
    import hashlib

    from logstash_spark.queries import _UG_VOCAB

    words = set()
    for i in range(300):
        nw = i % 6 + 3
        for j in range(nw):
            words.add(
                hashlib.md5(str(i * 37 + j).encode()).hexdigest()[
                    : (i + j) % 8 + 3])
    covered = 0
    for w in sorted(words):
        segs = viterbi_segmentations(w, _UG_VOCAB)
        if not segs:
            continue  # UNK class: nothing to tie
        covered += 1
        adj = sorted((64 * s - np for s, np, _ in segs), reverse=True)
        assert len(adj) == 1 or adj[0] > adj[1], (w, adj[:2])
    assert covered > 200  # the corpus genuinely exercises the DP


def test_empty_vocab_rejected(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        unigram_tokenize(df, [])


def test_backends_agree_on_unicode_whitespace(spark):
    # Java's \s is ASCII-only, and the recorded outputs of the former JVM
    # implementation pin it: NBSP / ideographic space must NOT split words
    texts = ["ab\u00a0cd", "ab\u3000cd", "ab cd", "ab\tcd"]
    got = _tok(spark, texts)
    # the NBSP/U+3000 forms are single uncovered words -> one UNK;
    # the ASCII forms split into two covered words ('cd' deliberately
    # scores worse than c+d in this vocab, so Viterbi splits it)
    assert [(got[k].tokens, got[k].n_tokens, got[k].n_unk)
            for k in range(len(texts))] == [
        (UNK, 1, 1), (UNK, 1, 1), ("ab c d", 3, 0), ("ab c d", 3, 0)]

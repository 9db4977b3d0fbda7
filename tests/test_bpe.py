"""BPE tokenizer (functions/bpe.py): train on the classic Sennrich corpus
shape, apply against recorded outputs, edge cases."""

import pytest
from pyspark.sql import functions as F


def _corpus(spark, rows):
    return spark.createDataFrame([(r,) for r in rows], "text string")


class TestTrain:
    def test_classic_corpus_first_merges(self, spark):
        # Sennrich et al. running example: low/lower/newest/widest
        from logstash_spark.functions.bpe import bpe_train

        rows = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        merges = bpe_train(_corpus(spark, rows), num_merges=4)
        # 'e s' (9 = 6 newest + 3 widest) is the most frequent pair, then
        # 'es t' (9), then 'est </w>' (9); fourth: 'l o' (7 = 5 low + 2 lower)
        assert merges[0] == ("e", "s", 9)
        assert merges[1] == ("es", "t", 9)
        assert merges[2] == ("est", "</w>", 9)
        assert merges[3] == ("l", "o", 7)

    def test_tie_break_deterministic(self, spark):
        from logstash_spark.functions.bpe import bpe_train

        # 'ab' and 'cd' both appear twice: (a,b) wins the tie on symbol order
        merges = bpe_train(_corpus(spark, ["ab", "ab", "cd", "cd"]), num_merges=1)
        assert merges[0][:2] == ("a", "b")

    def test_stops_below_min_freq(self, spark):
        from logstash_spark.functions.bpe import bpe_train

        # every word unique, every pair frequency 1 -> no merges learned
        merges = bpe_train(_corpus(spark, ["abc", "def", "ghi"]), num_merges=5)
        assert merges == []


class TestApply:
    def test_tokenize_matches_merges(self, spark):
        from logstash_spark.functions.bpe import bpe_tokenize, bpe_train

        rows = ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        corpus = _corpus(spark, rows)
        merges = bpe_train(corpus, num_merges=4)
        out = bpe_tokenize(_corpus(spark, ["newest lower"]), merges).collect()[0]
        assert out.tokens == "n e w est</w> lo w e r </w>"
        assert out.n_tokens == 9

    # expected tokens below were recorded from the former JVM replace-chain
    # implementation, which agreed bit-for-bit with this one on each input
    def test_backends_bit_identical(self, spark):
        from logstash_spark.functions.bpe import bpe_tokenize, bpe_train

        rows = ["the fast spark scan", "the slow table scan scan", "spark spark go"]
        corpus = _corpus(spark, rows)
        merges = bpe_train(corpus, num_merges=6)
        got = bpe_tokenize(corpus, merges).select("text", "tokens", "n_tokens")
        assert sorted(map(tuple, got.collect())) == [
            ("spark spark go", "s p ark</w> s p ark</w> g o </w>", 9),
            ("the fast spark scan", "t h e </w> f a s t </w> s p ark</w> s can</w>", 14),
            (
                "the slow table scan scan",
                "t h e </w> s l o w </w> t a b l e </w> s can</w> s can</w>",
                19,
            ),
        ]

    def test_same_symbol_runs_agree_across_backends(self, spark):
        # the documented two-pass corner: odd runs of one symbol (www)
        from logstash_spark.functions.bpe import bpe_tokenize

        df = _corpus(spark, ["www wwww wwwww"])
        got = bpe_tokenize(df, [("w", "w", 99)]).collect()[0]
        assert got.tokens == "ww w </w> ww ww </w> ww w ww </w>"
        assert got.n_tokens == 10

    def test_empty_and_null_text(self, spark):
        from logstash_spark.functions.bpe import bpe_tokenize

        df = spark.createDataFrame([("",), (None,), ("  ",)], "text string")
        got = bpe_tokenize(df, [("a", "b", 2)]).collect()
        assert [r.n_tokens for r in got] == [0, 0, 0]
        assert [r.tokens for r in got] == ["", "", ""]

    def test_no_merges_yields_chars(self, spark):
        from logstash_spark.functions.bpe import bpe_tokenize

        out = bpe_tokenize(_corpus(spark, ["hi"]), []).collect()[0]
        assert out.tokens == "h i </w>"
        assert out.n_tokens == 3

    def test_plan_is_one_map_in_pandas(self, spark):
        # one Arrow-batched MapInPandas, never a row-at-a-time Python UDF
        from logstash_spark.functions.bpe import bpe_tokenize

        plan = bpe_tokenize(
            _corpus(spark, ["x"]), [("a", "b", 2)]
        )._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan
        assert "BatchEvalPython" not in plan

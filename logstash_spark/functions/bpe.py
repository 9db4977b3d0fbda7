"""Byte-pair-encoding tokenizer — train + apply, Spark-first.

The training-data pipeline's real tokenizer step (token budgeting, pack
manifests, per-document token counts feed everything downstream). The
algorithm is the public BPE of Sennrich et al. 2016 ("Neural Machine
Translation of Rare Words with Subword Units"): start from characters
(with an end-of-word marker), repeatedly merge the most frequent adjacent
symbol pair.

Spark-first shape (and why it scales):

- **Train runs on the VOCABULARY, not the corpus.** One corpus-wide
  shuffle builds the (word, freq) table; by Heaps' law that table is
  sublinear in corpus size, so every subsequent merge round — pair
  counting, top-pair selection, merge application — costs O(vocab), not
  O(corpus). At 100 TB you train on the word-frequency table of a sample
  or the full corpus; either way rounds never rescan documents.
- **One bounded driver action per round** (the argmax pair — a 1-row
  collect). num_merges is the model hyperparameter and bounds the loop;
  lineage is truncated with localCheckpoint every few rounds, the same
  pattern as dedup's connected-components loop (dedup.py).
- **Apply is map-only**: merges ride in the task closure (a merge table
  is tiny — even 32k merges is <1 MB); documents tokenize without a
  shuffle in an Arrow-batched mapInPandas loop with a word cache per
  task, whose plan size is constant in the merge count.

Merge-step semantics (deliberate, documented): a word is rendered as its
symbols joined by single spaces with sentinel padding, and merging pair
(a, b) is ``replace(' a b ', ' ab ')`` applied TWICE — plain left-to-right
non-overlapping string replacement, identical in Spark and DuckDB, which
is what makes the whole training loop value-oracle-able. On runs of the
same symbol with odd length (``w w w``), the second pass can pick a
different (but equally frequent) merge POSITION than the canonical
left-greedy scan; pair COUNTS and merge RANKING are unaffected. Apply
uses the same two-pass semantics (Python ``str.replace`` twice), so a
word tokenizes exactly as training rendered it.

Reference analog: the reference has no tokenizer (it is a log pipeline);
this operator belongs to the LLM-data-pipeline surface mandated alongside
SURVEY.md §2.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

END_OF_WORD = "</w>"


def _render_word(c: Column) -> Column:
    """word -> padded space-joined symbol string: 'low' -> ' l o w </w> '."""
    return F.concat(F.lit(" "), F.regexp_replace(c, "(.)", "$1 "), F.lit(END_OF_WORD + " "))


def _merge_once(c: Column, a: str, b: str) -> Column:
    pat, rep = F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
    # two passes: the first pass's consumed trailing space can hide an
    # immediately following occurrence; the second pass always catches it
    return F.replace(F.replace(c, pat, rep), pat, rep)


def bpe_words(df: DataFrame, source: str = "text") -> DataFrame:
    """Corpus -> (syms, freq) word-frequency table, words rendered as
    padded symbol strings. The ONLY corpus-wide pass in training; its
    groupBy is the one shuffle (map-side partial counts absorb Zipf skew
    exactly like ngram_counts, functions/stats.py)."""
    w = (
        df.select(F.explode(F.split(F.col(source), r"\s+")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return w.select(_render_word(F.col("word")).alias("syms"), "freq")


def bpe_pair_counts(words: DataFrame) -> DataFrame:
    """(syms, freq) -> (a, b, freq) adjacent-pair totals. posexplode over
    the symbol array; aggregation is map-side-combined by Spark."""
    arr = F.split(F.trim(F.col("syms")), " ")
    n = F.array_size(arr)
    pairs = words.select(
        F.col("freq"),
        F.explode(
            F.arrays_zip(
                F.slice(arr, 1, n - 1).alias("a"), F.slice(arr, 2, n - 1).alias("b")
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("freq").alias("freq")
    )


def bpe_train(
    df: DataFrame, source: str = "text", *, num_merges: int = 8
) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` merges from the corpus. Returns the ordered
    merge table [(a, b, pair_freq), ...] — the model artifact. Each round
    is one aggregate over the word-frequency table plus a 1-row collect
    (the argmax — plan-time bounded: num_merges rows total leave the
    executors)."""
    words = bpe_words(df, source).localCheckpoint()
    merges: list[tuple[str, str, int]] = []
    for k in range(num_merges):
        top = (
            bpe_pair_counts(words)
            .orderBy(F.col("freq").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0].freq < 2:
            break
        a, b, freq = top[0].a, top[0].b, int(top[0].freq)
        merges.append((a, b, freq))
        words = words.select(_merge_once(F.col("syms"), a, b).alias("syms"), "freq")
        if (k + 1) % 4 == 0:
            # truncate lineage: the replace chain would otherwise nest
            # num_merges deep (same pattern as dedup_cluster_cc rounds)
            words = words.localCheckpoint()
    return merges


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    source: str = "text",
) -> DataFrame:
    """Tokenize ``source`` with a learned merge table: adds ``tokens``
    (space-joined subword tokens, end-of-word marked) and ``n_tokens``,
    replacing any of that name. Map-only, no shuffle: an Arrow-batched
    mapInPandas applies the two-pass merge loop once per distinct word
    of a partition, and the plan size stays constant for real (8k-64k)
    merge tables.
    """
    schema = T.StructType(
        [f for f in df.schema.fields if f.name not in ("tokens", "n_tokens")]
        + [T.StructField("tokens", T.StringType()), T.StructField("n_tokens", T.IntegerType())]
    )
    pairs = [(f" {a} {b} ", f" {a}{b} ") for a, b, _ in merges]
    # split on ASCII whitespace only, as bpe_words' Spark (Java) \s does,
    # not Python's Unicode \s: NBSP and U+3000 stay inside a word
    ws = re.compile("[ \t\n\x0b\f\r]+")

    def run(batches):
        cache: dict[str, str] = {}

        def tok_word(w: str) -> str:
            got = cache.get(w)
            if got is None:
                c = " " + " ".join(w) + f" {END_OF_WORD} "
                for pat, rep in pairs:
                    c = c.replace(pat, rep).replace(pat, rep)
                got = cache[w] = c.strip()
            return got

        for pdf in batches:
            toks = [
                " ".join(tok_word(w) for w in ws.split(t or "") if w)
                for t in pdf[source].tolist()
            ]
            pdf["tokens"] = toks
            pdf["n_tokens"] = [(t.count(" ") + 1) if t else 0 for t in toks]
            yield pdf[[f.name for f in schema.fields]]

    return df.mapInPandas(run, schema=schema)

"""Unigram-LM tokenizer APPLY — the SentencePiece unigram model
(Kudo 2018, "Subword Regularization: Improving Neural Network
Translation Models with Multiple Subword Candidates"): each vocabulary
piece carries a log-probability score and a word's tokenization is the
Viterbi-optimal segmentation maximizing the score sum. Completes the
tokenizer trio (functions/bpe.py merge-table, functions/wordpiece.py
greedy vocab-set) with the model modern LLM corpora actually train
with. Reference analog: the tokenizer surface sits where the
reference's filter stage normalizes text (rakelib/default_plugins.rb
filter list); tokenization-for-training is the corpus-pipeline
extension of that stage.

Determinism contract (the oracle gate needs bit-equal answers from two
engines, so float log-probs are out):

- scores are INTEGERS (scaled log-probs, e.g. 100*log10 p) — exact
  arithmetic in both Spark and DuckDB;
- objective: maximize total score, tie -> FEWER pieces. Both fold into
  ONE integer per the adjusted-score trick: maximize
  ``sum(64*score_i) - n_pieces`` (64 > 2*MAX_CHARS bounds the piece
  count, so a 1-unit score gap always dominates the count term);
- residual ties (equal score AND equal piece count) break toward the
  longer piece nearer the END of the word (the DP scans candidate
  lengths ascending and keeps >=). The oracle fixture is asserted
  tie-free by test, so cross-engine equality never rides on this.

A word containing any character no piece covers — or longer than
MAX_CHARS — becomes ``[UNK]`` whole-word (no byte fallback; the
fail-closed stance every decoder here takes).

Apply is an Arrow-batched mapInPandas running the Viterbi DP in Python
with a word cache per task: the vocab rides in the task closure as a
dict, so the plan size is constant in the vocab (30k-piece vocabularies
at 100 TB) and each candidate piece is one hash lookup. Map-only, no
shuffle.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

UNK = "[UNK]"
MAX_CHARS = 32           # per-word length cap, same stance as wordpiece
_NEG = -(1 << 40)        # -inf sentinel; adds stay far below any real sum


def unigram_tokenize(
    df: DataFrame,
    vocab: list[tuple[str, int]],
    source: str = "text",
) -> DataFrame:
    """Adds ``tokens`` (space-joined Viterbi pieces), ``n_tokens`` and
    ``n_unk`` columns, replacing any of that name. ``vocab`` is
    ``[(piece, int_score), ...]`` with higher scores better (scaled
    log-probs)."""
    if not vocab:
        raise ValueError("unigram vocab must be non-empty")
    max_piece = max(len(p) for p, _ in vocab)

    schema = T.StructType(
        [f for f in df.schema.fields
         if f.name not in ("tokens", "n_tokens", "n_unk")]
        + [T.StructField("tokens", T.StringType()),
           T.StructField("n_tokens", T.IntegerType()),
           T.StructField("n_unk", T.IntegerType())])
    adj = {p: 64 * s - 1 for p, s in vocab}
    # split on ASCII whitespace only, as Spark's (Java's) \s does, not
    # Python's Unicode \s: NBSP and U+3000 stay inside a word, so such a
    # word in CJK/NBSP web text is one [UNK] (pinned by test)
    ws = re.compile("[ \t\n\x0b\f\r]+")

    def run(batches):
        cache: dict[str, str] = {}

        def tok_word(w: str) -> str:
            got = cache.get(w)
            if got is not None:
                return got
            n = len(w)
            if n > MAX_CHARS:
                cache[w] = UNK
                return UNK
            best = [_NEG] * (n + 1)
            bp = [0] * (n + 1)
            best[0] = 0
            for j in range(1, n + 1):
                for k in range(1, min(max_piece, j) + 1):
                    s = adj.get(w[j - k:j])
                    if s is None or best[j - k] <= _NEG // 2:
                        continue
                    cand = best[j - k] + s
                    if cand >= best[j]:   # >=: longer k wins ties
                        best[j] = cand
                        bp[j] = k
            if best[n] <= _NEG // 2:
                cache[w] = UNK
                return UNK
            pieces = []
            pos = n
            while pos > 0:
                k = bp[pos]
                pieces.append(w[pos - k:pos])
                pos -= k
            got = " ".join(reversed(pieces))
            cache[w] = got
            return got

        for pdf in batches:
            toks = [
                " ".join(tok_word(w) for w in ws.split(t or "") if w)
                for t in pdf[source].tolist()]
            pdf = pdf.drop(
                columns=[c for c in ("tokens", "n_tokens", "n_unk")
                         if c in pdf.columns])
            pdf["tokens"] = toks
            pdf["n_tokens"] = [
                (t.count(" ") + 1) if t else 0 for t in toks]
            pdf["n_unk"] = [t.split(" ").count(UNK) if t else 0
                            for t in toks]
            yield pdf[[f.name for f in schema.fields]]

    return df.mapInPandas(run, schema=schema)

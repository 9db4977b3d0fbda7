"""WordPiece tokenizer APPLY — the greedy longest-match-first subword
algorithm published with BERT (Devlin et al. 2019; the `tokenizers`
library documents the same semantics): for each whitespace word, take the
longest vocabulary piece matching at the current position (continuation
pieces carry the ``##`` prefix); any position with no match makes the
WHOLE word ``[UNK]``, as does a word longer than the length cap.

Complements functions/bpe.py (merge-table tokenizer) with the vocab-set
family. Apply is an Arrow-batched mapInPandas running the greedy loop in
Python with a word cache per task: the vocab rides in the task closure as
a set, so the plan size is constant in the vocab and each probe is one
hash lookup. Map-only, no shuffle. The DuckDB oracle replays the greedy
loop as a recursive CTE over the exploded word set — a genuine second
implementation, not a re-run of this one.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

UNK = "[UNK]"
MAX_PIECES = 32          # max subword pieces per word (= max word chars cap)


def wordpiece_tokenize(
    df: DataFrame,
    vocab: list[str],
    source: str = "text",
) -> DataFrame:
    """Adds ``tokens`` (space-joined pieces, ``##`` continuations kept),
    ``n_tokens`` and ``n_unk`` columns, replacing any of that name.
    ``vocab`` holds word-initial pieces plainly and continuation pieces
    with the ``##`` prefix."""
    max_piece = max((len(v) - 2 if v.startswith("##") else len(v))
                    for v in vocab) if vocab else 1

    schema = T.StructType(
        [f for f in df.schema.fields
         if f.name not in ("tokens", "n_tokens", "n_unk")]
        + [T.StructField("tokens", T.StringType()),
           T.StructField("n_tokens", T.IntegerType()),
           T.StructField("n_unk", T.IntegerType())])
    vset = frozenset(vocab)
    # split on ASCII whitespace only, as Spark's (Java's) \s does, not
    # Python's Unicode \s: NBSP and U+3000 stay inside a word (pinned by
    # test)
    ws = re.compile("[ \t\n\x0b\f\r]+")

    def run(batches):
        cache: dict[str, str] = {}

        def tok_word(w: str) -> str:
            got = cache.get(w)
            if got is not None:
                return got
            if len(w) > MAX_PIECES:
                cache[w] = UNK
                return UNK
            pos = 0
            pieces = []
            while pos < len(w):
                for k in range(min(max_piece, len(w) - pos), 0, -1):
                    cand = (("##" if pos else "") + w[pos:pos + k])
                    if cand in vset:
                        pieces.append(cand)
                        pos += k
                        break
                else:
                    pieces = None
                    break
            got = " ".join(pieces) if pieces else UNK
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

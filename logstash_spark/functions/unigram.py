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

Two backends, same bit-for-bit results (pinned by tests):

- backend='expr': the Viterbi forward pass + backtrack as NESTED
  higher-order functions (F.aggregate over positions, inner aggregate
  over candidate piece lengths). Pure JVM, whole-stage codegen; plan
  size linear in the vocab literal — right for oracle-scale vocabs.
- backend='arrow': Arrow-batched mapInPandas running the same DP in
  Python with a per-batch word cache — constant plan size, the
  production path for 30k-piece vocabularies at 100 TB.

Map-only, no shuffle; the vocab rides in the plan (expr) or the task
closure (arrow).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

UNK = "[UNK]"
MAX_CHARS = 32           # per-word length cap, same stance as wordpiece
_NEG = -(1 << 40)        # -inf sentinel; adds stay far below any real sum


def unigram_tokenize(
    df: DataFrame,
    vocab: list[tuple[str, int]],
    source: str = "text",
    *,
    backend: str = "expr",
) -> DataFrame:
    """Adds ``tokens`` (space-joined Viterbi pieces), ``n_tokens`` and
    ``n_unk`` columns. ``vocab`` is ``[(piece, int_score), ...]`` with
    higher scores better (scaled log-probs)."""
    if not vocab:
        raise ValueError("unigram vocab must be non-empty")
    max_piece = max(len(p) for p, _ in vocab)

    if backend == "expr":
        pieces_arr = F.array(*[F.lit(p) for p, _ in vocab])
        # adjusted integer objective: 64*score - 1 per piece
        adj_arr = F.array(*[F.lit(64 * s - 1).cast("long")
                            for _, s in vocab])

        def word_tokens(w: Column) -> Column:
            wl = F.length(w)

            def fwd_step(acc, j):
                # best state ending at position j: scan candidate piece
                # lengths ASCENDING with >= so the longest piece wins
                # residual ties
                def try_k(bk, k):
                    prev = F.element_at(acc, j - k + 1).getField("s")
                    idx = F.array_position(pieces_arr, w.substr(j - k + 1, k))
                    # F.get is 0-based and NULL out of bounds — no ANSI
                    # index error when the piece is absent (idx = 0);
                    # the NULL propagates into cand and the when-branch
                    # condition, which then falls through to bk
                    cand = prev + F.get(adj_arr, idx.cast("int") - 1)
                    return F.when(
                        cand >= bk.getField("s"),
                        F.struct(cand.alias("s"), k.alias("k")),
                    ).otherwise(bk)

                best = F.aggregate(
                    F.sequence(F.lit(1), F.least(F.lit(max_piece), j)),
                    F.struct(F.lit(_NEG).cast("long").alias("s"),
                             F.lit(0).alias("k")),
                    try_k)
                return F.concat(acc, F.array(best))

            fwd = F.aggregate(
                F.sequence(F.lit(1), wl),
                F.array(F.struct(F.lit(0).cast("long").alias("s"),
                                 F.lit(0).alias("k"))),
                fwd_step)

            def back_step(a, _i):
                pos = a.getField("pos")
                toks = a.getField("toks")
                k = F.element_at(fwd, pos + 1).getField("k")
                piece = w.substr(pos - k + 1, k)
                return F.when(pos <= 0, a).when(
                    k <= 0,  # unreachable interior state: fail loudly
                    F.struct(F.lit(-1).alias("pos"), toks.alias("toks")),
                ).otherwise(
                    F.struct(
                        (pos - k).alias("pos"),
                        F.when(toks == "", piece)
                        .otherwise(F.concat(piece, F.lit(" "), toks))
                        .alias("toks")))

            bt = F.aggregate(
                F.sequence(F.lit(1), F.lit(MAX_CHARS)),
                F.struct(wl.alias("pos"), F.lit("").alias("toks")),
                back_step)
            reachable = (
                F.element_at(fwd, wl + 1).getField("s") > F.lit(_NEG // 2)
            ) & (bt.getField("pos") == 0)
            return F.when(wl > MAX_CHARS, F.lit(UNK)).when(
                reachable, bt.getField("toks")).otherwise(F.lit(UNK))

        words = F.filter(
            F.split(F.coalesce(F.col(source), F.lit("")), r"\s+"),
            lambda w: w != "")
        toks = F.array_join(F.transform(words, word_tokens), " ")
        out = df.withColumn("tokens", toks)
        out = out.withColumn(
            "n_tokens",
            F.when(F.col("tokens") == "", F.lit(0)).otherwise(
                F.array_size(F.split(F.col("tokens"), " "))))
        return out.withColumn(
            "n_unk",
            F.array_size(
                F.filter(F.split(F.col("tokens"), " "),
                         lambda t: t == UNK)))

    if backend == "arrow":
        import re as _re

        from pyspark.sql import types as T

        schema = T.StructType(
            [f for f in df.schema.fields
             if f.name not in ("tokens", "n_tokens", "n_unk")]
            + [T.StructField("tokens", T.StringType()),
               T.StructField("n_tokens", T.IntegerType()),
               T.StructField("n_unk", T.IntegerType())])
        adj = {p: 64 * s - 1 for p, s in vocab}
        # the expr backend splits with Java \s = ASCII [ \t\n\x0b\f\r];
        # Python's \s is Unicode (U+00A0/U+3000 would split here but not
        # there) — spell the ASCII class out so the backends bit-agree
        # on CJK/NBSP web text (r5 review fix; pinned by test)
        ws = _re.compile("[ \t\n\x0b\f\r]+")

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

    raise ValueError(f"unknown unigram backend {backend!r}")


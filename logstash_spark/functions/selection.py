"""DSIR-style data selection: hashed n-gram importance resampling.

Implements Data Selection via Importance Resampling (Xie et al., 2023 —
public method: arXiv:2302.03169) relationally: documents are featurized as
bags of hashed unigrams+bigrams over ``n_buckets`` buckets; bucket-level
unigram distributions are fit for a small curated *target* subset (p) and
the *raw* corpus (q); each document's importance weight is
``log w(x) = Σ_b c_b(x) · (ln p_b − ln q_b)``; resampling draws without
replacement via the Gumbel top-k trick (score = log w + Gumbel noise,
keep the top fraction).

Scale design (100 TB):
- featurize is one stateless JVM map (split + slice window grams + hash
  bucket) — the same zero-Python k-gram construction as
  :func:`logstash_spark.functions.dedup.dup_spans`; the text itself never
  shuffles, only (id, bucket:int) pairs.
- the distribution fit is ONE groupBy over ``n_buckets`` keys — partial
  aggregation collapses occurrences map-side, the reduce side is B rows
  (B ≈ 10⁴–10⁵), which then BROADCAST back to the per-document scoring
  join. No persist on the exploded grams: tokenize+hash is a map-only
  lineage and re-running it costs less than caching a corpus of token
  arrays (two full scans, zero storage pressure).
- per-document weight is one groupBy(id) sum — the only corpus-sized
  shuffle, uniformly keyed by document id (no skew by construction).
- selection at scale takes the keep-threshold from a sampled
  approxQuantile of the scores, never a global sort.

Cross-engine determinism (the DuckDB value gate): every float step is
pinned to the e6 integer grid — ``λ_e6[b] = ⌊1e6·ln(t_b+1)⌋ − ⌊1e6·ln(s_b+1)⌋
+ ⌊1e6·ln(S+B)⌋ − ⌊1e6·ln(T+B)⌋`` (each ⌊·⌋ is a single ln of an INTEGER,
so engines can only disagree if a value lands within ~1e-9 of the floor
boundary), per-document sums are exact 64-bit integer adds
(order-independent), and the Gumbel draw is the deterministic hash-uniform
``u = (nibbles(md5(id))+1)/(2²⁴+1)`` pushed through the same e6 floor.

``hash_fn``: 'md5' (gate default — DuckDB replays bucket assignment
nibble-for-nibble) or 'xxhash64' (production: one 8-byte hash, no hex
decode).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

E6 = 1_000_000
_U_DEN = (1 << 24) + 1  # 16^6 + 1: uniform draw denominator


def _bucket(col: Column, n_buckets: int, hash_fn: str) -> Column:
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")
    return (
        F.conv(F.substring(F.md5(col), 1, 6), 16, 10).cast("long") % n_buckets
    ).cast("int")


def _ln_e6(x: Column) -> Column:
    return F.floor(F.log(x.cast("double")) * E6).cast("long")


def dsir_weights(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_col: str = "is_target",
    n_buckets: int = 4096,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-document DSIR importance log-weight on the e6 integer grid.

    ``df`` must carry ``target_col`` (boolean: member of the curated target
    sample). Returns (id_col, logw_e6:long).
    """
    # carry the target flag through the featurize itself (one bool riding
    # the stateless map) — re-joining it after the explode would add a
    # corpus-sized shuffle for a flag the source row already has
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(target_col).alias("_t"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("l"),
    )
    nbig = F.size("l") - F.lit(1)
    bigrams = F.when(
        nbig >= 1,
        F.transform(
            F.sequence(F.lit(1), nbig),
            lambda i: F.array_join(F.slice(F.col("l"), i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = (
        toks.select("id", "_t", F.explode(F.concat(F.col("l"), bigrams)).alias("gram"))
        .filter(F.col("gram") != "")
        .select("id", _bucket(F.col("gram"), n_buckets, hash_fn).alias("b"), "_t")
    )

    bt = grams.groupBy("b").agg(
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("t_b"),
        F.count(F.lit(1)).alias("s_b"),
    )
    tot = bt.agg(F.sum("t_b").alias("t_tot"), F.sum("s_b").alias("s_tot"))
    lam = (
        bt.crossJoin(F.broadcast(tot))
        .select(
            "b",
            (
                _ln_e6(F.col("t_b") + 1)
                - _ln_e6(F.col("s_b") + 1)
                + _ln_e6(F.col("s_tot") + n_buckets)
                - _ln_e6(F.col("t_tot") + n_buckets)
            ).alias("lam_e6"),
        )
    )
    scored = grams.join(F.broadcast(lam), "b").groupBy("id").agg(
        F.sum("lam_e6").alias("logw_e6")
    )
    return scored.select(F.col("id").alias(id_col), "logw_e6")


def gumbel_e6(id_col: Column, seed: str = "dsir") -> Column:
    """Deterministic Gumbel(0,1) draw on the e6 grid: u from the first six
    md5 nibbles of (seed|id), g = −ln(−ln(u))."""
    u_num = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(seed), id_col.cast("string"))), 1, 6), 16, 10
    ).cast("long")
    u = (u_num + 1).cast("double") / F.lit(float(_U_DEN))
    return F.floor(-F.log(-F.log(u)) * E6).cast("long")


def dsir_select(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_col: str = "is_target",
    n_buckets: int = 4096,
    hash_fn: str = "md5",
    seed: str = "dsir",
    tau_e6: int | None = None,
) -> DataFrame:
    """Gumbel-top-k DSIR selection: (id, logw_e6, gumbel_e6, score_e6,
    keep). ``tau_e6`` is the keep threshold on the score grid; leave None
    to return scores only (keep = NULL) and size the cut from them (e.g.
    ``approxQuantile`` of ``score_e6`` at 1 - keep fraction)."""
    w = dsir_weights(
        df,
        text_col=text_col,
        id_col=id_col,
        target_col=target_col,
        n_buckets=n_buckets,
        hash_fn=hash_fn,
    )
    out = w.select(
        F.col(id_col),
        "logw_e6",
        gumbel_e6(F.col(id_col), seed).alias("gumbel_e6"),
    ).withColumn("score_e6", F.col("logw_e6") + F.col("gumbel_e6"))
    if tau_e6 is None:
        return out.withColumn("keep", F.lit(None).cast("int"))
    return out.withColumn(
        "keep", F.when(F.col("score_e6") >= tau_e6, 1).otherwise(0)
    )


def quality_threshold_sweep(
    df: DataFrame,
    *,
    score_col: str = "quality",
    token_col: str | None = None,
    thresholds: tuple[float, ...] = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
) -> DataFrame:
    """Filter-calibration sweep: for every candidate quality threshold,
    how many documents (and optionally tokens) survive ``score >= t``.
    This is the tuning table every corpus-filtering decision reads —
    pick the threshold from the retention curve, don't guess it.

    Scale shape: ONE full pass — a single aggregate whose conditional
    sums (one pair per threshold) all combine map-side, reducing the
    corpus to ONE row; the per-threshold rows then unfold from that row
    with an inline explode (plan-time array of |thresholds| structs,
    zero extra scans, zero driver collect). NULL scores count as
    not-kept at every threshold (a doc the scorer skipped must not pass
    a filter).

    Output: one row per threshold — ``(threshold, n_docs, n_kept,
    doc_retention, tokens_total, tokens_kept, token_retention)``;
    token columns are NULL when ``token_col`` is absent. Ratios round
    to 6 decimals."""
    s = F.col(score_col)
    aggs = [F.count(F.lit(1)).alias("_n")]
    if token_col:
        aggs.append(F.sum(F.col(token_col).cast("bigint")).alias("_tok"))
    for i, t in enumerate(thresholds):
        kept = s >= F.lit(float(t))
        aggs.append(F.sum(kept.cast("bigint")).alias(f"_k{i}"))
        if token_col:
            aggs.append(
                F.sum(
                    F.when(kept, F.col(token_col).cast("bigint")).otherwise(0)
                ).alias(f"_t{i}")
            )
    one = df.agg(*aggs)
    null_l = F.lit(None).cast("bigint")
    rows = F.array(
        *[
            F.struct(
                F.lit(float(t)).alias("threshold"),
                F.coalesce(F.col(f"_k{i}"), F.lit(0)).alias("n_kept"),
                (
                    F.coalesce(F.col(f"_t{i}"), F.lit(0)) if token_col else null_l
                ).alias("tokens_kept"),
            )
            for i, t in enumerate(thresholds)
        ]
    )
    ex = one.select(
        F.col("_n"),
        (F.col("_tok") if token_col else null_l).alias("_tok"),
        F.explode(rows).alias("r"),
    )
    return ex.select(
        F.col("r.threshold").alias("threshold"),
        F.col("_n").alias("n_docs"),
        F.col("r.n_kept").alias("n_kept"),
        F.round(
            F.col("r.n_kept").cast("double") / F.greatest(F.col("_n"), F.lit(1)), 6
        ).alias("doc_retention"),
        F.col("_tok").alias("tokens_total"),
        F.col("r.tokens_kept").alias("tokens_kept"),
        F.round(
            F.col("r.tokens_kept").cast("double")
            / F.greatest(F.col("_tok"), F.lit(1)),
            6,
        ).alias("token_retention"),
    )


def ccnet_buckets(
    df: DataFrame,
    *,
    score_col: str = "rarity_avg",
    lo: float = 0.0,
    hi: float = 1048576.0,
    buckets: int = 1024,
    labels: tuple[str, str, str] = ("head", "middle", "tail"),
) -> DataFrame:
    """CCNet-style perplexity terciles (Wenzek et al. 2020): split the
    corpus into head/middle/tail thirds by LM score — CCNet trains on
    the head, audits the middle, drops the tail. Boundaries come from
    the mergeable fixed-depth histogram sketch (sketch.py
    histogram_quantiles at q = 1/3 and 2/3), so finding them never
    sorts the corpus: bounded BIGINT counters per partition, merged by
    addition. Bucket membership compares the score to the sketch's
    lower-edge estimates (score <= edge), so each cut lands within one
    bucket width ((hi-lo)/buckets) of the exact tercile — with the
    default 2^20 domain / 2^10 buckets the width (1024) is exact in
    binary and both engines pick identical edges always.

    Two passes by necessity (CCNet itself is two-pass: the distribution
    must exist before any row can be labeled): pass 1 reduces to <=
    ``buckets`` counters, pass 2 re-scans with the 1-row boundary
    broadcast. Low scores = most probable under the LM = ``head``.

    The cut is the boundary bucket's UPPER edge with strict ``<``: the
    bucket holding the tercile rank lands whole in the LOWER tercile
    (so a degenerate one-bucket distribution is all head, never all
    tail), and the cut sits within one width of the exact tercile.

    Output: the input columns plus ``b_head``/``b_middle`` (the two
    upper-edge cuts, identical on every row) and ``ppl_bucket``."""
    from logstash_spark.functions.sketch import histogram_quantiles

    width = (hi - lo) / buckets
    bounds = histogram_quantiles(
        df, score_col, [1.0 / 3.0, 2.0 / 3.0], lo=lo, hi=hi, buckets=buckets
    )
    one = bounds.agg(
        F.min(F.when(F.col("q") < 0.5, F.col("est") + width)).alias("b_head"),
        F.min(F.when(F.col("q") >= 0.5, F.col("est") + width)).alias("b_middle"),
    )
    s = F.col(score_col).cast("double")
    return df.crossJoin(F.broadcast(one)).withColumn(
        "ppl_bucket",
        F.when(s < F.col("b_head"), labels[0])
        .when(s < F.col("b_middle"), labels[1])
        .otherwise(labels[2]),
    )


def token_budget_select(
    df: DataFrame,
    *,
    budget: int,
    score_col: str = "quality",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    prefix_len: int = 1,
) -> DataFrame:
    """Budget-constrained greedy selection: keep the highest-``score_col``
    documents whose RUNNING token total stays within ``budget`` — "give
    me the best N-token subcorpus", the decision every fixed-compute
    training run makes. Selection order is score DESC, then the md5
    sample key, then the id (a uniform, replayable choice inside each
    score class — the per_key_cap determinism stance); a document kept
    means the running total INCLUDING it is <= budget.

    Scale shape — no corpus-sized global window anywhere:

    1. score classes reduce to a histogram (score, n_docs, tokens) —
       scores arrive pre-rounded (quality_score emits 4dp), so the
       histogram is grid-bounded (<= 10^4 rows for a [0,1] 4dp score);
       the running class total is a window over THAT bounded frame;
    2. classes whose cumulative total fits keep every document (one
       broadcast semi-join on the score value);
    3. the single BOUNDARY class (first to overflow) selects by an
       exact token prefix-sum in md5-key order, computed with the
       sequence_pack two-phase shard trick (in-shard window + shard
       offsets broadcast back) — the boundary class can be corpus-sized
       (every doc the same score) and still never sorts in one task.

    Output: the kept rows ``(id_col, score_col, token_col, keep_class)``
    with keep_class 'full' (whole score class fit) or 'partial'
    (boundary class, prefix-selected)."""
    from logstash_spark.functions.sample import sample_key

    d = df.select(
        F.col(id_col).alias("id"),
        F.col(score_col).alias("score"),
        F.col(token_col).cast("bigint").alias("tok"),
    ).filter(F.col("score").isNotNull())
    hist = d.groupBy("score").agg(F.sum("tok").alias("ctok"))
    ws = W.orderBy(F.desc("score")).rowsBetween(W.unboundedPreceding, 0)
    hist = hist.withColumn("cum", F.sum("ctok").over(ws))
    full_scores = hist.filter(F.col("cum") <= budget).select("score")
    boundary = hist.filter(
        (F.col("cum") > budget) & (F.col("cum") - F.col("ctok") < budget)
    ).select("score", (F.lit(budget) - (F.col("cum") - F.col("ctok"))).alias("rem"))

    full = d.join(F.broadcast(full_scores), "score").select(
        "id", "score", "tok", F.lit("full").alias("keep_class")
    )

    bd = d.join(F.broadcast(boundary), "score")
    key = sample_key(F.col("id"))
    bd = bd.withColumn("skey", key).withColumn(
        "shard", F.substring("skey", 1, prefix_len)
    )
    wl = W.partitionBy("shard").orderBy("skey", "id").rowsBetween(
        W.unboundedPreceding, 0
    )
    bd = bd.withColumn("_lcum", F.sum("tok").over(wl))
    offs = (
        bd.groupBy("shard")
        .agg(F.sum("tok").alias("_n"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_n").over(
                    W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("shard", "_off")
    )
    partial = (
        bd.join(F.broadcast(offs), "shard")
        .filter(F.col("_off") + F.col("_lcum") <= F.col("rem"))
        .select("id", "score", "tok", F.lit("partial").alias("keep_class"))
    )
    return (
        full.unionByName(partial)
        .select(
            F.col("id").alias(id_col),
            F.col("score").alias(score_col),
            F.col("tok").alias(token_col),
            "keep_class",
        )
    )

"""Corpus-level statistics for LM training pipelines: global n-gram
counts, per-document TF-IDF top-k terms, and source/domain mixture stats.

These are the "what is in my 100 TB corpus" queries a data team runs
before/after every cleaning pass. All three are pure relational plans
(no UDFs); the scale notes are per function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from logstash_spark.functions.text import normalize_text


def _occurrence_ngrams(words: Column, k: int) -> Column:
    """All k-gram OCCURRENCES (not distinct — LM counts need multiplicity).

    Guarded with `when`: Spark's sequence(1, n-k+1) generates a DESCENDING
    sequence when n < k (sequence(1,0) == [1,0]), which would fabricate
    grams from out-of-range slices; short docs must yield an empty array.
    """
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.array_join(F.slice(words, i, k), " "),
    )
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))


def ngram_counts(
    df: DataFrame,
    *,
    text_col: str = "text",
    k: int = 2,
    min_count: int = 2,
) -> DataFrame:
    """Global k-gram occurrence counts over the corpus, thresholded at
    ``min_count`` (a deterministic result SET — unlike top-N-with-ties,
    which is nondeterministic under limit).

    Returns ``(gram, n)``.

    Scale shape: ONE shuffle (groupBy gram) with map-side partial
    aggregation — the load-bearing property under Zipf skew: "of the" at
    10^10 occurrences arrives at the reducer as one partial count per map
    partition, not 10^10 rows. The gram build is a two-projection split +
    transform (the with_shingles lambda-inlining lesson, dedup.py) and the
    explode is non-outer (empty docs contribute nothing)."""
    words = df.select(F.split(normalize_text(F.col(text_col)), " ").alias("_w"))
    grams = words.select(F.explode(_occurrence_ngrams(F.col("_w"), k)).alias("gram"))
    out = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
    return out.filter(F.col("n") >= min_count)


def tfidf_topk(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 3,
    min_term_len: int = 2,
) -> DataFrame:
    """Per-document top-``top_n`` terms by a TF-IDF-style score.

    Score = ``tf * N / df`` (N = corpus size, df = docs containing the
    term) — the log-free idf proxy. Deliberate: IEEE-754 multiply/divide
    are correctly-rounded and bit-identical across engines, `ln` is NOT
    (libm-dependent last-ulp) — so the score is value-hash comparable
    against DuckDB without rounding games. Rank order is identical to
    classic tf·log(N/df) within a document wherever df differs; ties break
    on the term text, pinned in the window order.

    Returns ``(id_col, term, tf, df_docs, score, rank)``.

    Scale shape: three shuffles, each on the natural key — (a) groupBy
    (doc, term) for tf with map-side combine, (b) groupBy term for df
    (partial agg absorbs stopword skew), (c) window per doc for the top-k.
    The term→df attach is an equi-join on the term; the df side is
    vocabulary-sized — often broadcastable, NOT assumed (AQE decides). The
    corpus count N rides in via a 1-row cross join (broadcast-nested-loop
    of one row, free)."""
    terms = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("term"),
    ).filter(F.length("term") >= min_term_len)
    tf = terms.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_total"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_total")).cast("double") / F.col("df_docs"),
        )
    )
    w = W.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    ranked = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_n
    )
    return ranked.select(
        F.col("id").alias(id_col), "term", "tf", "df_docs", "score", "rank"
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
) -> DataFrame:
    """Okapi BM25 retrieval (Robertson & Zaragoza 2009; Lucene's
    positive-idf variant) — the query side of corpus curation: find the
    documents most relevant to a probe query (decontamination-by-retrieval,
    targeted quality audits, "what does my corpus know about X").

    k1 = 1.2, b = 0.75 (the standard defaults), idf = ln(1 + (N - df +
    0.5)/(df + 0.5)) which is strictly positive (no negative-idf common
    terms). Scoring is integer-pinned for cross-engine value equality:

    - idf_e6 = floor(ln(...) * 1e6) — the dsir/selection.py trick; ln is
      evaluated on exact integer ratios so both engines see identical
      doubles before the floor.
    - tf normalization is EXACT BIGINT rational arithmetic. With
      avgdl = sumdl/N, tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) multiplies
      through to 22*tf*sumdl / (10*tf*sumdl + 3*sumdl + 9*dl*N); the e6
      fixed-point quotient uses integer division, bit-identical in Spark
      (`div`) and DuckDB (`//`). Headroom: 1e6*22*tf*sumdl stays under
      2^63 up to ~4e11 total tokens per gate corpus; the production path
      at full 100 TB scale would flip these to doubles (rank order is
      preserved; only the oracle needs the integer grid).

    score_e12 = sum over matched terms of idf_e6 * tfn_e6.

    Scale shape: tokens filter to the |Q| query terms BEFORE any shuffle
    (only matching postings leave the scan); tf groupBy (doc, term) has
    map-side combine; df-per-term is a |Q|-row aggregate broadcast back;
    corpus N/sumdl ride in as a broadcast 1-row frame; the global top-k
    is orderBy+limit = TakeOrdered (per-partition heaps, no single-task
    sort). Returns (id_col, n_terms, score_e12), best first.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), "\\s+")
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.filter(toks, lambda t: t != "").alias("toks"),
    )
    corpus = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("toks")).cast("long").alias("sumdl"),
    )
    terms = base.select(
        "id", F.size("toks").cast("long").alias("dl"), F.explode("toks").alias("term")
    ).filter(F.col("term").isin(list(query_terms)))
    tf = terms.groupBy("id", "dl", "term").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("dfd"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf_e6",
            F.floor(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("dfd") + F.lit(0.5))
                    / (F.col("dfd") + F.lit(0.5))
                )
                * F.lit(1000000.0)
            ).cast("long"),
        )
        .withColumn(
            "tfn_e6",
            F.expr(
                "(1000000 * 22 * tf * sumdl) div "
                "(10 * tf * sumdl + 3 * sumdl + 9 * dl * n_docs)"
            ),
        )
    )
    agg = scored.groupBy("id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms"),
        F.sum(F.col("idf_e6") * F.col("tfn_e6")).cast("long").alias("score_e12"),
    )
    return (
        agg.orderBy(F.desc("score_e12"), F.asc("id"))
        .limit(k)
        .select(F.col("id").alias(id_col), "n_terms", "score_e12")
    )


def domain_mixture(
    df: DataFrame,
    *,
    url_col: str = "url",
    text_col: str = "text",
    group_col: str = "host",
) -> DataFrame:
    """Mixture statistics per source host/domain: document count, token
    sum, and corpus share — the table a mixture recipe (and the stratified
    sampler, sample.py) is tuned against.

    Returns ``(group_col, n_docs, n_tokens, doc_share)``.

    Scale shape: canonicalize + tokenize are per-row JVM maps fused into
    the scan stage; ONE shuffle on the group key (partial agg absorbs the
    hot-host skew this corpus deliberately has — the salting story lives in
    host_agg_salted for the count-distinct case; plain sum/count partials
    need none). The total for the share is a 1-row broadcast cross join,
    and the share division is IEEE-deterministic (no rounding needed for
    the cross-engine hash)."""
    from logstash_spark.functions.text import canonicalize_url

    rows = canonicalize_url(df, source=url_col).withColumn(
        "_toks", F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    )
    per = rows.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_toks").alias("n_tokens"),
    )
    total = per.select(F.sum("n_docs").alias("n_total"))
    return (
        per.crossJoin(F.broadcast(total))
        .withColumn("doc_share", F.col("n_docs").cast("double") / F.col("n_total"))
        .select(group_col, "n_docs", "n_tokens", "doc_share")
    )


def unigram_score(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """Perplexity-proxy quality score (CCNet-style): how "surprising" a
    document is under the corpus's own unigram distribution. The LM is the
    corpus unigram table thresholded at ``min_count`` (a deterministic
    SET — never top-N-with-ties); each in-vocab token contributes
    ``floor(scale / count)`` (rare token -> large rarity), out-of-vocab
    tokens contribute the maximum ``scale``. High score = rare-token-heavy
    (gibberish / boilerplate-free / OOD), exactly the axis perplexity
    filters threshold on.

    Returns ``(id_col, n_tokens, n_oov, rarity_sum, rarity_avg)``.

    Determinism: rarities are LONGS, so per-doc sums are order-independent
    and bit-identical cross-engine (a float ``avg(log p)`` would differ by
    summation order; same trick as tfidf's log-free idf). rarity_avg is a
    single exactly-rounded long/long division at the end.

    Scale shape: vocab build is one Zipf-safe shuffle (map-side partials
    absorb "the"); scoring is explode -> token-keyed join -> id-keyed agg.
    The vocab after min-count thresholding is millions of rows at web
    scale — broadcastable when small; this implementation leaves the join
    strategy to AQE (the token join key is the same Zipf distribution the
    partial aggs already flattened, and the vocab side arrives
    pre-aggregated: one row per token)."""
    toks = df.select(
        F.col(id_col), F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    scored = toks.join(vocab, "tok", "left").select(
        id_col,
        F.coalesce(
            F.floor(F.lit(float(scale)) / F.col("cnt")), F.lit(scale).cast("long")
        ).alias("rarity"),
        F.col("cnt").isNull().cast("long").alias("oov"),
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("oov").alias("n_oov"),
        F.sum("rarity").alias("rarity_sum"),
        F.floor(F.sum("rarity") / F.count(F.lit(1))).alias("rarity_avg"),
    )


def filter_funnel(
    df: DataFrame,
    gates: list[tuple[str, Column]],
) -> DataFrame:
    """Removal accounting for a cleaning pipeline: how many documents
    survive each gate CUMULATIVELY (gate k counts docs passing gates
    1..k). The "no silent caps" table every corpus-cleaning report leads
    with — which stage ate the data.

    ``gates`` is ordered ``[(stage_name, boolean Column), ...]``.
    Returns ``(stage, n_kept, n_removed_here)`` — one row per gate plus
    the 'input' row.

    Scale shape: ONE pass — every cumulative gate is a conditional-sum
    column in a single aggregate (no per-stage jobs, no cache); the 100 TB
    scan happens once and the result is len(gates)+1 rows."""
    aggs = [F.count(F.lit(1)).alias("_n_input")]
    cum = None
    for name, cond in gates:
        cum = cond if cum is None else (cum & cond)
        aggs.append(F.sum(cum.cast("long")).alias(f"_n_{name}"))
    row = df.agg(*aggs).collect()[0]  # len(gates)+1 longs — driver-safe
    spark = df.sparkSession
    counts = [("input", int(row["_n_input"]))] + [
        (name, int(row[f"_n_{name}"])) for name, _ in gates
    ]
    out = []
    for i, (name, n) in enumerate(counts):
        prev = counts[i - 1][1] if i else n
        out.append((i, name, n, prev - n))
    return spark.createDataFrame(
        out, "stage_idx int, stage string, n_kept bigint, n_removed_here bigint"
    )


def sessionize(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_cols: list[str] | None = None,
    gap_sec: int = 1800,
    out: str = "session_n",
) -> DataFrame:
    """Gap-based sessionization: within each key, a new session starts when
    the time since the previous event reaches ``gap_sec`` (>= — the
    half-open [t, t+gap) rule of Spark's session_window; the
    classic web/log-analytics operator; the reference ecosystem reaches it
    via the aggregate filter's task_id correlation — this is the
    declarative form).

    lag + cumulative-sum over one window: exactly ONE shuffle on the key,
    both window functions share the same sort. At 100 TB the key is the
    partition axis — skewed keys (one bot user with 10^9 events) degrade a
    single partition; pre-split such keys on a day boundary upstream (the
    host-salting recipe, host_agg_salted) since sessions never span the
    split in practice. Timestamps compare at whole-second resolution
    (floor), mirrorable across engines.

    ``order_cols`` breaks ordering ties deterministically (default: the
    timestamp only — pass a unique id column when events share seconds).
    """
    tsec = F.unix_timestamp(F.col(ts_col))
    order = [tsec] + [F.col(c) for c in (order_cols or [])]
    w = W.partitionBy(key_col).orderBy(*order)
    prev = F.lag(tsec).over(w)
    # >= : an event exactly gap_sec after the last one starts a NEW
    # session — the same half-open [t, t+gap) rule as Spark's native
    # session_window
    brk = F.when(prev.isNull() | ((tsec - prev) >= gap_sec), 1).otherwise(0)
    cum = W.partitionBy(key_col).orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
    return df.withColumn(out, F.sum(brk).over(cum).cast("int"))


def bigram_score(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """Bigram LM quality score with STUPID BACKOFF (Brants et al. 2007,
    "Large Language Models in Machine Translation" — the web-scale LM
    scoring rule built for exactly this corpus-filtering job): each token
    position scores against P(w | w_prev) from the corpus's own bigram
    table, backing off to 0.4 * P(w) when the bigram is unseen, to a
    constant floor when the token itself is rare/unseen.

    Integer-space rarities (the unigram_score trick — no float log-sums,
    so per-doc totals are order-independent and bit-identical
    cross-engine): a known bigram contributes
    ``floor(scale * cnt(prev) / cnt(prev, w))`` (inverse conditional
    probability — frequent continuations score small), a backoff token
    ``floor(5 * scale * N / (2 * cnt(w)))`` where N is the corpus token
    count (stupid backoff's S(w) = 0.4 * f(w)/N with the 0.4 as the
    exact rational 5/2 — the N factor keeps backoff on the same
    probability axis as the bigram term), and a rare/unseen token the
    same formula at cnt(w) = 1. Position 0 conditions on the ``<s>``
    start symbol (one per document, so cnt(<s>) = corpus document
    count).

    Returns ``(id_col, n_tokens, n_backoff, n_oov, rarity_sum,
    rarity_avg)``. High rarity_avg = improbable under the corpus LM —
    the perplexity axis quality filters threshold on, one order sharper
    than the unigram proxy (a shuffled-word document keeps its unigram
    score but explodes here).

    Scale shape: ONE counting shuffle (the unfiltered bigram table;
    unigram/prev/total counts are rollups of it, so Catalyst reuses the
    exchange instead of rescanning the corpus), one bigram-keyed probe
    join whose dim sides arrive pre-aggregated (AQE picks broadcast vs
    shuffle) plus a 1-row broadcast corpus total, one id-keyed agg.
    Bigrams are formed per-document with arrays_zip inside the scan
    stage — no window, no per-position shuffle."""
    # NULL text scores like empty text (one <s>-to-'' position) — a doc
    # must never silently vanish from the score table
    toks_arr = F.split(normalize_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
    # prepend the start symbol; zip (prev, tok) pairs inside the row
    prevs = F.concat(F.array(F.lit("<s>")), F.slice(toks_arr, 1, F.array_size(toks_arr) - 1))
    pairs = df.select(
        F.col(id_col),
        F.explode(F.arrays_zip(prevs.alias("prev"), toks_arr.alias("tok"))).alias("p"),
    ).select(id_col, F.col("p.prev").alias("prev"), F.col("p.tok").alias("tok"))

    # ONE counting shuffle: the unfiltered bigram table; unigram counts,
    # prev counts and the corpus total are rollups of it (Catalyst reuses
    # the groupBy(prev,tok) exchange across all four consumers instead of
    # rescanning + renormalizing the corpus per table)
    bi_all = pairs.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("bcnt"))
    uni = bi_all.groupBy("tok").agg(F.sum("bcnt").alias("ucnt"))
    pcnt = bi_all.groupBy("prev").agg(F.sum("bcnt").alias("pcnt"))
    total = bi_all.groupBy().agg(F.sum("bcnt").alias("ntot"))  # 1 row
    bi = bi_all.filter(F.col("bcnt") >= min_count)

    j = (
        pairs.join(bi, ["prev", "tok"], "left")
        .join(pcnt, "prev", "left")
        .join(uni.filter(F.col("ucnt") >= min_count), "tok", "left")
        .crossJoin(F.broadcast(total))  # 1-row corpus total, tfidf pattern
    )
    known_bi = F.col("bcnt").isNotNull()
    known_uni = F.col("ucnt").isNotNull()
    # pure BIGINT division (div) — no float quotient anywhere, so floors
    # can never disagree across engines on a boundary. Rarity is
    # scale/P on ONE common axis: bigram scale*cnt(prev)/cnt(ab);
    # backoff scale/(0.4*cnt(w)/N) = 5*scale*N/(2*cnt(w)) — the corpus
    # total N is what puts backoff on the same probability axis (without
    # it every backoff position scores BELOW every seen bigram and the
    # filter inverts). OOV = the backoff formula at cnt(w)=1.
    # Overflow bound: terms top out at ~2.5*scale*N — with the default
    # scale=1e6 that holds per-doc int64 sums to corpora of ~1e9 tokens;
    # pass a smaller scale beyond that.
    rarity = (
        F.when(known_bi, F.expr(f"CAST({scale} AS BIGINT) * pcnt div bcnt"))
        .when(known_uni, F.expr(f"CAST({5 * scale} AS BIGINT) * ntot div (2 * ucnt)"))
        .otherwise(F.expr(f"CAST({5 * scale} AS BIGINT) * ntot div 2"))
    )
    scored = j.select(
        id_col,
        rarity.alias("rarity"),
        (~known_bi & known_uni).cast("long").alias("backoff"),
        (~known_uni).cast("long").alias("oov"),
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("backoff").alias("n_backoff"),
        F.sum("oov").alias("n_oov"),
        F.sum("rarity").alias("rarity_sum"),
    ).withColumn("rarity_avg", F.expr("rarity_sum div n_tokens"))


def inverted_index(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    k: int = 50,
    salt_shards: int = 8,
) -> DataFrame:
    """Impact-ordered inverted index build — the sharded postings table a
    search/retrieval layer serves from: one row per kept posting,
    ``(term, shard, df_docs, doc_id, tf, posting_rank)`` where postings
    are ranked tf-descending (doc_id breaks ties) and truncated at ``k``
    per term (impact-ordered index pruning: the high-tf head is what
    top-k retrieval ever touches; ``df_docs`` keeps the TRUE document
    frequency from before truncation so idf stays honest). ``shard`` is
    the first hex char of md5(term) — the partition key an index writer
    splits posting files by.

    Scale shape — the naive `row_number() OVER (PARTITION BY term)` puts
    a stopword's corpus-sized posting list in ONE task. Skew-safe
    two-phase top-k instead:

    1. tf per (term, doc) — groupBy with map-side combine,
    2. LOCAL rank within (term, salt) where salt = doc_id %
       ``salt_shards``; keep local rank <= k (any global top-k member is
       top-k in its own salt shard, so no survivor is lost),
    3. FINAL rank over the <= salt_shards*k survivors per term — a
       bounded window (never corpus-sized), keep rank <= k.

    df-per-term is its own groupBy (partial-agg absorbs Zipf skew) and
    joins the pruned postings on term. min_df drops hapax noise before
    the expensive ranking."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), "\\s+")
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.filter(toks, lambda t: t != "")).alias("term"),
    )
    tf = base.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df_docs"))
        .filter(F.col("df_docs") >= min_df)
    )
    salted = tf.withColumn("_salt", F.pmod(F.col("doc_id"), F.lit(salt_shards)))
    order = [F.col("tf").desc(), F.col("doc_id").asc()]
    local = F.row_number().over(W.partitionBy("term", "_salt").orderBy(*order))
    head = salted.withColumn("_lr", local).filter(F.col("_lr") <= k)
    final = F.row_number().over(W.partitionBy("term").orderBy(*order))
    pruned = (
        head.withColumn("posting_rank", final)
        .filter(F.col("posting_rank") <= k)
        .drop("_salt", "_lr")
    )
    return pruned.join(dfreq, "term").select(
        "term",
        F.substring(F.md5(F.col("term")), 1, 1).alias("shard"),
        "df_docs",
        "doc_id",
        "tf",
        F.col("posting_rank").cast("int").alias("posting_rank"),
    )


def pmi_collocations(
    df: DataFrame,
    *,
    text_col: str = "text",
    top_n: int = 50,
    min_count: int = 5,
) -> DataFrame:
    """Corpus-level collocation extraction by pointwise mutual
    information (Church & Hanks 1990): adjacent word pairs that co-occur
    far more than their marginals predict — the multiword expressions
    ("los angeles", "et al") a tokenizer or phrase vocabulary wants.

    Scored by the PMI LIFT ``c_xy * N / (c_x * c_y)`` (the log's
    argument; PMI = ln(lift) is monotone in it). The log stays off for
    the tfidf_topk reason: IEEE multiply/divide are correctly rounded
    and bit-identical across engines, libm ``ln`` is not. ``min_count``
    suppresses the classic PMI pathology (hapax pairs score highest);
    ties at the cut break on the pair text.

    Scale shape: the bigram and unigram counting shuffles both map-side
    combine (Zipf skew becomes partial sums); the marginal attach is two
    equi-joins against the vocabulary-sized unigram table (AQE
    broadcasts when it fits); N rides a 1-row broadcast. The global
    top-n compiles to TakeOrderedAndProject — per-partition heaps plus a
    driver merge of n rows, never a full sort."""
    from logstash_spark.functions.text import normalize_text

    words = df.select(
        F.split(normalize_text(F.col(text_col)), " ").alias("ws")
    )
    uni = words.select(F.explode("ws").alias("w")).filter(F.col("w") != "")
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_tok = uni.select(F.count(F.lit(1)).alias("n_total"))
    bi = words.select(F.explode(_occurrence_ngrams(F.col("ws"), 2)).alias("g"))
    bcnt = bi.groupBy("g").agg(F.count(F.lit(1)).alias("pair_count"))
    bcnt = bcnt.filter(F.col("pair_count") >= min_count).select(
        F.split("g", " ")[0].alias("w1"),
        F.split("g", " ")[1].alias("w2"),
        "pair_count",
    )
    scored = (
        bcnt.join(ucnt.select(F.col("w").alias("w1"), F.col("c").alias("w1_count")), "w1")
        .join(ucnt.select(F.col("w").alias("w2"), F.col("c").alias("w2_count")), "w2")
        .crossJoin(F.broadcast(n_tok))
        .withColumn(
            "lift",
            (F.col("pair_count").cast("double") * F.col("n_total"))
            / (F.col("w1_count").cast("double") * F.col("w2_count")),
        )
    )
    return scored.select(
        "w1", "w2", "pair_count", "w1_count", "w2_count", "lift"
    ).orderBy(F.desc("lift"), "w1", "w2").limit(top_n)

"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding near-dup.

These are the training-data-pipeline extensions (not in the Logstash
reference). Scale reasoning per operator:

- exact          — one hash-shuffle on the md5 key; row_number keeps the
                   first doc per group. At 100 TB: standard groupBy, AQE
                   handles key skew (empty/boilerplate docs are the hot keys).
- ngram_jaccard  — brute-force pair scoring is O(n²); bounded by a cheap
                   equi-bucket (here: shared rare-shingle prefix bucket) so
                   the self-join is bucket-local. The exact Jaccard filter is
                   array_intersect/union, JVM-side.
- minhash_lsh    — shingles -> K minhashes via K independent xxhash64 salts
                   (one pass, no UDF), band into B buckets, self-join within
                   (band, bucket) — the classic LSH candidate generation with
                   two shuffles (explode + join). Candidates verified with
                   exact Jaccard.
- simhash        — 64-bit sign-sum of per-token hashes. Implemented with
                   explode + groupBy bit-vote (pure exprs); near-dups = equal
                   simhash prefix buckets + hamming check via bit_count(xor).
- embedding      — cosine near-dup over `embeddings.embedding`; see
                   similarity.py (shares the dot-product kernel).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from logstash_spark.functions.text import normalize_text

# Persist-handle registry: the shingle frames below must stay cached until
# the RETURNED DataFrame is materialized (the cache doubles as the
# pushdown barrier), so the functions cannot unpersist before returning.
# Long-lived sessions call release_cached() between jobs to stop executor
# storage from leaking across repeated calls (bench.py does).
_PERSISTED: list = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    h = df.persist()
    _PERSISTED.append(h)
    return h


def release_cached() -> int:
    """Unpersist every frame cached by dedup calls so far; returns count."""
    n = 0
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
            n += 1
        except Exception:
            pass
    return n


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", keep: str = "min"
) -> DataFrame:
    """Keep one document per normalized-content hash (lowest id wins).

    Adds ``content_key`` (md5 of normalized text) and ``dup_count``.
    """
    df = df.withColumn("content_key", F.md5(normalize_text(F.col(text_col))))
    w = W.partitionBy("content_key")
    order = F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()
    df = df.withColumn("dup_count", F.count(F.lit(1)).over(w))
    df = df.withColumn("_rn", F.row_number().over(w.orderBy(order)))
    return df.filter(F.col("_rn") == 1).drop("_rn")


def dedup_incremental(
    new_df: DataFrame,
    seen_keys: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup for continuous intake: first dedup the new
    batch internally (first occurrence wins), then drop every row whose
    normalized-content key already exists in the seen corpus.

    ``seen_keys`` needs only a ``content_key`` column — at 10^12-doc scale
    the seen side is a key-only table (16 bytes/row), never the documents
    themselves. The anti-join shuffles on the key; AQE broadcasts the new
    batch's side when a micro-batch is small. (A bloom filter over seen
    keys can pre-filter the scan to cut the shuffle further; it's an
    OPTIMIZATION with false-positive drops, so the exact anti-join stays
    the semantics.) Survivors keep ``content_key`` so the caller can append
    them to the seen table — the loop that makes intake incremental.
    """
    batch = dedup_exact(new_df, text_col=text_col, id_col=id_col)
    seen = seen_keys.select("content_key").distinct()
    return batch.join(seen, "content_key", "left_anti")


def dedup_bloom(
    new_df: DataFrame,
    seen_keys: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 20,
    num_hashes: int = 4,
) -> DataFrame:
    """Incremental dedup with a BLOOM-FILTER pre-filter: same exact
    semantics as :func:`dedup_incremental` (first-in-batch AND unseen
    survive), but only the rows the bloom flags as *maybe seen* ever join
    against the seen-keys table. Bloom-negative rows — the overwhelming
    majority in steady-state intake — are provably new (no false
    negatives) and skip the anti-join shuffle entirely.

    Construction is relational end-to-end so DuckDB can replay it
    bit-for-bit: each seen key sets ``num_hashes`` positions
    ``conv(substr(md5(key|i), 1, 6), 16, 10) % m_bits``; positions pack
    into 32-bit words (``word_idx = pos >> 5``, ``bit = pos % 32``) via
    one ``bit_or`` aggregation — the filter materializes as a
    ``m_bits/32``-row (word_idx, word) table, NOT driver state. Probing
    is a broadcast join on word_idx (the words table is ~16 bytes/row:
    2^20 bits -> 32 Ki rows -> <1 MB). 32-bit words keep every shift in
    [0, 31] (DuckDB raises on ``1::BIGINT << 63``; Spark wraps — 32-bit
    words make the two engines agree without a sign-bit special case).

    Output: survivors of the exact semantics, with ``bloom_hit`` exposing
    the false positives (bloom_hit=true rows that still survived the
    exact anti-join).

    100 TB shape: the words table scales with the SEEN set, not the
    batch — 10 bits/key. Up to ~10^9-10^10 seen keys that is single-digit
    GB and broadcastable; at the full 10^12-key corpus the bloom is
    ~1.25 TB and must stay distributed — the words join degrades to a
    shuffle join on word_idx that carries (id, pos) pairs only (24
    B/probe), still far below shuffling the batch against a 16 TB seen
    table, and per-key-range partial blooms restore the broadcast. The
    anti-join then runs on hits only: at a steady-state duplicate rate d
    and bloom FP rate p (~2% at 10 bits/key, k=4), the shuffled fraction
    is d + p instead of 1.0.
    """
    batch = dedup_exact(new_df, text_col=text_col, id_col=id_col)
    seen = seen_keys.select("content_key").distinct()

    def pos_col(i: int) -> Column:
        h = F.md5(F.concat_ws("|", F.col("content_key"), F.lit(str(i))))
        return F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % F.lit(m_bits)

    idx = F.explode(F.array(*[F.lit(i) for i in range(num_hashes)])).alias("i")
    pos = (
        F.conv(F.substring(F.md5(F.concat_ws("|", F.col("content_key"), F.col("i"))), 1, 6), 16, 10)
        .cast("long") % F.lit(m_bits)
    ).alias("pos")

    words = _persist_tracked(
        seen.select("content_key", idx)
        .select(pos)
        .select(
            F.shiftright(F.col("pos"), 5).alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("b"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("b").alias("w"))
    )  # one bit_or pass over the seen keys, reused by all k probe joins

    # Probe with ZERO batch-side shuffles: the k positions are plain
    # columns (no explode -> no regroup -> no join-back), each tested via
    # its own broadcast map-join against the same <1 MB words table. The
    # batch flows through k map-side joins in one stage.
    flagged = batch
    hit_cols = []
    for i in range(num_hashes):
        p = f"_bp{i}"
        flagged = flagged.withColumn(p, pos_col(i)).withColumn(
            f"_bw{i}", F.shiftright(F.col(p), 5)
        )
        w = words.withColumnRenamed("word_idx", f"_bw{i}").withColumnRenamed("w", f"_w{i}")
        flagged = flagged.join(F.broadcast(w), f"_bw{i}", "left")
        hit_cols.append(
            F.col(f"_w{i}").isNotNull()
            & (F.expr(f"shiftright(_w{i}, CAST(_bp{i} % 32 AS INT)) & 1") == 1)
        )
    all_hit = hit_cols[0]
    for h in hit_cols[1:]:
        all_hit = all_hit & h
    flagged = _persist_tracked(
        flagged.withColumn("bloom_hit", all_hit).drop(
            *[c for i in range(num_hashes) for c in (f"_bp{i}", f"_bw{i}", f"_w{i}")]
        )
    )  # barrier: the misses/hits branches below each scan this once
    # instead of recomputing batch-dedup + k probe joins per branch

    misses = flagged.filter(~F.col("bloom_hit"))
    hits_new = flagged.filter(F.col("bloom_hit")).join(seen, "content_key", "left_anti")
    cols = [id_col, "content_key", "dup_count", "bloom_hit"]
    return misses.select(*cols).unionByName(hits_new.select(*cols))


# ---------------------------------------------------------------------------
# line-level exact dedup (C4-style: one occurrence of each exact line
# SURVIVES across the whole corpus; later occurrences are cut out of their
# documents)
# ---------------------------------------------------------------------------


def dedup_lines(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
    min_line_chars: int = 1,
) -> DataFrame:
    """Cross-corpus exact LINE dedup (the C4 cleaning rule): every distinct
    non-empty line keeps its globally-first occurrence — ordered by
    (doc_id, position) — and every later occurrence is removed from its
    document; documents are reassembled from their surviving lines in
    original order.

    Returns (id_col, text_deduped, n_lines, n_lines_kept).

    Scale shape: posexplode -> ONE shuffle on the line hash (min_by keeps
    the first (doc_id, pos) — partial aggregation collapses duplicates
    map-side, so the shuffle carries one row per distinct line per
    partition, not per occurrence) -> join winners back on (line_key,
    doc_id, pos) -> groupBy doc to reassemble (second shuffle, keyed on the
    id). Boilerplate lines (the skew risk: empty/nav lines repeated 10^9
    times) collapse map-side in the same partial agg, so no salting is
    needed. Lines shuffle as md5 keys + (id, pos), never full text."""
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias("pos", "line"),
    ).filter(F.length(F.trim(F.col("line"))) >= min_line_chars)
    keyed = lines.withColumn("lk", F.md5(F.col("line")))
    winners = keyed.groupBy("lk").agg(
        F.min(F.struct("id", "pos")).alias("w"),
        F.count(F.lit(1)).alias("n_occ"),
    ).select("lk", F.col("w.id").alias("id"), F.col("w.pos").alias("pos"))
    kept = keyed.join(winners, ["lk", "id", "pos"])  # inner: only the winner rows
    docs = kept.groupBy("id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "line"))), lambda s: s["line"]),
            line_sep,
        ).alias("text_deduped"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    totals = lines.groupBy("id").agg(F.count(F.lit(1)).alias("n_lines"))
    out = totals.join(docs, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
        "n_lines",
        F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
    )
    return out


def dup_spans(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    stride: int = 1,
    min_docs: int = 2,
    hot_cap: int | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """Exact duplicated-SUBSTRING detection — the k-gram formulation of
    ExactSubstr ('Deduplicating Training Data Makes Language Models
    Better', Lee et al. 2022): hash every k-token window; a window whose
    hash occurs in >= ``min_docs`` distinct documents is a duplicated
    span. Returns one row per duplicated-window occurrence:
    (id_col, pos, gram_hash, n_docs), pos 1-based in token space.

    Relational plan (the suffix-array of the paper is a single-machine
    structure; the k-gram inverted index is its shuffle-native analog):
      1. tokenize JVM-side (split), window-hash via transform+slice —
         md5 over the joined window, zero Python;
      2. explode to (id, pos, gh) — ~one row per token at stride 1; the
         text itself never shuffles, only 16-byte keys + ints;
      3. groupBy gh with countDistinct(id) — partial aggregation collapses
         boilerplate grams map-side, so the classic skew key (a nav bar
         repeated 10^9 times) arrives at the reducer once per map
         partition, not per occurrence;
      4. join occurrences back on gh (ids only).
    At 100 TB: stride trades recall for an s-fold explode reduction
    (stride <= k/2 still catches every duplicated run of >= 2k tokens);
    ``hot_cap`` drops grams with more than that many occurrences before
    the join-back (boilerplate a human would strip by rule, not by pair
    enumeration) — account for drops with :func:`hot_bucket_stats`.
    ``hash_fn``: 'md5' (gate default — DuckDB replays it) or 'xxhash64'
    (production: 8-byte bigint keys instead of 32-char hex — the explode
    and both shuffles carry a quarter of the bytes).
    """
    hasher = F.xxhash64 if hash_fn == "xxhash64" else F.md5
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("l")
    )
    npos = F.size("l") - F.lit(k - 1)
    seq = F.when(npos >= 1, F.sequence(F.lit(1), npos, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    grams = toks.select(
        "id",
        F.explode(
            F.transform(
                seq,
                lambda i: F.struct(
                    i.alias("pos"),
                    hasher(F.array_join(F.slice(F.col("l"), i, k), " ")).alias("gh"),
                ),
            )
        ).alias("g"),
    ).select("id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))
    grams = _persist_tracked(grams)
    counts = grams.groupBy("gh").agg(
        F.countDistinct("id").alias("n_docs"), F.count(F.lit(1)).alias("n_occ")
    )
    dup = counts.filter(F.col("n_docs") >= min_docs)
    if hot_cap is not None:
        dup = dup.filter(F.col("n_occ") <= hot_cap)
    dup = dup.drop("n_occ")
    return grams.join(dup, "gh").select(
        F.col("id").alias(id_col), "pos", F.col("gh").alias("gram_hash"), "n_docs"
    )


def remove_dup_spans(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    stride: int = 1,
    hot_cap: int | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """ExactSubstr REMOVAL: every duplicated k-token window keeps its
    globally-first occurrence — ordered by (doc_id, pos), same rule as
    :func:`dedup_lines` — and every later occurrence's tokens are cut
    from their document. Returns (id_col, text_deduped, n_tokens,
    n_tokens_cut).

    The cut itself is columnar: the loser span-starts per doc come back
    as one array; kept tokens are `filter(sequence(1, n), i -> no span
    covers i)` — nested-lambda JVM exprs, no Python, no extra shuffle
    beyond dup_spans' two.
    """
    # min_docs=1 keeps every occurrence; duplicated = hash seen more than
    # once ANYWHERE (same or cross doc) via the window count below —
    # rank 1 survives, later occurrences are cut
    spans = dup_spans(
        df, text_col=text_col, id_col=id_col, k=k, stride=stride,
        min_docs=1, hot_cap=hot_cap, hash_fn=hash_fn,
    )
    w = W.partitionBy("gram_hash").orderBy(F.col(id_col).asc(), F.col("pos").asc())
    ranked = spans.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(W.partitionBy("gram_hash"))
    )
    losers = ranked.filter((F.col("_n") >= 2) & (F.col("_rk") >= 2))
    cuts = losers.groupBy(id_col).agg(F.collect_list("pos").alias("cut_starts"))
    # same null-text filter as dup_spans' gram base: a null document would
    # otherwise emit (id, '', n_tokens=-1) garbage rows (size(null) = -1)
    # and diverge from the oracle, which starts from text IS NOT NULL
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("l")
    ).join(cuts, id_col, "left")
    starts = F.coalesce(F.col("cut_starts"), F.array().cast("array<int>"))
    kept = F.filter(
        F.sequence(F.lit(1), F.size("l")),
        lambda i: ~F.exists(starts, lambda p: (p <= i) & (i < p + F.lit(k))),
    )
    out = base.select(
        F.col(id_col),
        F.array_join(
            F.transform(kept, lambda i: F.element_at(F.col("l"), i)), " "
        ).alias("text_deduped"),
        F.size("l").alias("n_tokens"),
        (F.size("l") - F.size(kept)).alias("n_tokens_cut"),
    )
    return out


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap against an eval/benchmark pool —
# the standard pre-training hygiene step: drop training docs that contain
# benchmark material)
# ---------------------------------------------------------------------------


def decontaminate(
    df: DataFrame,
    bench: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Flag corpus documents sharing >= ``min_overlap`` distinct word
    ``k``-grams with the benchmark pool (the union of all benchmark docs'
    grams — per-benchmark-doc attribution is a groupBy away but the drop
    decision only needs the pool).

    Returns every corpus row's (id_col, n_shared, contaminated).

    Scale shape: the benchmark side is SMALL by construction (eval suites,
    not the corpus) — its distinct gram set is broadcast, so the corpus is
    scanned ONCE: explode_outer grams -> broadcast LEFT join marker ->
    groupBy doc counting matched grams. One shuffle total (keyed on the doc
    id, partial count map-side); gram text never shuffles (md5 keys).

    explode_outer (not explode) is load-bearing twice over: (a) every doc
    id survives to the aggregate (a null-gram row groups to n_shared 0), so
    no second join is needed to restore zero-count docs; (b) Catalyst's
    InferFiltersFromGenerate only fires on non-outer generates — with plain
    explode it pushes a `size(shingles) > 0` filter below the Generate,
    INLINING the whole shingle expression a second time (2x the map cost;
    verified in the physical plan)."""
    from pyspark.sql.functions import broadcast

    corpus_grams = with_shingles(
        df.select(F.col(id_col).alias("id"), F.coalesce(F.col(text_col), F.lit("")).alias(text_col)),
        text_col, k,
    ).select("id", F.explode_outer("sh").alias("g")).select("id", F.md5("g").alias("gk"))
    bench_grams = (
        with_shingles(bench.select(F.col(text_col)), text_col, k)
        .select(F.explode("sh").alias("g"))
        .select(F.md5("g").alias("gk"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    out = (
        corpus_grams.join(broadcast(bench_grams), "gk", "left")
        .groupBy("id")
        .agg(F.count_distinct(F.when(F.col("_hit").isNotNull(), F.col("gk"))).alias("n_shared"))
    )
    return out.select(
        F.col("id").alias(id_col),
        F.col("n_shared"),
        (F.col("n_shared") >= min_overlap).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# connected components over near-dup pairs (the step between LSH candidate
# pairs and an actual deduped corpus: pairs chain — A~B, B~C — so "keep one
# per pair" under-dedups; the keep-set is one doc per CONNECTED COMPONENT)
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components of the undirected pair graph: returns
    ``(node, component)`` where ``component`` is the MIN node id in the
    node's component (only nodes that appear in an edge are returned —
    isolated docs are their own component by definition; see
    :func:`dedup_clusters`).

    Algorithm: iterative min-label propagation — each round every node
    takes the min of its own label and its neighbors' labels; converges in
    O(graph diameter) rounds. Near-dup graphs are dense star/clique-ish
    clusters (diameter 2-4 in practice), so this beats the O(log n)
    large-star/small-star construction on constant factors while having
    the same shuffle shape per round: one equi-join edges⋈labels (keyed on
    the node id) + one groupBy-min (partial agg map-side — a hot hub node's
    messages collapse before the shuffle, which is the skew story).

    Scale hygiene (the ivf_train lesson, similarity.py:416): every round
    ends in ``localCheckpoint(eager=True)`` so plan depth stays CONSTANT in
    the iteration count — without it each round's plan stacks another
    join+agg and a task retry at round k recomputes rounds 1..k-1. The
    edge list is checkpointed once up front (it is re-scanned every round).
    Convergence is detected with a ``limit(1).count()`` probe on the
    improved-label set — a cheap short-circuit job against the checkpointed
    frames, not a full scan of lineage.
    """
    e = edges.select(F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d"))
    bidir = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()
    bidir = bidir.localCheckpoint(eager=True)
    labels = (
        bidir.select(F.col("s").alias("node")).distinct().withColumn("comp", F.col("node"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iters):
        msgs = bidir.join(labels, bidir["s"] == labels["node"]).select(
            F.col("d").alias("node"), F.col("comp")
        )
        new = (
            labels.unionByName(msgs).groupBy("node").agg(F.min("comp").alias("comp"))
        ).localCheckpoint(eager=True)
        improved = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") < F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new
        if improved == 0:
            break
    else:
        # no silent caps: returning partially-propagated labels would split
        # one real cluster into several "components" (and so KEEP duplicate
        # canonical docs) with nothing in the output saying so
        raise ValueError(
            f"connected_components: not converged after max_iters={max_iters} "
            "rounds (graph diameter exceeds the budget) — raise max_iters; "
            "labels would be silently wrong otherwise"
        )
    return labels.select("node", F.col("comp").alias("component"))


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Assign every document its near-dup cluster id (min doc id of its
    connected component; singletons cluster to themselves) and mark the one
    canonical survivor per cluster.

    Returns ``(id_col, cluster, is_canonical)`` — the keep-set is
    ``is_canonical``; the mapping rows double as the redirect table
    (dup -> canonical) a training pipeline writes alongside the corpus.

    Scale shape: the component table is |docs-in-any-pair| rows — tiny
    relative to the corpus (dup rate × corpus) but NOT assumed
    broadcastable; the attach is a plain equi-join on the id (one shuffle,
    AQE converts it to broadcast when the pair set is actually small)."""
    cc = connected_components(pairs, src=src, dst=dst).withColumnRenamed("node", id_col)
    out = df.select(F.col(id_col).cast("long")).join(cc, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("cluster"),
    )
    return out.withColumn("is_canonical", F.col(id_col) == F.col("cluster"))


# ---------------------------------------------------------------------------
# shingling (shared)
# ---------------------------------------------------------------------------


def _shingles_of(words: Column, k: int) -> Column:
    n = F.size(words)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(words, i, k), " "))
    return F.array_distinct(sh)


def with_shingles(df: DataFrame, text_col: str, k: int, out: str = "sh") -> DataFrame:
    """Two-projection shingling: the split/normalize runs ONCE per row; the
    shingle lambda references the materialized `_words` column (Catalyst
    keeps the projections separate — its CollapseProject rule declines to
    inline non-cheap multi-referenced exprs, unlike a hand-inlined tree)."""
    df = df.withColumn("_words", F.split(normalize_text(F.col(text_col)), " "))
    df = df.withColumn(out, _shingles_of(F.col("_words"), k))
    return df.drop("_words")


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter / F.greatest(union, F.lit(1))


def cap_hot_buckets(df: DataFrame, bucket_cols: list[str], cap: int) -> DataFrame:
    """Drop rows in buckets with more than ``cap`` members — the standard
    LSH hot-band treatment.

    A boilerplate-heavy web corpus concentrates a huge share of docs in a
    few buckets (empty pages, templated headers); a bucket-local self-join
    is O(bucket²) PAIRS in one task, which AQE cannot split (skew-join
    splits partitions, not the pair count). Pairs inside dropped buckets
    are lost by design (exact duplicates belong to dedup_exact upstream).

    Implemented as a window count over the bucket key: the window's shuffle
    partitioning is the SAME key the subsequent self-join uses, so Catalyst
    reuses the exchange — the cap costs no extra shuffle. Dropped-bucket
    accounting (no-silent-caps rule): use :func:`hot_bucket_stats` — an
    always-on count would force an extra action on the hot path.
    """
    w = W.partitionBy(*bucket_cols)
    return (
        df.withColumn("_bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_bucket_n") <= cap)
        .drop("_bucket_n")
    )


def hot_bucket_stats(df: DataFrame, bucket_cols: list[str], cap: int) -> dict:
    """Accounting for cap_hot_buckets: how many buckets/rows a given cap
    would drop. Separate action by design — call it when you need the
    numbers (tests, pipeline health checks), not on the hot path."""
    agg = (
        df.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > cap)
        .agg(
            F.count(F.lit(1)).alias("dropped_buckets"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("dropped_rows"),
        )
        .first()
    )
    return {"dropped_buckets": agg["dropped_buckets"], "dropped_rows": agg["dropped_rows"]}


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (bucketed brute force)
# ---------------------------------------------------------------------------


def dedup_ngram_jaccard(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.6,
    bucket_by: str = "first_shingle",
    bucket_cap: int = 2048,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) with shingle-Jaccard >= threshold.

    Bucketing: documents sharing their lexicographically-first shingle land
    in one bucket; the self-join is bucket-local (equi-join -> shuffle hash
    join, never a cartesian). Near-dups with threshold >= ~0.5 share their
    min-shingle with high probability; exactness is restored by the final
    Jaccard filter (this is a recall/efficiency trade documented here).
    Buckets above ``bucket_cap`` members are dropped before the self-join
    (see cap_hot_buckets) — otherwise one boilerplate bucket is O(bucket²)
    pairs in a single task.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    # NOTE the filter comes AFTER persist: predicate pushdown would otherwise
    # substitute the full shingle expression into the filter condition and
    # push it below the repartition — re-running the (lambda-inlined, ~30x
    # slower) shingling on the unparallelized input. The cache is the barrier.
    sh = _persist_tracked(with_shingles(
        df.select(F.col(id_col).alias("id"), F.col(text_col)).repartition(par),
        text_col, k,
    ).select("id", "sh"))
    sh = sh.filter(F.size("sh") > 0).withColumn("bucket", F.array_min("sh"))
    sh = cap_hot_buckets(sh, ["bucket"], bucket_cap)
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "bucket")
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "bucket")
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    pairs = pairs.withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4))
    return pairs.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# shingle containment (partial-dup / wrapped-content detection)
# ---------------------------------------------------------------------------


def containment(a: Column, b: Column) -> Column:
    """C(A,B) = |A ∩ B| / min(|A|, |B|) — 1.0 when the smaller set is fully
    inside the larger, regardless of how much extra the larger carries."""
    inter = F.size(F.array_intersect(a, b))
    return inter / F.greatest(F.least(F.size(a), F.size(b)), F.lit(1))


def dedup_containment(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.7,
    probe_m: int = 2,
    shingle_cap: int = 4096,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) with shingle CONTAINMENT >= threshold.

    The web case Jaccard misses: a page whose article text is wrapped in a
    large boilerplate shell (nav, footer, related-links). Jaccard of
    (article, article-in-shell) shrinks with the shell size and falls under
    any fixed threshold; containment stays ~1.0 because the article's
    shingles are all still there. Same detection need as the reference's
    duplicate-input tagging, generalized to subset relations.

    Candidate generation is a prefix-filtered probe into an inverted
    shingle index (the ppjoin/prefix-filter family, public literature):

    - index side: EVERY doc's distinct shingles exploded to (shingle, id)
      posting rows — linear in corpus tokens, the cost class of building a
      search index; posting lists longer than ``shingle_cap`` are dropped
      whole (cap_hot_buckets — a boilerplate gram's posting list would
      otherwise contribute O(cap²) candidate pairs).
    - probe side: each doc's ``probe_m`` lexicographically smallest
      shingles. If C(A,B) >= t, at most a (1-t) fraction of the contained
      doc's shingles are outside the other, so the probability that ALL m
      bottom shingles miss is ~(1-t)^m under uniform placement — a
      documented recall/efficiency trade exactly like the min-shingle
      bucket in :func:`dedup_ngram_jaccard`.

    The candidate join carries id+shingle ONLY (the minhash id-only
    pattern); shingle arrays are re-attached by id for the exact
    containment verification after pair dedup, so at 100 TB the wide rows
    never ride the skew-prone shingle-keyed shuffle.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    # persist-then-filter, same rationale as dedup_ngram_jaccard: the cache
    # is the barrier that stops pushdown from re-inlining the shingle regexes
    base = _persist_tracked(
        with_shingles(
            df.select(F.col(id_col).alias("id"), F.col(text_col)).repartition(par),
            text_col, k,
        ).select("id", "sh")
    ).filter(F.size("sh") > 0)
    probe = base.select(
        "id", F.explode(F.slice(F.array_sort("sh"), 1, probe_m)).alias("s")
    )
    index = cap_hot_buckets(base.select("id", F.explode("sh").alias("s")), ["s"], shingle_cap)
    cand = (
        probe.select(F.col("id").alias("pid"), "s")
        .join(index.select(F.col("id").alias("xid"), "s"), "s")
        .filter(F.col("pid") != F.col("xid"))
        .select(
            F.least("pid", "xid").alias("id_a"),
            F.greatest("pid", "xid").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = base.select("id", "sh")
    cand = (
        cand.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    cand = cand.withColumn(
        "containment", F.round(containment(F.col("sh_a"), F.col("sh_b")), 4)
    )
    return cand.filter(F.col("containment") >= threshold).select(
        "id_a", "id_b", "containment"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def dedup_minhash_lsh(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """LSH candidate pairs verified by exact Jaccard.

    bands×rows layout: 32 hashes / 8 bands = 4 rows per band; collision
    probability curve s^4 per band. Shuffles: one explode+groupBy-free join
    on (band, band_hash) — at 100 TB the candidate join dominates; band
    buckets bound its size.

    ``hash_fn``: 'xxhash64' (production default — cheapest JVM hash) or
    'md5' (hex-string minhashes via md5(shingle|salt), string min; exists
    so the construction is value-verifiable against DuckDB, which has md5
    but not xxhash64 — same algorithm, same banding, different hash family).
    """
    rows_per_band = num_hashes // bands
    par = df.sparkSession.sparkContext.defaultParallelism
    base = (
        # repartition: a small parquet reads as few splits; the per-row
        # shingle/hash work needs full parallelism regardless of input layout
        # persisted (tracked): reused by the candidate-verification join
        # below; the cache also stops predicate pushdown from inlining the
        # shingle expression into the size() filter below the repartition
        _persist_tracked(
            with_shingles(
                df.select(F.col(id_col).alias("id"), F.col(text_col)).repartition(par),
                text_col, k,
            ).select("id", "sh")
        )
        .filter(F.size("sh") > 0)
    )
    # Signature via explode + k flat min-aggregates, NOT nested HOF lambdas:
    # Catalyst's projection collapse inlines any expression referenced inside
    # a transform() lambda and re-evaluates it per element (measured 100x
    # slowdown re-running the shingle regexes num_hashes times per row).
    # The relational formulation is also the right 100 TB shape: partial
    # min() aggregation collapses to one row per doc map-side, so the only
    # shuffle carries k longs per document.
    if hash_fn == "md5":
        tok = base.select("id", F.explode("sh").alias("s"))
        sig = tok.groupBy("id").agg(
            *[
                F.min(F.md5(F.concat_ws("|", F.col("s"), F.lit(str(i))))).alias(f"mh{i}")
                for i in range(num_hashes)
            ]
        )
        band_hash = lambda cols: F.md5(F.concat_ws("|", *cols))  # noqa: E731
    else:
        tok = base.select("id", F.explode("sh").alias("s")).select(
            "id", F.xxhash64("s").alias("h")
        )
        sig = tok.groupBy("id").agg(
            *[F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"mh{i}") for i in range(num_hashes)]
        )
        band_hash = lambda cols: F.xxhash64(*cols)  # noqa: E731
    # band hash over the band's slice of the signature (one flat expr each)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            band_hash([F.col(f"mh{b * rows_per_band + j}") for j in range(rows_per_band)]).alias("bh"),
        )
        for b in range(bands)
    ]
    # The band join must shuffle ONLY (id, band, bh) — at 100 TB the shingle
    # arrays dominate row width; carrying them through the self-join (and
    # the dedup after it) multiplies shuffle IO by the candidate multiplicity.
    # Join ids first, dedup, then re-attach shingles for verification.
    banded = sig.select("id", F.explode(F.array(*band_structs)).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    a = banded.select(F.col("id").alias("id_a"), "band", "bh")
    b = banded.select(F.col("id").alias("id_b"), "band", "bh")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = base.select("id", "sh")
    cand = (
        cand.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    cand = cand.withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4))
    return cand.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_ids(
    df: DataFrame, *, text_col: str, id_col: str, out: str, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(id, simhash) via explode + 64 flat sum-aggregates.

    bit_j = 1 iff sum over tokens of sign(bit j of hash(token)) > 0.
    The relational shape (explode -> partial-agg -> final-agg) keeps every
    expression flat and codegen'd; a nested aggregate()/zip_with() lambda
    formulation is interpreted per element and measured ~10x slower. The
    shuffle carries 64 longs per doc (post partial aggregation).

    ``hash_fn='md5'``: token bits come from the first 16 hex chars of
    md5(token), decoded nibble-wise (conv of one hex digit) — the DuckDB-
    verifiable family (see dedup_minhash_lsh); 'xxhash64' is production.
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("_w"),
    )
    if hash_fn == "md5":
        tok = tok.select("id", F.md5("_w").alias("hx"))

        def bit(j: int):
            # nibble j//4 counted from the LEAST significant end of the
            # 64-bit value = hex char at 1-based position 16 - j//4
            nib = F.conv(F.substring(F.col("hx"), 16 - j // 4, 1), 16, 10).cast("int")
            return F.shiftright(nib, j % 4).bitwiseAND(F.lit(1))

    else:
        tok = tok.select("id", F.xxhash64("_w").alias("h"))

        def bit(j: int):
            return F.getbit(F.col("h"), F.lit(j))

    votes = tok.groupBy("id").agg(
        *[
            F.sum(F.when(bit(j) == 1, 1).otherwise(-1)).alias(f"v{j}")
            for j in range(64)
        ]
    )
    bits = None
    for j in range(64):
        term = F.shiftleft(F.when(F.col(f"v{j}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), j)
        bits = term if bits is None else bits + term
    return votes.select("id", bits.alias(out))


def simhash(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", out: str = "simhash") -> DataFrame:
    """64-bit SimHash per document (docs with no tokens hash to 0)."""
    sims = _simhash_ids(df, text_col=text_col, id_col=id_col, out=out)
    joined = df.join(sims.withColumnRenamed("id", id_col), id_col, "left")
    return joined.withColumn(out, F.coalesce(F.col(out), F.lit(0).cast("long")))


def simhash_near_dups(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", max_hamming: int = 8,
    bucket_cap: int = 2048, hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on the top-16-bit prefix, compare
    within buckets with bit_count(xor) <= max_hamming. (Production variant
    uses 4 rotated prefix tables for full recall; single-prefix documented
    as the recall trade.) Prefix buckets above ``bucket_cap`` members are
    dropped before the self-join (cap_hot_buckets — near-identical
    boilerplate all lands on one prefix and goes quadratic otherwise)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    s = _simhash_ids(
        df.repartition(par), text_col=text_col, id_col=id_col, out="simhash", hash_fn=hash_fn
    )
    s = s.withColumn("prefix", F.shiftrightunsigned(F.col("simhash"), 48))
    s = cap_hot_buckets(s, ["prefix"], bucket_cap)
    a = s.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "prefix")
    b = s.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "prefix")
    pairs = a.join(b, "prefix").filter(F.col("id_a") < F.col("id_b"))
    pairs = pairs.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
    return pairs.filter(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


def winnow_fingerprints(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): from the n-k+1 char k-gram hashes
    of a document, keep only each sliding window's MINIMUM — a position-
    aware fingerprint set with expected density 2/(w+1) that GUARANTEES
    any shared substring of length >= w+k-1 contributes at least one
    common fingerprint. The selected set is what a partial-overlap /
    plagiarism index stores: ~2/(w+1) of the full shingle index
    (dedup_containment) for the same detection floor.

    Set semantics (documented simplification of the paper's rightmost-
    min rule): the output is one row per DISTINCT selected hash with
    ``first_window`` (the first window that picked it) and ``weight``
    (how many windows picked it); per-position duplicates collapse, so
    tie handling inside a window cannot diverge between engines.
    Documents shorter than one window (< w+k-1 grams... i.e. m < w)
    emit their single truncated-window minimum; documents shorter than
    one gram (< k chars after normalization) emit nothing.

    Hashes are md5-prefix strings — lexicographic min is a total order
    both engines share; swap the constant for xxhash64 in production
    where DuckDB parity is not needed (the LSH hash-family stance).

    Scale shape: the gram hash array builds INSIDE the scan stage
    (transform over a sequence — the string is never duplicated per
    gram), one posexplode, then ONE per-document window min (partition =
    doc, the sessionize shape; the skew bound is the longest document)
    and ONE groupBy (doc, fp) with map-side combine. Nothing quadratic,
    nothing driver-side."""
    s = normalize_text(F.col(text_col))
    m = F.greatest(F.length(s) - (k - 1), F.lit(0))
    base = df.select(
        F.col(id_col).alias("id"), s.alias("_s"), m.alias("_m")
    ).filter(F.col("_m") > 0)
    hashes = F.transform(
        F.sequence(F.lit(1), F.col("_m")),
        lambda i: F.substring(F.md5(F.col("_s").substr(i, F.lit(k))), 1, 16),
    )
    g = base.select("id", "_m", F.posexplode(hashes).alias("pos0", "h"))
    wspec = W.partitionBy("id").orderBy("pos0").rowsBetween(0, w - 1)
    wm = g.withColumn("fp", F.min("h").over(wspec)).filter(
        F.col("pos0") + 1 <= F.greatest(F.col("_m") - (w - 1), F.lit(1))
    )
    return (
        wm.groupBy("id", "_m", "fp")
        .agg(
            (F.min("pos0") + 1).cast("int").alias("first_window"),
            F.count(F.lit(1)).cast("bigint").alias("weight"),
        )
        .select(
            F.col("id").alias(id_col),
            "fp",
            "first_window",
            "weight",
            F.col("_m").cast("bigint").alias("n_grams"),
        )
    )


def winnow_overlap(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    threshold: float = 0.0,
    bucket_cap: int = 2048,
) -> DataFrame:
    """Partial-overlap detection over the WINNOWED index (the MOSS
    pairing step): candidate pairs are documents sharing >= ``min_shared``
    selected fingerprints, scored by winnow-containment
    ``shared / min(|fps_a|, |fps_b|)``. Same detection floor as
    dedup_containment for substrings >= w+k-1 chars (the winnowing
    guarantee), at ~2/(w+1) the index size — the economic difference at
    100 TB, where the inverted index IS the storage bill.

    Scale shape: the inverted index is (fp, id) rows; hot fingerprints
    (boilerplate grams every doc selects) are capped at ``bucket_cap``
    docs with the standard cap_hot_buckets treatment (accounting via
    hot_bucket_stats); the pair join is fp-bucket-local (equi-join,
    never cartesian) and the per-pair shared count is ONE groupBy with
    map-side combine. Per-doc fingerprint totals attach by two joins
    against the doc-count-sized table (AQE broadcasts)."""
    fps = _persist_tracked(
        winnow_fingerprints(df, id_col=id_col, text_col=text_col, k=k, w=w)
        .select(F.col(id_col).alias("id"), "fp")
    )
    counts = fps.groupBy("id").agg(F.count(F.lit(1)).alias("n_fps"))
    inv = cap_hot_buckets(fps, ["fp"], bucket_cap)
    a = inv.select(F.col("id").alias("id_a"), "fp")
    b = inv.select(F.col("id").alias("id_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    return (
        shared.join(counts.select(F.col("id").alias("id_a"), F.col("n_fps").alias("n_a")), "id_a")
        .join(counts.select(F.col("id").alias("id_b"), F.col("n_fps").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            "shared_fps",
            F.round(
                F.col("shared_fps").cast("double") / F.least("n_a", "n_b"), 4
            ).alias("winnow_containment"),
        )
        .filter(F.col("winnow_containment") >= threshold)
    )


def takedown_scrub(
    corpus: DataFrame,
    removals: DataFrame,
    *,
    key: str = "url",
    removal_key: str = "key",
) -> tuple[DataFrame, DataFrame]:
    """Right-to-be-forgotten / DMCA takedown propagation — the
    compliance op every released corpus needs: given a (small) removal
    list keyed by url or content digest, return (scrubbed_corpus,
    audit). The audit answers the request: per removal key, how many
    copies existed and were removed (``n_removed``, ``found``) — a
    takedown you cannot evidence is a takedown you cannot prove.

    Scale shape: removals are tiny -> the scrub is ONE broadcast
    left-anti join (corpus never shuffles); the audit inner-joins the
    corpus against the broadcast list FIRST so only matching rows (at
    most |removals| x multiplicity) reach the count shuffle — never a
    corpus-wide groupBy."""
    rem = F.broadcast(
        removals.select(F.col(removal_key).alias("_tk")).distinct())
    scrubbed = corpus.join(
        rem, corpus[key] == rem["_tk"], "left_anti")
    matched = (
        corpus.select(F.col(key).alias("_tk"))
        .join(rem, "_tk")  # broadcast inner: only removable rows survive
        .groupBy("_tk").agg(F.count("*").alias("n_removed"))
    )
    audit = (
        removals.select(F.col(removal_key).alias("key")).distinct()
        .join(F.broadcast(matched.withColumnRenamed("_tk", "key")),
              "key", "left")
        .select(
            "key",
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            (F.coalesce("n_removed", F.lit(0)) > 0).alias("found"),
        )
    )
    return scrubbed, audit

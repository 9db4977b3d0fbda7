"""Similarity search over embedding columns (array<float>).

Training-data-pipeline extension (not in the Logstash reference): top-k
nearest neighbors by cosine similarity.

- brute force  — the score-everything path (`q8_topk`, over int8-quantized
  vectors): broadcast the (small) query set, score every (query, doc) pair
  with a JVM dot-product (`aggregate`/`zip_with`), window top-k. One broadcast
  join + one shuffle for the top-k window. At 100 TB of vectors this is
  the score-everything path — linear, and the right answer when the query
  set is small.
- LSH-bucketed — scale path: random-hyperplane signatures (reusing the
  deterministic xxhash64-based plane construction), equi-join on bucket,
  exact re-rank within buckets. Sub-linear candidate count, tunable recall.
- IVF          — alternative scale path: k-means-style coarse centroids
  (deterministically seeded sample), route each vector to nearest centroid,
  probe P nearest lists. Provided as `ivf_assign` building block.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# ---------------------------------------------------------------------------
# int8 quantization (scalar quantization for the ANN memory/bandwidth path)
# ---------------------------------------------------------------------------


def quantize_q8(vec: Column) -> Column:
    """Symmetric int8 quantization of the L2-NORMALIZED vector:
    ``q_i = floor(127 · v_i / ‖v‖)`` (array<int> with values in [-127, 127]).

    Quantizing the unit direction (not the raw vector) makes the integer
    dot product a monotone cosine proxy — ``dot(q_a, q_b) ≈ 127²·cos(a,b)``
    — so ANN ranking needs NO per-vector scale multiply and stays in exact
    64-bit integer space (deterministic cross-engine ordering, no float
    tie ambiguity).

    Why it matters at 100 TB: a 768-dim float32 embedding column is 3 KB/row;
    int8 is 768 B — 4× less shuffle/broadcast bandwidth and executor cache
    footprint on exactly the columns ANN fans out. Zero vectors quantize to
    all-zero (dot 0 with everything) instead of dividing by zero.
    """
    n = norm(vec)
    return F.when(
        n == 0, F.transform(vec, lambda x: F.lit(0))
    ).otherwise(
        F.transform(vec, lambda x: F.floor(x * F.lit(127.0) / n).cast("int"))
    )


def dot_q8(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int8-quantized vectors (long)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def q8_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors — the scalar-quantized
    variant of exact cosine top-k (same broadcast-query shape, the
    fact side scanned once; composes with the LSH/IVF candidate generation
    above for sub-linear scan). Ranking key is the exact integer dot
    (``dot_q8`` desc, nbr_id asc) — fully deterministic, value-oracle-able.
    Returns (query_id, nbr_id, rank, dot_q8)."""
    d = docs.select(
        F.col(id_col).alias("nbr_id"),
        quantize_q8(F.col(vec_col).cast("array<double>")).alias("q"),
    )
    q = queries.select(
        F.col(qid_col).alias("query_id"),
        quantize_q8(F.col(qvec_col).cast("array<double>")).alias("qq"),
    )
    scored = d.crossJoin(F.broadcast(q))
    if exclude_self:
        scored = scored.filter(F.col("nbr_id") != F.col("query_id"))
    scored = scored.withColumn("dot_q8", dot_q8(F.col("q"), F.col("qq")))
    w = W.partitionBy("query_id").orderBy(F.col("dot_q8").desc(), F.col("nbr_id").asc())
    out = scored.withColumn("rank", F.row_number().over(w).cast("int")).filter(
        F.col("rank") <= k
    )
    return out.select("query_id", "nbr_id", "rank", "dot_q8")


# ---------------------------------------------------------------------------
# random-hyperplane LSH
# ---------------------------------------------------------------------------


def _hyperplane_buckets(
    v: DataFrame, *, num_planes: int, tables: int, base_seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, t, bucket) per vector per table, via explode + flat sum-aggs.

    Random-hyperplane signatures (sign component +1/-1 from the low bit of
    xxhash64(seed, plane, dim); plane 0 = most significant bit), built
    relationally: one explode over dims, then tables*num_planes codegen'd
    sum aggregates —
    the nested-HOF expression form is interpreted per element and an order
    of magnitude slower at volume (same pathology as the minhash rewrite).
    Partial aggregation collapses map-side; the shuffle carries
    tables*num_planes doubles per vector.
    """
    tok = v.select("id", F.posexplode("e").alias("dim", "val"))
    aggs = []
    for t in range(tables):
        for p in range(num_planes):
            if hash_fn == "md5":
                # DuckDB-verifiable plane family: sign bit = parity of the
                # first hex digit of md5("seed|plane|dim")
                hx = F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(str(base_seed + t)),
                        F.lit(str(p)),
                        F.col("dim").cast("string"),
                    )
                )
                parity = F.conv(F.substring(hx, 1, 1), 16, 10).cast("int").bitwiseAND(F.lit(1))
            else:
                h = F.xxhash64(F.lit(base_seed + t), F.lit(p), F.col("dim"))
                parity = h.bitwiseAND(F.lit(1))
            signed = F.when(parity == 1, F.col("val")).otherwise(-F.col("val"))
            aggs.append(F.sum(signed).alias(f"d_{t}_{p}"))
    dots = tok.groupBy("id").agg(*aggs)
    rows = []
    for t in range(tables):
        bucket = None
        for p in range(num_planes):
            bit = F.when(F.col(f"d_{t}_{p}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
            term = F.shiftleft(bit, num_planes - 1 - p)
            bucket = term if bucket is None else bucket + term
        rows.append(F.struct(F.lit(t).alias("t"), bucket.alias("bucket")))
    return dots.select("id", F.explode(F.array(*rows)).alias("_tb")).select(
        "id", F.col("_tb.t").alias("t"), F.col("_tb.bucket").alias("bucket")
    )


def lsh_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    k: int = 10,
    num_planes: int = 12,
    multiprobe: int = 1,
    tables: int = 1,
    exclude_self: bool = True,
    hash_fn: str = "xxhash64",
    round_before_rank: bool = False,
) -> DataFrame:
    """Approximate top-k: equi-join on hyperplane buckets, exact re-rank.

    Standard LSH AND/OR construction, all knobs exposed:
    - ``num_planes`` (AND): bits per table — more planes = smaller buckets.
    - ``tables`` (OR): independent hash tables (different plane seeds);
      a candidate matches if it shares ANY table's bucket.
    - ``multiprobe``: probe depth 1 additionally checks every 1-bit-flipped
      bucket per table — recall of ~num_planes extra tables for free.

    All probing happens on the SMALL query side (exploded before the
    broadcast) and table ids join alongside the bucket, so the fact side is
    scanned once and the candidate join stays a broadcast equi-join — no
    extra shuffle regardless of tables x probes.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    d_vec = docs.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("e")).repartition(par)
    q_vec = queries.select(F.col(qid_col).alias("id"), F.col(qvec_col).cast("array<double>").alias("e"))
    d_b = _hyperplane_buckets(d_vec, num_planes=num_planes, tables=tables, hash_fn=hash_fn)
    q_b = _hyperplane_buckets(q_vec, num_planes=num_planes, tables=tables, hash_fn=hash_fn)
    if multiprobe >= 1:
        # bucket + every 1-bit flip per table, exploded on the query side only
        probes = F.array_union(
            F.array(F.col("bucket")),
            F.transform(
                F.sequence(F.lit(0), F.lit(num_planes - 1)),
                lambda j: F.col("bucket").bitwiseXOR(F.pow(F.lit(2.0), j.cast("double")).cast("long")),
            ),
        )
        q_b = q_b.withColumn("bucket", F.explode(probes))
    d = d_vec.select(F.col("id").alias("nbr_id"), F.col("e").alias("v")).join(
        d_b.select(F.col("id").alias("nbr_id"), "t", "bucket"), "nbr_id"
    )
    q = q_vec.select(F.col("id").alias("query_id"), F.col("e").alias("qv")).join(
        q_b.select(F.col("id").alias("query_id"), "t", "bucket"), "query_id"
    )
    cand = d.join(F.broadcast(q), ["t", "bucket"]).dropDuplicates(["query_id", "nbr_id"])
    if exclude_self:
        cand = cand.filter(F.col("nbr_id") != F.col("query_id"))
    cand = cand.withColumn("cos", cosine(F.col("v"), F.col("qv")))
    if round_before_rank:
        # rank on the ROUNDED similarity so near-ties order identically
        # across engines (same convention as the ann_cosine_topk oracle)
        cand = cand.withColumn("cos", F.round("cos", 4))
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nbr_id").asc())
    out = cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    return out.select("query_id", "nbr_id", "rank", F.round("cos", 4).alias("cos"))


#: hard cap on the driver-collected vector count in near_dup_pairs: above
#: this the collect is a driver OOM at scale, so the call auto-routes
#: through the distributed LSH-bucketed path (or raises, per on_overflow).
NEAR_DUP_COLLECT_CAP = 1_000_000


def near_dup_pairs(
    docs: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float,
    max_collect: int = NEAR_DUP_COLLECT_CAP,
    on_overflow: str = "lsh",
) -> DataFrame:
    """All pairs with cosine >= threshold (exact, order-stable values).

    Blocked matrix-product design: the (small, broadcastable) vector set
    ships to every executor once as a dense float64 matrix; each
    partition's row block computes `block @ M.T` in BLAS and emits only the
    surviving (id_a < id_b) candidate pairs — data through Python is O(n)
    rows, never the O(n^2 * d) pair materialization a self-join would ship.
    The few survivors are then re-scored with the JVM expression fold so the
    emitted values are bit-identical to the SQL oracle regardless of BLAS
    summation order (1e-6 candidate slack covers the gap).

    The broadcast contract is ENFORCED, not assumed: a cheap limit-probe
    counts up to ``max_collect``+1 rows first. Above the cap the call either
    routes through :func:`near_dup_pairs_lsh` (``on_overflow='lsh'``, the
    distributed hyperplane-bucketed path — approximate candidate recall,
    exact re-score) or raises (``on_overflow='error'``).
    """
    from typing import Iterator

    v = docs.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("e"))
    # guard BEFORE the collect: a parallel count(*) (partial aggregation,
    # nothing shipped to the driver) — NOT limit(cap).collect/count, whose
    # global CollectLimit coalesces to a single serial task (measured 3x
    # slower). The frame is PERSISTED across guard+collect so an expensive
    # upstream lineage (a full parse) runs once, not twice.
    # persisted for the guard count + collect + the candidate scan and the
    # two re-score joins in the RETURNED lazy frame — unpersisting before
    # the caller's action would recompute the upstream lineage ~3 times,
    # so the handle is TRACKED (release_cached()) like the other training
    # ops, not dropped in a finally
    v = _persist_sim(v)
    try:
        n = v.count()
        if n > max_collect:
            if on_overflow == "lsh":
                return near_dup_pairs_lsh(
                    docs, id_col=id_col, vec_col=vec_col, threshold=threshold
                )
            raise ValueError(
                f"near_dup_pairs: vector set has {n} rows > max_collect={max_collect} "
                "(driver-collect would OOM at scale); use on_overflow='lsh' or "
                "call near_dup_pairs_lsh directly"
            )
    except Exception:
        release_cached()
        raise
    rows = v.collect()  # bounded by the cap just proven
    # ids keep their own dtype (string/uuid ids are legal; forcing int64
    # crashed the broadcast on non-numeric ids)
    all_ids = np.array([r["id"] for r in rows])
    id_type = v.schema["id"].dataType.simpleString()
    M = np.vstack([np.asarray(r["e"], dtype=np.float64) for r in rows])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    bc = docs.sparkSession.sparkContext.broadcast((all_ids, Mn))
    slack = threshold - 1e-6

    def block(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_all, mat = bc.value
        for pdf in it:
            A = np.vstack(pdf["e"].to_numpy()).astype(np.float64)
            A = A / np.linalg.norm(A, axis=1, keepdims=True)
            S = A @ mat.T
            ri, ci = np.where(S >= slack)
            ia = pdf["id"].to_numpy()[ri]
            ib = ids_all[ci]
            keep = ia < ib
            yield pd.DataFrame({"id_a": ia[keep], "id_b": ib[keep]})

    par = docs.sparkSession.sparkContext.defaultParallelism
    cand = v.repartition(par).mapInPandas(block, f"id_a {id_type}, id_b {id_type}")
    # exact re-score of the (few) survivors with the expression engine
    va = v.select(F.col("id").alias("id_a"), F.col("e").alias("ea"))
    vb = v.select(F.col("id").alias("id_b"), F.col("e").alias("eb"))
    exact = cand.join(va, "id_a").join(vb, "id_b").withColumn(
        "_c", cosine(F.col("ea"), F.col("eb"))
    )
    return exact.filter(F.col("_c") >= threshold).select(
        "id_a", "id_b", F.round("_c", 4).alias("cos")
    )


def near_dup_pairs_lsh(
    docs: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float,
    num_planes: int = 12,
    tables: int = 4,
    bucket_cap: int = 2048,
) -> DataFrame:
    """Distributed near-dup pairs: hyperplane-bucketed candidates, exact
    re-score — the 100 TB path (no driver collect, no cartesian).

    OR over ``tables`` independent hyperplane tables bounds the recall loss
    (a pair at cosine c collides in one table with p = 1-(theta/pi)^planes…
    amplified across tables); candidates are exact-rescored so precision is
    exact. The candidate self-join ships ids only; vectors re-attach after
    dedup. Buckets above ``bucket_cap`` members are dropped (hot-band
    treatment — boilerplate corpora concentrate in a few buckets and make
    the bucket-local join quadratic); exact duplicates belong to
    dedup_exact upstream.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    v = docs.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("e")
    ).repartition(par)
    b = _hyperplane_buckets(v, num_planes=num_planes, tables=tables)
    wb = W.partitionBy("t", "bucket")
    b = b.withColumn("_bn", F.count(F.lit(1)).over(wb)).filter(
        F.col("_bn") <= bucket_cap
    ).drop("_bn")
    a_side = b.select(F.col("id").alias("id_a"), "t", "bucket")
    b_side = b.select(F.col("id").alias("id_b"), "t", "bucket")
    cand = (
        a_side.join(b_side, ["t", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = v.select(F.col("id").alias("id_a"), F.col("e").alias("ea"))
    vb = v.select(F.col("id").alias("id_b"), F.col("e").alias("eb"))
    exact = cand.join(va, "id_a").join(vb, "id_b").withColumn(
        "_c", cosine(F.col("ea"), F.col("eb"))
    )
    return exact.filter(F.col("_c") >= threshold).select(
        "id_a", "id_b", F.round("_c", 4).alias("cos")
    )


def _assign_numpy(
    d: DataFrame,
    centroids: DataFrame,
    *,
    topn: int = 1,
    id_name: str = "id",
    keep_vec: bool = False,
) -> DataFrame:
    """Production centroid router: one numpy matmul per Arrow batch against
    the broadcast (k, dim) centroid matrix — 10-100x the interpreted
    zip_with/aggregate cosine at n*k scale (measured: the HOF router runs
    ~2.5M evals/s across 32 cores; numpy does a 10k x 512 x 32 batch in
    milliseconds). The driver collect is k rows (plan-time bounded, same
    budget as broadcasting them). Ties break toward the lowest list_id
    (np.argmax first-occurrence / stable argsort), matching the HOF path's
    `list_id asc` ordering. Used only when round_cos is None — the rounded
    oracle paths keep the exact JVM formula so DuckDB replays bit-equal.

    Crossover: Arrow/Python spin-up dominates below ~5k vectors (measured
    6x slower than the JVM path at 2k vectors, 3.6x faster at 10k, 19x at
    100k) — toy inputs should pass round_cos to stay JVM; at corpus scale
    this path is the one that survives.
    """
    import numpy as np
    import pandas as pd

    rows = sorted((r["list_id"], r["cv"]) for r in centroids.collect())
    list_ids = np.array([lid for lid, _ in rows], dtype=np.int64)
    C = np.array([cv for _, cv in rows], dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)

    # preserve the caller's id type (string/uuid ids are legal — the JVM
    # path this replaced never constrained them; a hardcoded `long` made
    # the Arrow writer fail at runtime on non-long ids)
    id_type = d.schema[id_name].dataType.simpleString()
    out_schema = f"{id_name} {id_type}, list_id int"
    if keep_vec:
        out_schema += ", v array<double>"

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
            S = Vn @ Cn.T
            if topn == 1:
                cols = {id_name: pdf[id_name], "list_id": list_ids[S.argmax(axis=1)]}
                if keep_vec:
                    cols["v"] = pdf["v"]
                yield pd.DataFrame(cols)
            else:
                idx = np.argsort(-S, axis=1, kind="stable")[:, :topn]
                rep = np.repeat(np.arange(len(pdf)), topn)
                cols = {
                    id_name: pdf[id_name].to_numpy()[rep],
                    "list_id": list_ids[idx.ravel()],
                }
                if keep_vec:
                    cols["v"] = pdf["v"].to_numpy()[rep]
                yield pd.DataFrame(cols)

    return d.mapInPandas(fn, out_schema)


def ivf_train(
    docs: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_lists: int = 16,
    iters: int = 5,
    round_centroids: int | None = None,
    round_cos: int | None = None,
) -> DataFrame:
    """Train IVF coarse centroids with Lloyd iterations, fully relational —
    the k-means|| analog without MLlib: deterministic init (first k vectors
    by id), then ``iters`` rounds of assign (broadcast centroids, k is
    small) + elementwise mean per list (posexplode -> groupBy(list, dim)
    avg -> array rebuild). Each round is one broadcast join + one shuffle
    on (list, dim) — linear in corpus size, independent of k beyond the
    broadcast. Returns (list_id, cv: array<double>).

    ``round_centroids``/``round_cos`` pin the float-order-sensitive steps
    (centroid means, assignment similarities) to a rounded decimal grid so
    the identical Lloyd rounds replay bit-equal in another engine (the
    DuckDB parity oracle); production leaves both None.

    Each round ends in ``localCheckpoint()`` — num_lists rows — so the
    centroid plan stays ONE round deep instead of stacking iters
    join+window+agg layers (O(iters^2) lineage, recomputed wholesale on any
    retry). On a real cluster prefer ``spark.sparkContext.setCheckpointDir``
    + ``checkpoint()`` for executor-loss safety; the payload is tiny either
    way.
    """
    d = _persist_sim(
        docs.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    )
    cents = d.orderBy("id").limit(num_lists).select(
        F.row_number().over(W.orderBy("id")).alias("list_id"), F.col("v").alias("cv")
    )
    for _ in range(iters):
        if round_cos is None and round_centroids is None:
            # production: numpy batch router (no decimal-grid pinning needed)
            assigned = _assign_numpy(d, cents, keep_vec=True).select("id", "list_id", "v")
        else:
            scored = d.crossJoin(F.broadcast(cents)).withColumn(
                "cos", cosine(F.col("v"), F.col("cv"))
            )
            if round_cos is not None:
                scored = scored.withColumn("cos", F.round(F.col("cos"), round_cos))
            w = W.partitionBy("id").orderBy(F.col("cos").desc(), F.col("list_id").asc())
            assigned = (
                scored.withColumn("_r", F.row_number().over(w))
                .filter(F.col("_r") == 1)
                .select("id", "list_id", "v")
            )
        dims = assigned.select("list_id", F.posexplode("v").alias("dim", "val"))
        means = dims.groupBy("list_id", "dim").agg(F.avg("val").alias("m"))
        if round_centroids is not None:
            means = means.withColumn("m", F.round(F.col("m"), round_centroids))
        cents = (
            means.groupBy("list_id")
            .agg(F.sort_array(F.collect_list(F.struct("dim", "m"))).alias("_dm"))
            .select("list_id", F.transform(F.col("_dm"), lambda x: x["m"]).alias("cv"))
        )
        cents = cents.localCheckpoint(eager=True)
    return cents


def ivf_topk(
    docs: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qvec",
    k: int = 10,
    nprobe: int = 4,
    exclude_self: bool = True,
    round_cos: int | None = None,
) -> DataFrame:
    """IVF ANN search: docs route to their nearest list once; each query
    probes its ``nprobe`` nearest lists; candidates equi-join on list_id
    and exact-rerank by cosine. The scan side shuffles once on list_id;
    recall is tunable via nprobe (the standard IVF trade). ``round_cos``
    rounds the centroid-routing similarity before ranking so probe choice
    replays identically in the DuckDB parity oracle."""
    d = docs.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).cast("array<double>").alias("v"))
    q = queries.select(F.col(qid_col).alias("query_id"), F.col(qvec_col).cast("array<double>").alias("qv"))

    if round_cos is None:
        # production: numpy batch router (see _assign_numpy)
        d_assign = _assign_numpy(d, centroids, id_name="nbr_id", keep_vec=True).select(
            "nbr_id", "v", "list_id"
        )
        q_assign = _assign_numpy(
            q.withColumnRenamed("qv", "v"), centroids,
            id_name="query_id", topn=nprobe, keep_vec=True,
        ).select("query_id", F.col("v").alias("qv"), "list_id")
    else:
        d_assign = (
            d.crossJoin(F.broadcast(centroids))
            .withColumn("cos_c", F.round(cosine(F.col("v"), F.col("cv")), round_cos))
            .withColumn("_r", F.row_number().over(
                W.partitionBy("nbr_id").orderBy(F.col("cos_c").desc(), F.col("list_id").asc())))
            .filter(F.col("_r") == 1)
            .select("nbr_id", "v", "list_id")
        )
        q_assign = (
            q.crossJoin(F.broadcast(centroids))
            .withColumn("cos_c", F.round(cosine(F.col("qv"), F.col("cv")), round_cos))
            .withColumn("_r", F.row_number().over(
                W.partitionBy("query_id").orderBy(F.col("cos_c").desc(), F.col("list_id").asc())))
            .filter(F.col("_r") <= nprobe)
            .select("query_id", "qv", "list_id")
        )
    cand = d_assign.join(F.broadcast(q_assign), "list_id")
    if exclude_self:
        cand = cand.filter(F.col("nbr_id") != F.col("query_id"))
    cand = cand.withColumn("cos", F.round(cosine(F.col("v"), F.col("qv")), 4))
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nbr_id").asc())
    out = cand.withColumn("rank", F.row_number().over(w).cast("int")).filter(F.col("rank") <= k)
    return out.select("query_id", "nbr_id", "rank", "cos")


def semdedup(
    docs: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.5,
    round_cos: int | None = None,
    max_cluster_rows: int | None = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al., 2023): route every
    vector to its nearest k-means centroid, then compare pairs ONLY within
    a cluster and mark as duplicate any vector with a lower-id in-cluster
    neighbor at cosine >= tau (the deterministic greedy keep-first rule,
    same convention as the text near-dup suite).

    100 TB shape: centroids broadcast (k rows), so routing is a map; the
    only all-corpus shuffle is the equi-join on list_id, and pairwise work
    is bounded per cluster — num_lists is sized so n/num_lists stays in
    the 1-10k range, and ``max_cluster_rows`` ENFORCES that bound even on
    an adversarial corpus (all-near-identical embeddings collapse k-means
    into one cluster, and a second-level k-means or LSH re-route collapses
    right back with it — only a content-blind hash split guarantees the
    task bound there). Clusters above the bound are hash-split into
    ceil(n/max) sub-buckets, deduped sub-bucket-locally, and the survivors
    (one local keep per sub-bucket) get one refinement round against each
    other: in the degenerate corpus survivors shrink ~max× per round, so
    refinement restores exact unsplit semantics; in the general case any
    survivor-vs-survivor pair still split apart in round 2 is the
    documented approximation; it can only live in clusters above
    ``max_cluster_rows`` (count them with a separate groupBy over the
    assigned list ids). Output: (id, list_id, is_dup) for EVERY input
    vector — the caller filters is_dup to prune.

    ``round_cos`` pins routing + pair similarities to a decimal grid so
    the DuckDB parity oracle replays assignment and threshold decisions
    bit-equal (production leaves it None; the rounded oracle path keeps
    the pure-join formulation and does not split).
    """
    d = docs.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))

    if round_cos is None:
        # production: numpy router, then per-cluster pairwise matmul — the
        # canonical SemDeDup execution shape (one dense S = Vn @ Vn.T per
        # cluster, row-blocked to bound memory at any cluster size). One
        # shuffle on list_id; zero interpreted HOF work anywhere.
        import numpy as np
        import pandas as pd

        assigned = _assign_numpy(d, centroids, keep_vec=True).select("id", "v", "list_id")

        def _cluster_dups(key, pdf):
            ids = pdf["id"].to_numpy()
            order = np.argsort(ids)
            ids = ids[order]
            V = np.array(pdf["v"].tolist(), dtype=np.float64)[order]
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
            m = len(ids)
            dup = np.zeros(m, dtype=bool)
            for i0 in range(1, m, 1024):  # row blocks: memory O(block * m)
                i1 = min(i0 + 1024, m)
                S = Vn[i0:i1] @ Vn.T
                # strict lower triangle: row i may only match j < i
                cols = np.arange(m)
                mask = cols[None, :] < np.arange(i0, i1)[:, None]
                dup[i0:i1] = ((S >= tau) & mask).any(axis=1)
            return pd.DataFrame(
                {"id": ids, "list_id": int(key[0]), "is_dup": dup}
            )

        id_type = d.schema["id"].dataType.simpleString()
        out_schema = f"id {id_type}, list_id int, is_dup boolean"
        if max_cluster_rows is None:
            return assigned.groupBy("list_id").applyInPandas(_cluster_dups, out_schema)

        # enforce the per-cluster task bound: clusters above max_cluster_rows
        # are hash-split (content-blind — the only split a degenerate corpus
        # cannot defeat), deduped sub-locally, then sub-bucket survivors get
        # one refinement round with a fresh hash seed. `assigned` feeds both
        # rounds, so persist it once.
        assigned = _persist_sim(assigned)
        # one nsub aggregate serves both the round-1 split and the join
        # (recomputing it per use cost two redundant corpus-wide scans)
        nsub = _cluster_nsub(assigned, max_cluster_rows)
        round1 = _split_by_cluster(
            assigned, max_cluster_rows, seed=1, nsub=nsub
        ).groupBy("list_id", "_sub").applyInPandas(_cluster_dups, out_schema)
        round1 = round1.join(F.broadcast(nsub), "list_id")
        intact = round1.filter(F.col("_nsub") == 1).select("id", "list_id", "is_dup")
        split_dup = (
            round1.filter((F.col("_nsub") > 1) & F.col("is_dup"))
            .select("id", "list_id", "is_dup")
        )
        survivors = (
            round1.filter((F.col("_nsub") > 1) & ~F.col("is_dup"))
            .select("id")
            .join(assigned, "id")
            .select("id", "v", "list_id")
        )
        round2 = _split_by_cluster(survivors, max_cluster_rows, seed=2).groupBy(
            "list_id", "_sub"
        ).applyInPandas(_cluster_dups, out_schema)
        return intact.unionByName(split_dup).unionByName(round2)
    else:
        assigned = _persist_sim(
            d.crossJoin(F.broadcast(centroids))
            .withColumn("cos_c", F.round(cosine(F.col("v"), F.col("cv")), round_cos))
            .withColumn("_r", F.row_number().over(
                W.partitionBy("id").orderBy(F.col("cos_c").desc(), F.col("list_id").asc())))
            .filter(F.col("_r") == 1)
            .select("id", "v", "list_id")
        )
    a = assigned.alias("a")
    b = assigned.alias("b")
    dup_ids = (
        a.join(b, "list_id")
        .filter(F.col("a.id") > F.col("b.id"))
        .withColumn("cos", F.round(cosine(F.col("a.v"), F.col("b.v")), 4))
        .filter(F.col("cos") >= F.lit(tau))
        .select(F.col("a.id").alias("id"))
        .distinct()
    )
    return (
        assigned.join(dup_ids.withColumn("_dup", F.lit(True)), "id", "left")
        .select("id", "list_id", F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"))
    )


def _cluster_nsub(assigned: DataFrame, max_rows: int) -> DataFrame:
    """Per-cluster sub-bucket count: ceil(cluster_size / max_rows), min 1.
    k rows — always broadcast-joined back onto the corpus."""
    return (
        assigned.groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("_csz"))
        .select(
            "list_id",
            F.greatest(
                F.lit(1), F.ceil(F.col("_csz") / F.lit(max_rows)).cast("int")
            ).alias("_nsub"),
        )
    )


def _split_by_cluster(
    assigned: DataFrame, max_rows: int, *, seed: int, nsub: DataFrame | None = None
) -> DataFrame:
    """Tag every row of an oversized cluster with a hash sub-bucket id so the
    downstream applyInPandas task holds ~max_rows vectors regardless of how
    adversarial the embedding distribution is. Hash balance is statistical,
    not exact (sub-buckets concentrate near max_rows w.h.p.), which is the
    point: content-blind, so no corpus can concentrate one task. Small
    clusters (_nsub == 1) get _sub 0 and pass through untouched. Pass a
    precomputed ``nsub`` when the caller also needs it (avoids a second
    corpus-wide aggregate)."""
    if nsub is None:
        nsub = _cluster_nsub(assigned, max_rows)
    return assigned.join(F.broadcast(nsub), "list_id").withColumn(
        "_sub", F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.col("_nsub")).cast("int")
    )


_SIM_PERSISTED: list = []


def _persist_sim(df: DataFrame) -> DataFrame:
    h = df.persist()
    _SIM_PERSISTED.append(h)
    return h


def release_cached() -> int:
    """Unpersist frames cached by similarity training calls."""
    n = 0
    while _SIM_PERSISTED:
        try:
            _SIM_PERSISTED.pop().unpersist()
            n += 1
        except Exception:
            pass
    return n


def ivf_assign(
    docs: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_lists: int = 16,
) -> DataFrame:
    """IVF building block: assign each vector to its nearest coarse centroid.

    Centroids = deterministic sample (every (n/num_lists)-th vector by id) —
    at scale replace with k-means|| via MLlib; the routing/probe machinery is
    what matters for the engine. Output: (id, list_id) for list-pruned search.
    """
    d = docs.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    # deterministic coarse centroids: first num_lists vectors by id
    cents = d.orderBy("id").limit(num_lists).select(
        F.row_number().over(W.orderBy("id")).alias("list_id"), F.col("v").alias("cv")
    )
    scored = d.crossJoin(F.broadcast(cents)).withColumn("cos", cosine(F.col("v"), F.col("cv")))
    w = W.partitionBy("id").orderBy(F.col("cos").desc(), F.col("list_id").asc())
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("id", "list_id")
    )

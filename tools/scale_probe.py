#!/usr/bin/env python
"""Scale-headroom probe: run the key training-data operators at N
synthetic documents (default 1M — 20x the sf0.1 correctness gate, 2000x
sf0.01) and print per-op wall time + rows/sec.

The point is EVIDENCE, not a benchmark record: the same plans that pass
the DuckDB gates hold their shape when the input grows two orders of
magnitude — no broadcast flips to sort-merge, no bucket blowup, no
driver collect. Usage:

    python tools/scale_probe.py [n_docs] [--ops op1,op2,...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from logstash_spark.session import get_spark  # noqa: E402


def synth_docs(spark, n: int):
    """Deterministic document corpus: Zipf-ish vocabulary, ~1% exact dups,
    boilerplate shared prefixes (the skew shapes that break naive dedup)."""
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        # 0.99n distinct bodies; every 100th doc repeats an earlier body
        F.when(F.col("id") % 100 == 0, F.col("id") / 100)
        .otherwise(F.col("id")).cast("long").alias("_seed"),
    )
    word = lambda k: F.concat(F.lit("w"), ((F.col("_seed") * k) % (1 + k * 997)).cast("string"))  # noqa: E731
    words = [word(k) for k in range(1, 24)]
    return base.select(
        "doc_id",
        F.concat_ws(" ", F.lit("the quick corpus"), *words).alias("text"),
    )




def synth_vecs(spark, n: int, dim: int = 32):
    """Deterministic embedding table: components hash-derived per (seed, d);
    ~1% planted near-exact duplicates (id % 97 == 0 copies id - 1) so the
    semantic-dedup probe has structure to find."""
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.when((F.col("id") % 97 == 0) & (F.col("id") > 0), F.col("id") - 1)
        .otherwise(F.col("id")).alias("_seed"),
    )
    comp = lambda d: (F.pmod(F.xxhash64(F.col("_seed"), F.lit(d)), F.lit(2000)) / 1000.0 - 1.0)  # noqa: E731
    return base.select(
        "vec_id", F.array(*[comp(d) for d in range(dim)]).alias("embedding")
    )


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _warc_roundtrip(docs):
    """Container intake probe: pack the corpus into ~1000-record WARC
    files, then decode them back — times the full encode+decode loop
    (the decode side is what a real crawl intake pays)."""
    import pandas as pd

    from logstash_spark.sources.warc import decode_warc, encode_warc

    recs = docs.select(
        (F.col("doc_id") % 1000).alias("bucket"),
        "doc_id",
        F.concat(F.lit("https://h/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2013-01-01T00:00:00Z").alias("wdate"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )

    def build(pdf):
        pdf = pdf.sort_values("doc_id")
        return pd.DataFrame({"content": [encode_warc(
            [{"url": u, "warc_date": d, "payload": bytes(p)}
             for u, d, p in zip(pdf["url"], pdf["wdate"], pdf["payload"])]
        )]})

    files = recs.groupBy("bucket").applyInPandas(build, "content binary")
    return decode_warc(files)


def _bucketed_setup(spark, docs):
    """Write both join sides bucketed (pay-once shuffle) AND as plain
    parquet (the control the shuffle-join probe reads)."""
    from logstash_spark.partitioning import write_bucketed

    left = docs.select("doc_id", "n_tokens")
    right = docs.select("doc_id", F.length("text").alias("len"))
    write_bucketed(left, "probe_bl", key="doc_id", buckets=32)
    write_bucketed(right, "probe_br", key="doc_id", buckets=32)
    left.write.mode("overwrite").parquet("/tmp/probe_pl")
    right.write.mode("overwrite").parquet("/tmp/probe_pr")
    return spark.range(1)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 1_000_000
    spark = get_spark("scale_probe")
    docs = synth_docs(spark, n)
    docs = docs.withColumn("n_tokens", F.size(F.split(F.col("text"), " ")))
    docs.persist()
    docs.count()

    from logstash_spark.functions import dedup as dd
    from logstash_spark.functions.bpe import bpe_tokenize, bpe_train
    from logstash_spark.functions.pack import sequence_pack
    from logstash_spark.functions.stats import unigram_score
    from logstash_spark.functions.text import (
        hashed_linear_score,
        lang_id,
        pii_redact,
        quality_score,
    )
    from logstash_spark.functions.sample import deterministic_shuffle
    from logstash_spark.functions import similarity as sim

    n_vec = max(n // 10, 10_000)
    vecs = synth_vecs(spark, n_vec)
    vecs.persist()
    vecs.count()

    def _semdedup():
        cents = sim.ivf_train(vecs, num_lists=512, iters=1)
        return sim.semdedup(vecs, cents, tau=0.98)

    def _dsir():
        from logstash_spark.functions.selection import dsir_select

        d = docs.withColumn("is_target", F.col("doc_id") % 17 == 0)
        return dsir_select(d, hash_fn="xxhash64", tau_e6=-60_000_000)

    # incremental-intake pair: same exact semantics, with and without the
    # bloom pre-filter — the probe shows the anti-join shuffle saving.
    # Seen side = even ids (key-only), new batch = odd ids; m sized at
    # ~10 bits/seen-key (n/2 keys -> next pow2).
    from logstash_spark.functions.text import normalize_text

    seen_keys = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.md5(normalize_text(F.col("text"))).alias("content_key"))
    )
    new_batch = docs.filter(F.col("doc_id") % 2 != 0)
    m_bits = 1 << max(10, (5 * n).bit_length())  # >= 10 bits per seen key

    ops = {
        "dedup_exact": lambda: dd.dedup_exact(docs),
        "dedup_minhash_lsh": lambda: dd.dedup_minhash_lsh(docs, hash_fn="xxhash64"),
        "sequence_pack": lambda: sequence_pack(docs, capacity=2048, prefix_len=2),
        "unigram_score": lambda: unigram_score(docs, min_count=10),
        "deterministic_shuffle": lambda: deterministic_shuffle(docs, prefix_len=2),
        "lang_quality_pii_map": lambda: pii_redact(quality_score(lang_id(docs))),
        "quality_classifier": lambda: hashed_linear_score(docs, hash_fn="xxhash64"),
        "semdedup_vec": _semdedup,
        # stride 4 = the documented recall/cost point for runs >= 2k tokens;
        # hot_cap bounds the boilerplate-gram join-back
        "dedup_substring_spans": lambda: dd.dup_spans(docs, k=8, stride=4, hot_cap=10_000, hash_fn="xxhash64"),
        "dedup_incremental": lambda: dd.dedup_incremental(new_batch, seen_keys),
        "dedup_bloom": lambda: dd.dedup_bloom(new_batch, seen_keys, m_bits=m_bits),
        "warc_roundtrip": lambda: _warc_roundtrip(docs),
        # DSIR: target = every 17th doc (same shape as the gate query);
        # production hash family
        "dsir_select": _dsir,
        # production BPE apply: train on a 10k sample (the documented
        # sampling path), tokenize ALL docs
        "bpe_apply": lambda: bpe_tokenize(
            docs, bpe_train(docs.limit(10_000), num_merges=32)
        ),
        # co-located join: pay-once bucketed write of both sides, then the
        # exchange-free join read vs the plain shuffle-join control
        "bucketed_join_setup": lambda: _bucketed_setup(spark, docs),
        # merge hint on BOTH: same join algorithm, the only variable is
        # the at-rest co-location (broadcast would mask the comparison)
        "bucketed_join_read": lambda: spark.table("probe_bl").hint("merge")
        .join(spark.table("probe_br"), "doc_id")
        .groupBy().agg(F.sum("n_tokens"), F.sum("len")),
        "shuffle_join_read": lambda: spark.read.parquet("/tmp/probe_pl").hint("merge")
        .join(spark.read.parquet("/tmp/probe_pr"), "doc_id")
        .groupBy().agg(F.sum("n_tokens"), F.sum("len")),
        # q8 ANN: 100 broadcast queries against the full vec table
        "ann_q8_topk": lambda: sim.q8_topk(
            vecs,
            vecs.filter(F.col("vec_id") < 100).select(
                F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
            ),
            k=5,
        ),
    }
    wanted = None
    for a in sys.argv[2:]:
        if a.startswith("--ops"):
            wanted = set(a.split("=", 1)[1].split(","))
    out = {}
    for name, build in ops.items():
        if wanted and name not in wanted:
            continue
        dt = 1e18
        for _ in range(2):  # best-of-2: first run soaks codegen/JIT warmup
            t0 = time.perf_counter()
            force(build())
            dt = min(dt, time.perf_counter() - t0)
            dd.release_cached()
            sim.release_cached()
        rows = n_vec if name == "semdedup_vec" else n
        out[name] = {"sec": round(dt, 2), "rows_per_sec": round(rows / dt)}
        print(f"{name:24s} {dt:7.2f}s  {rows / dt / 1000:8.0f}k rows/s", file=sys.stderr)
    print(json.dumps({"n_docs": n, "ops": out}))


if __name__ == "__main__":
    main()

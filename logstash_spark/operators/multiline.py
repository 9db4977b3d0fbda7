"""multiline — stateful join of consecutive lines into one event.

Reference: `multiline` filter/codec (manifest rakelib/default_plugins.rb:38;
behavior pinned by spec/core/pipeline_spec.rb:118-160: intermediates are
cancelled, flush emits the pending group; `pattern` + `what: previous|next`).

Batch design (the 100 TB shape): the classic window running-group trick —
within each (stream, ordered-by-seq) partition, a new group starts on every
line NOT matching the continuation pattern (`what: previous`), so
``group_id = sum(is_start) over (partition by src order by seq)``, then one
groupBy concatenates. Two shuffles (window + agg) on the same key — AQE
coalesces; the key (source file/stream id) is the natural partitioner, so
state never crosses partitions.

Batch only: Structured Streaming does not support the window functions
this needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def multiline(
    df: DataFrame,
    *,
    source: str,
    pattern: str,
    what: str = "previous",
    negate: bool = False,
    stream_key: str | None = None,
    order_by: str = "seq",
    joiner: str = "\n",
    max_lines: int | None = None,
) -> DataFrame:
    """Collapse continuation lines into their anchor event.

    ``what='previous'``: a line matching ``pattern`` (xor ``negate``)
    belongs to the previous event. ``what='next'``: it belongs to the next.
    Output: one row per group with ``source`` = joined lines, plus
    ``multiline_n`` (line count) and the ``multiline`` tag on collapsed rows
    (reference tags merged events).

    ``max_lines`` (the codec's runaway-group cap, scale-critical: one
    never-terminating group otherwise accumulates unbounded state): groups
    split every ``max_lines`` lines; capped/overflow pieces carry the
    codec's ``multiline_codec_max_lines_reached`` tag.
    """
    if order_by not in df.columns:
        import warnings

        warnings.warn(
            f"multiline: no {order_by!r} column — falling back to INGESTION "
            "order (monotonically_increasing_id): correct for ordered file "
            "splits, unspecified after any shuffle; provide an explicit "
            "order column for replayable grouping.",
            stacklevel=2,
        )
        order_by = "_ml_order"
        df = df.withColumn(order_by, F.monotonically_increasing_id())
    if stream_key is None:
        import warnings

        warnings.warn(
            "multiline without stream_key serializes the WHOLE dataset "
            "through one partition (global order requirement) — fine for "
            "tests, fatal at scale; partition by source file/host/stream.",
            stacklevel=2,
        )
    matches = F.col(source).rlike(pattern)
    if negate:
        matches = ~matches
    if what == "previous":
        is_start = ~matches  # a matching line continues the previous one
    elif what == "next":
        # a matching line attaches to the NEXT event: a group starts right
        # after a non-matching line -> start when previous line didn't match
        part = W.partitionBy(stream_key) if stream_key else W.partitionBy(F.lit(1))
        prev_match = F.lag(matches, 1, False).over(part.orderBy(order_by))
        is_start = ~prev_match
    else:
        raise ValueError("what must be 'previous' or 'next'")

    part = W.partitionBy(stream_key) if stream_key else W.partitionBy(F.lit(1))
    running = part.orderBy(order_by).rowsBetween(W.unboundedPreceding, 0)
    df = df.withColumn("_ml_group", F.sum(is_start.cast("int")).over(running))

    group_cols = ([stream_key] if stream_key else []) + ["_ml_group"]
    if max_lines is not None:
        pos = F.row_number().over(
            (W.partitionBy(*group_cols) if group_cols else W.partitionBy(F.lit(1))).orderBy(order_by)
        ) - 1
        df = df.withColumn("_ml_sub", (pos / F.lit(max_lines)).cast("int"))
        group_cols = group_cols + ["_ml_sub"]
    first_cols = [c for c in df.columns if c not in group_cols + [source, order_by]]
    # collect_list gives no ordering guarantee post-shuffle; collect
    # (order, line) structs and sort_array for deterministic join order.
    lines_sorted = F.sort_array(F.collect_list(F.struct(F.col(order_by).alias("o"), F.col(source).alias("l"))))
    agg = [
        F.array_join(F.transform(lines_sorted, lambda s: s["l"]), joiner).alias(source),
        F.count(F.lit(1)).alias("multiline_n"),
        F.min(order_by).alias(order_by),
        *[F.min_by(F.col(c), F.col(order_by)).alias(c) for c in first_cols],
    ]
    out = df.groupBy(*group_cols).agg(*agg)
    out = out.withColumn(
        "tags",
        F.when(
            F.col("multiline_n") > 1,
            F.array_append(
                F.coalesce(F.col("tags") if "tags" in df.columns else F.lit(None).cast("array<string>"),
                           F.array().cast("array<string>")),
                F.lit("multiline"),
            ),
        ).otherwise(F.col("tags") if "tags" in df.columns else F.lit(None).cast("array<string>")),
    )
    if max_lines is not None:
        capped = (F.col("_ml_sub") > 0) | (F.col("multiline_n") >= max_lines)
        out = out.withColumn(
            "tags",
            F.when(
                capped,
                F.array_append(
                    F.coalesce(F.col("tags"), F.array().cast("array<string>")),
                    F.lit("multiline_codec_max_lines_reached"),
                ),
            ).otherwise(F.col("tags")),
        ).drop("_ml_sub")
    return out.drop("_ml_group", "_ml_order")

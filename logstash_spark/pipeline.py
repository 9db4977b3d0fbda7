"""Pipeline spec → DataFrame plan compiler.

The reference compiles its config DSL to straight-line Ruby
(lib/logstash/config/config_ast.rb:85-127) and runs it per event over
SizedQueues (lib/logstash/pipeline.rb). Here the pipeline spec is plain
Python data (ordered stages + conditional trees — same shape as the parsed
config AST) compiled ONCE into a chain of DataFrame transformations; the
"codegen" step is Catalyst + Tungsten.

Spec shape:

    Pipeline(
      filters=[
        Stage(op='grok', params={...}),
        Stage(op='mutate.convert', params={...}, when=Cmp(Field('[x]'),'==',1),
              add_tag=['parsed'], add_field={'k':'%{v}'}),
      ],
      outputs=[
        Output(name='errors', when=Rx(Field('[response]'), '^5'),
               sink=ParquetSink(path)),
      ],
    )

Conditional filters compile to ``when(cond, transformed).otherwise(orig)``
per touched column — events not matching a stage's condition pass through
unchanged, exactly the reference's branch semantics
(config_ast.rb:375-436), but with no per-event branching cost: the branch
is a vectorized CASE.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logstash_spark.conditions import Always, Expr
from logstash_spark.registry import OPERATORS


@dataclass
class Stage:
    op: str
    params: dict[str, Any] = dc_field(default_factory=dict)
    when: Expr | None = None
    add_field: dict[str, Any] = dc_field(default_factory=dict)
    add_tag: list[str] = dc_field(default_factory=list)
    remove_field: list[str] = dc_field(default_factory=list)
    remove_tag: list[str] = dc_field(default_factory=list)
    # legacy gating (filters/base.rb:20-28,222-253 `filter?`): run the filter
    # only on events whose `type` matches / `tags` are a superset / none of
    # `exclude_tags` present. Combined (AND) with `when`.
    type: str | None = None
    tags: list[str] = dc_field(default_factory=list)
    exclude_tags: list[str] = dc_field(default_factory=list)


@dataclass
class Output:
    name: str
    sink: "Sink"
    when: Expr | None = None
    # same gating at sinks (outputs/base.rb:96-123 `output?`)
    type: str | None = None
    tags: list[str] = dc_field(default_factory=list)
    exclude_tags: list[str] = dc_field(default_factory=list)
    # per-sink aggregate (the north star's statsd/graphite analog): group
    # the routed subset by these keys and count; computed off the SAME
    # persisted frame as the sink write — no extra scan of the source
    agg_by: list[str] = dc_field(default_factory=list)


def gating_expr(df: DataFrame, type_: str | None, tags: list[str], exclude_tags: list[str]) -> F.Column | None:
    """Compile the type/tags/exclude_tags gate to one predicate (None if no
    gate configured). Missing `type`/`tags` columns fail the respective
    requirement, matching the reference's nil checks."""
    conds = []
    if type_ is not None:
        if "type" in df.columns:
            conds.append(F.col("type").eqNullSafe(F.lit(type_)))
        else:
            conds.append(F.lit(False))
    tags_col = (
        F.coalesce(F.col("tags"), F.array().cast("array<string>"))
        if "tags" in df.columns
        else F.array().cast("array<string>")
    )
    for t in tags:
        conds.append(F.array_contains(tags_col, t))
    for t in exclude_tags:
        conds.append(~F.array_contains(tags_col, t))
    if not conds:
        return None
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


@dataclass
class Pipeline:
    filters: list[Stage] = dc_field(default_factory=list)
    outputs: list[Output] = dc_field(default_factory=list)

    def transform(self, df: DataFrame) -> DataFrame:
        """Apply the filter chain (config order, reference semantics)."""
        for st in self.filters:
            df = apply_stage(df, st)
        return df

    def run(self, df: DataFrame) -> dict[str, Any]:
        """Full parse→route→write over every output. Single scan: the
        transformed frame is persisted once, each sink writes its routed
        subset (SURVEY §4 item 3 — reference writes each event to every
        matching output in one pass; naive Spark would rescan per sink)."""
        from logstash_spark.sinks import write_outputs

        out = self.transform(df)
        return write_outputs(out, self.outputs)


def output_predicate(df: DataFrame, o: Output):
    """Compiled route predicate for an output: conditional AND legacy gate."""
    cond = (o.when or Always()).compile(df)
    gate = gating_expr(df, o.type, o.tags, o.exclude_tags)
    return cond if gate is None else (cond & gate)


# Ops that change the row count: the CASE-merge conditional wrapper is
# column-wise and CANNOT express "apply to matching rows only" for these.
# drop/clone/split take the predicate NATIVELY (filter / conditional
# explode array); multiline splits the frame (matched rows regroup, the
# rest pass through untouched, union back — reference config_ast.rb:
# 375-436 compiles a per-branch filter instance with the same effect).
_ROW_COUNT_OPS = {
    "drop", "clone", "split", "multiline", "metricize",
    # row-generating codecs + aggregating ops: a conditional CASE-merge
    # would duplicate non-matching rows per produced row (or lose the
    # snapshot columns across the groupBy) — reject with the clear error
    "codec.lines", "codec.json_lines", "codec.edn_lines", "codec.es_bulk",
    "codec.netflow", "codec.collectd", "metrics",
}


def apply_stage(df: DataFrame, st: Stage) -> DataFrame:
    fn = OPERATORS[st.op]
    gate = gating_expr(df, st.type, st.tags, st.exclude_tags)
    when_col = st.when.compile(df) if st.when is not None else None
    if when_col is not None and gate is not None:
        cond = when_col & gate
    else:
        cond = when_col if when_col is not None else gate
    if cond is None:
        if st.op == "clone" and (st.add_field or st.add_tag or st.remove_field or st.remove_tag):
            # clone decorates ONLY the clones (clone.rb calls filter_matched
            # per clone inside the loop; the original is never decorated) —
            # clone_seq 0 marks the original row post-explode
            return _conditional_apply(fn(df, **st.params), F.col("clone_seq") > 0,
                                      lambda d: _apply_decorators(d, st))
        return _success_decorators(fn(df, **st.params), st)
    if st.op in _ROW_COUNT_OPS:
        if st.op in ("drop", "clone", "split"):
            # these take the predicate NATIVELY (drop filters on it; clone/
            # split explode a conditional array — non-matching rows pass
            # through as the single original). Decorators are skipped for
            # drop (reference fires them only on matched events, which drop
            # cancels) and applied on matched rows for clone/split.
            if st.op == "drop":
                return fn(df, when=cond, **st.params)
            # capture the match decision PRE-explode: clone/split rewrite
            # the very columns the condition may reference (clone sets
            # type, split replaces the source field), so re-evaluating it
            # post-explode silently flips (reference filter_matched is
            # decided on the INPUT event and applies to every produced row)
            flag = "_filter_matched"
            while flag in df.columns:  # collision-proof carrier name
                flag += "_"
            df2 = df.withColumn(flag, cond)
            out = fn(df2, when=F.col(flag), **st.params)
            if st.add_field or st.add_tag or st.remove_field or st.remove_tag:
                deco_cond = F.col(flag)
                if st.op == "clone":
                    # only the CLONES are decorated (clone.rb filter_matched
                    # runs per clone; the original passes through untouched)
                    deco_cond = deco_cond & (F.col("clone_seq") > 0)
                out = _conditional_apply(out, deco_cond, lambda d: _apply_decorators(d, st))
            return out.drop(flag)
        if st.op != "metrics":
            # split-apply-union: ONLY matching rows enter the row-count op
            # (multiline regroup, codec explode/decode — the reference
            # compiles a filter instance inside the branch,
            # config_ast.rb:375-436; non-matching events pass through
            # untouched); the union is by name so op-created columns
            # (multiline_n, parsed fields, tags) null-fill on the
            # pass-through side
            flag = "_rc_cond"
            while flag in df.columns:
                flag += "_"
            df2 = df.withColumn(flag, F.coalesce(cond, F.lit(False)))
            matched = df2.filter(F.col(flag)).drop(flag)
            unmatched = df2.filter(~F.col(flag)).drop(flag)
            out = _success_decorators(fn(matched, **st.params), st)
            return out.unionByName(unmatched, allowMissingColumns=True)
        raise NotImplementedError(
            "conditional 'metrics' stage: the batch metrics op REPLACES the "
            "flow with its aggregates (documented divergence from the "
            "flush-events-alongside row engine), so a conditional form "
            "would silently drop the non-matching rows; filter upstream"
        )
    return _conditional_apply(df, cond, lambda d: _success_decorators(fn(d, **st.params), st))


def _conditional_apply(
    df: DataFrame, cond, transform: Callable[[DataFrame], DataFrame], prefix: str = "_"
) -> DataFrame:
    """Run ``transform`` only where ``cond`` holds: snapshot the original
    columns, transform, CASE-merge.

    Built as two flat selects (snapshot, merge) rather than per-column
    withColumn chains — analyzer cost stays linear in column count, and the
    whole branch remains one vectorized projection after Catalyst collapses
    it. Caveat (fixed-schema model vs the row engine): a rename inside a
    conditional drops the old column for ALL rows and non-matching rows get
    null under the new name — put renames outside conditionals (or use
    replace) when both branches must survive.

    The snapshot columns are ``<prefix>cond`` and ``<prefix>orig_<col>``.
    Success-gated decorators merge with their own prefix, because they run
    inside a conditional stage's transform and so nest in its snapshot.
    """
    cond_c, orig_p = f"{prefix}cond", f"{prefix}orig_"
    orig_cols = list(df.columns)
    snapped = df.select(
        "*", cond.alias(cond_c), *[F.col(c).alias(f"{orig_p}{c}") for c in orig_cols]
    )
    transformed = transform(snapped)
    out_cols = []
    orig_set = set(orig_cols)
    t_schema = {f.name: f.dataType for f in transformed.schema.fields}
    for c in transformed.columns:
        if c.startswith(orig_p) or c == cond_c:
            continue
        if c in orig_set:
            new_c, orig_c = F.col(c), F.col(f"{orig_p}{c}")
            new_t, orig_t = t_schema.get(c), t_schema.get(f"{orig_p}{c}")
            if new_t != orig_t and isinstance(new_t, T.ArrayType) and not isinstance(orig_t, T.ArrayType):
                # conditional add_field promoted a scalar column to array:
                # unify by promoting the unmatched side to a 1-element array
                # (fixed-schema divergence from the row engine's per-event
                # union type; scalar reads as [scalar] once any conditional
                # append targets the column)
                orig_c = F.array(orig_c.cast(new_t.elementType))
            out_cols.append(F.when(F.col(cond_c), new_c).otherwise(orig_c).alias(c))
        else:
            # column created by the op: null where the condition is false
            out_cols.append(F.when(F.col(cond_c), F.col(c)).alias(c))
    return transformed.select(*out_cols)


def _apply_decorators(df: DataFrame, st: Stage) -> DataFrame:
    from logstash_spark.operators import mutate as M

    for k, v in st.add_field.items():
        df = M.add_field(df, k, v)
    for t in st.add_tag:
        df = M.add_tag(df, t)
    for f_ in st.remove_field:
        df = M.remove_field(df, f_)
    for t in st.remove_tag:
        df = M.remove_tag(df, t)
    return df


# ops whose output carries a per-row SUCCESS flag: decorators fire only on
# success (filter_matched, filters/base.rb:182-218 — firing them on failed
# rows tagged 'parsed' junk the reference leaves untagged)
_SUCCESS_COLS = {"grok": "_grok_matched", "date": "_date_matched"}


def _success_decorators(out: DataFrame, st: Stage) -> DataFrame:
    """Decorator dispatch: gate on the op's success flag when it has one."""
    if not (st.add_field or st.add_tag or st.remove_field or st.remove_tag):
        return out
    s = _SUCCESS_COLS.get(st.op)
    if s and s in out.columns:
        return _conditional_apply(out, F.col(s), lambda d: _apply_decorators(d, st), prefix="_deco_")
    return _apply_decorators(out, st)

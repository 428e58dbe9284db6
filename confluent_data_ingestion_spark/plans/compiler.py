"""Spec -> DataFrame pipeline compiler.

Turns a validated ``PipelineSpec`` into one DataFrame per target table,
stage by stage (VIEW -> XREF -> FGAC -> QUARANTINE), mirroring the
reference's generate() lifecycle (``scripts/sttm_to_flink_v22.py:281-400``)
but producing Catalyst logical plans instead of SQL text:

 - VIEW       discriminator filter + per-column extraction expressions
              (precedence ExprOverride > SourceTransformExpr > auto) over the
              raw envelope table; CSV views get free indexes auto-assigned.
 - XREF       latest-by-key dedup over its source view (+ optional single
              lookup join against an earlier table), PK from IsTargetPK,
              order from OrderByFields, soft-delete exclusion.
 - FGAC       projection over a source table with a single lookup join and
              optional masking (mask:<strategy> in ExprOverride).
 - QUARANTINE left-anti of source vs join table on the join condition (the
              FilterPredicate 'x IS NULL' convention compiles to an
              anti-join rather than a post-filter).

Every compiled stage is a lazy DataFrame — Catalyst sees the whole pipeline
and optimizes across stages (filter pushdown through dedup windows, shared
scans when materialized via the statement-set runtime).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dialect import translate_expr
from ..functions.exprs import choose_expr, combine_predicates, rewrite_predicate_as_json
from ..operators.fgac import lookup_join
from ..operators.xref import latest_by_key
from ..spec.models import MappingRow, PipelineSpec
from ..spec.validate import has_errors, validate_spec


def xref_dedup_spec(rows: list[MappingRow]):
    """Extract (pks, order_fields, delete_flag_field, delete_flag_values)
    for an XREF table from its mapping rows (reference spec columns 13-17).
    ``order_fields`` may name source columns that are not target columns."""
    pks = [r.target_column for r in rows if r.is_target_pk]
    order_fields: list[str] = []
    for r in rows:
        if r.order_by_fields:
            order_fields = [c.strip() for c in r.order_by_fields.split(",") if c.strip()]
            break
    del_field, del_values = None, ("true", "1")
    for r in rows:
        if r.delete_flag_field:
            del_field = r.delete_flag_field
            if r.delete_flag_values:
                del_values = tuple(
                    v.strip() for v in r.delete_flag_values.split(",") if v.strip()
                )
            break
    return pks, order_fields, del_field, del_values


class PipelineCompiler:
    def __init__(
        self,
        spark: SparkSession,
        spec: PipelineSpec,
        sources: dict[str, DataFrame],
        strict: bool = True,
        xref_keep_order_fields: bool = False,
    ):
        self.spark = spark
        self.spec = spec
        self.sources = dict(sources)
        self.xref_keep_order_fields = xref_keep_order_fields
        self.issues = validate_spec(spec)
        if strict and has_errors(self.issues):
            errs = [m for s, t, m in self.issues if s == "ERROR"]
            raise ValueError(f"spec has {len(errs)} error(s): {errs}")
        self.compiled: dict[str, DataFrame] = {}

    # -- resolution ---------------------------------------------------------

    def _relation(self, name: str | None) -> DataFrame:
        if name is None:
            raise ValueError("missing source table name")
        if name in self.compiled:
            return self.compiled[name]
        if name in self.sources:
            return self.sources[name]
        raise KeyError(f"unknown relation '{name}' (not a source, not compiled yet)")

    # -- stage builders -----------------------------------------------------

    def _auto_assign_csv_indexes(self, rows: list[MappingRow]) -> None:
        """Columns without FieldSelector get the free indexes in order,
        skipping explicitly reserved ones (reference v22:326-351)."""
        used = {
            int(r.field_selector)
            for r in rows
            if r.field_selector and re.fullmatch(r"\d+", r.field_selector)
        }
        nxt = 0
        for r in rows:
            if r.field_selector or r.expr_override or r.source_transform_expr:
                continue
            while nxt in used:
                nxt += 1
            r.field_selector = str(nxt)
            used.add(nxt)

    def _build_view(self, table: str, rows: list[MappingRow]) -> DataFrame:
        fmt = (rows[0].message_format or "JSON").upper()
        src = self._relation(rows[0].source_table or self.spec.raw_table)
        payload = self.spec.payload_col
        if fmt == "CSV":
            self._auto_assign_csv_indexes(rows)
        pred = rows[0].filter_predicate
        if pred:
            src = src.filter(F.expr(rewrite_predicate_as_json(pred, payload)))
        cols = []
        for r in rows:
            sql = choose_expr(
                r.expr_override,
                r.source_transform_expr,
                r.field_selector,
                fmt,
                r.target_data_type,
                payload_col=payload,
                delimiter=self.spec.csv_delimiter,
                source_field=r.source_field,
            )
            cols.append(F.expr(sql).alias(r.target_column))
        return src.select(*cols)

    def _first_join(self, rows: list[MappingRow]):
        for r in rows:
            if r.join_table and r.join_condition:
                return r
        return None

    def _target_exprs(self, rows: list[MappingRow]):
        """Non-view select list.  Fallback chain mirrors the reference's
        non-view ``choose_expr`` (``sttm_to_flink_v22.py:150-157``):
        mask > ExprOverride > SourceTransformExpr > SourceField >
        FieldSelector > (TargetColumn passthrough | NULL) per the spec's
        unmapped policy."""
        passthrough = self.spec.unmapped_policy == "passthrough"
        cols = []
        for r in rows:
            if r.expr_override and r.expr_override.lower().startswith("mask:"):
                strategy = r.expr_override.split(":", 1)[1]
                base = (r.source_transform_expr or r.source_field
                        or r.field_selector or r.target_column)
                if strategy == "null":
                    expr = "CAST(NULL AS STRING)"
                elif strategy == "sha2":
                    expr = f"sha2(CAST({base} AS STRING), 256)"
                else:
                    expr = strategy
            elif r.expr_override or r.source_transform_expr:
                expr = translate_expr(r.expr_override or r.source_transform_expr)
            elif r.source_field:
                expr = translate_expr(r.source_field, safe_cast=False)
            elif r.field_selector:
                expr = translate_expr(r.field_selector, safe_cast=False)
            elif passthrough:
                expr = r.target_column
            else:
                expr = "NULL"
            cols.append(F.expr(expr).alias(r.target_column))
        return cols

    def _build_xref(self, table: str, rows: list[MappingRow]) -> DataFrame:
        left_alias = rows[0].source_alias or "s"
        src = self._relation(rows[0].source_table).alias(left_alias)
        j = self._first_join(rows)
        if j is not None:
            src = lookup_join(
                src,
                self._relation(j.join_table),
                j.join_condition,
                join_type=j.join_type,
                left_alias=left_alias,
                right_alias=j.join_alias or "j",
            )
        pred = combine_predicates([r.filter_predicate or "" for r in rows])
        if pred:
            src = src.filter(F.expr(translate_expr(pred, safe_cast=False)))
        pks, order_fields, del_field, del_values = xref_dedup_spec(rows)
        # Order-by fields that aren't target columns must survive the
        # projection long enough for the dedup window, then be dropped
        # (kept when the caller needs them for cross-batch re-dedup, i.e.
        # the streaming upsert log).
        target_names = {r.target_column for r in rows}
        carry = [f for f in order_fields if f not in target_names]
        extra = [
            F.expr(translate_expr(f, safe_cast=False)).alias(f) for f in carry
        ]
        projected = src.select(*self._target_exprs(rows), *extra)
        if not order_fields:
            order_fields = [c for c in projected.columns if c not in pks][:1] or pks
        deduped = latest_by_key(
            projected, pks, order_fields,
            delete_flag_field=del_field, delete_flag_values=del_values,
        )
        if carry and not self.xref_keep_order_fields:
            deduped = deduped.drop(*carry)
        return deduped

    def _build_fgac(self, table: str, rows: list[MappingRow]) -> DataFrame:
        left_alias = rows[0].source_alias or "s"
        src = self._relation(rows[0].source_table).alias(left_alias)
        j = self._first_join(rows)
        if j is not None:
            src = lookup_join(
                src,
                self._relation(j.join_table),
                j.join_condition,
                join_type=j.join_type or "INNER",
                left_alias=left_alias,
                right_alias=j.join_alias or "j",
            )
        pred = combine_predicates([r.filter_predicate or "" for r in rows])
        if pred:
            src = src.filter(F.expr(translate_expr(pred, safe_cast=False)))
        return src.select(*self._target_exprs(rows))

    def _build_quarantine(self, table: str, rows: list[MappingRow]) -> DataFrame:
        """FilterPredicate '<alias>.<col> IS NULL' + LEFT join convention
        compiles to a left-anti join (reference v22 QUARANTINE rows)."""
        src = self._relation(rows[0].source_table).alias(rows[0].source_alias or "s")
        j = self._first_join(rows)
        if j is None:
            raise ValueError(f"QUARANTINE '{table}' needs JoinTable/JoinCondition")
        right = self._relation(j.join_table).alias(j.join_alias or "j")
        anti = src.join(
            right,
            F.expr(translate_expr(j.join_condition, safe_cast=False)),
            "left_anti",
        )
        return anti.select(*self._target_exprs(rows))

    # -- public -------------------------------------------------------------

    def _builders(self):
        return {
            "VIEW": self._build_view,
            "XREF": self._build_xref,
            "FGAC": self._build_fgac,
            "QUARANTINE": self._build_quarantine,
        }

    def compile(self) -> dict[str, DataFrame]:
        """Compile every target, deferring tables whose upstream targets
        aren't compiled yet (v22 workbooks reference sibling XREF tables in
        arbitrary sheet order; Flink resolves lazily from SQL text, we
        resolve eagerly so we topo-order here)."""
        builders = self._builders()
        pending = list(self.spec.tables().items())
        pending_names = {t for t, _ in pending}
        while pending:
            remaining = []
            progressed = False
            for table, rows in pending:
                deps = {r.source_table for r in rows if r.source_table}
                deps |= {r.join_table for r in rows if r.join_table}
                deps -= {table}
                unresolved = [
                    d for d in deps
                    if d in pending_names and d not in self.compiled
                ]
                if unresolved:
                    remaining.append((table, rows))
                    continue
                self.compiled[table] = builders[rows[0].pipeline_stage](table, rows)
                pending_names.discard(table)
                progressed = True
            if not progressed:
                raise ValueError(
                    "circular or unresolvable table references among "
                    f"{sorted(t for t, _ in remaining)}"
                )
            pending = remaining
        return self.compiled


def compile_pipeline(
    spark: SparkSession,
    spec: PipelineSpec,
    sources: dict[str, DataFrame],
    strict: bool = True,
) -> dict[str, DataFrame]:
    return PipelineCompiler(spark, spec, sources, strict).compile()

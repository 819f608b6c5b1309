"""CSV-rule-driven schema transformation (reference SchemaTransformer).

Re-expresses ops X1–X4 and T9–T10 (upstream schema_transformer.py
≈L30–230; SURVEY.md §0 citation caveat). The CSV formats are kept
byte-compatible with the reference so existing rule files port over:

Table rules CSV header:
    Table Name, New Table Name, Delete
Column rules CSV header:
    Table Name, Column Name, New Column Name, New Column Type, Delete

Rules compile to one DataFrame select (renames, casts and drops as SQL
text) applied BEFORE data-driven standardization, exactly
like the reference's ordering (SURVEY.md §3.3).
"""

from __future__ import annotations

import csv
import io
from dataclasses import dataclass

from pyspark.sql import DataFrame

from etlalchemy_spark.operators.standardize import _q

# Reference type names (SQLAlchemy generics) → Spark cast targets.
TYPE_MAP = {
    "integer": "int",
    "biginteger": "bigint",
    "bigint": "bigint",
    "smallinteger": "smallint",
    "string": "string",
    "varchar": "string",
    "text": "string",
    "float": "double",
    "numeric": "decimal(18,4)",
    "boolean": "boolean",
    "date": "date",
    "datetime": "timestamp",
    "timestamp": "timestamp",
    "largebinary": "binary",
}


@dataclass
class TableRule:
    table: str
    new_name: str | None
    delete: bool


@dataclass
class ColumnRule:
    table: str  # '*' matches every table
    column: str
    new_name: str | None
    new_type: str | None  # Spark type string
    delete: bool


def _truthy(v: str) -> bool:
    return (v or "").strip().lower() in ("true", "1", "yes", "y", "t")


def _clean(v: str) -> str | None:
    v = (v or "").strip()
    return v or None


def parse_table_rules(text: str) -> list[TableRule]:
    out = []
    for row in csv.DictReader(io.StringIO(text), skipinitialspace=True):
        row = { (k or "").strip().lower(): v for k, v in row.items() }
        out.append(
            TableRule(
                table=(row.get("table name") or "").strip(),
                new_name=_clean(row.get("new table name")),
                delete=_truthy(row.get("delete")),
            )
        )
    return [r for r in out if r.table]


def parse_column_rules(text: str) -> list[ColumnRule]:
    out = []
    for row in csv.DictReader(io.StringIO(text), skipinitialspace=True):
        row = { (k or "").strip().lower(): v for k, v in row.items() }
        raw_type = _clean(row.get("new column type"))
        spark_type = None
        if raw_type:
            spark_type = TYPE_MAP.get(raw_type.lower())
            if spark_type is None:
                raise ValueError(f"unknown rule type: {raw_type!r}")
        out.append(
            ColumnRule(
                table=(row.get("table name") or "*").strip() or "*",
                column=(row.get("column name") or "").strip(),
                new_name=_clean(row.get("new column name")),
                new_type=spark_type,
                delete=_truthy(row.get("delete")),
            )
        )
    return [r for r in out if r.column]


@dataclass
class SchemaRules:
    table_rules: list[TableRule]
    column_rules: list[ColumnRule]
    # T9/T10 global suffix rules (reference ctor args)
    ignored_col_suffixes: list[str] | None = None
    renamed_col_suffixes: dict[str, str] | None = None

    @classmethod
    def from_csv(
        cls,
        table_csv: str = "",
        column_csv: str = "",
        ignored_col_suffixes: list[str] | None = None,
        renamed_col_suffixes: dict[str, str] | None = None,
    ) -> "SchemaRules":
        return cls(
            table_rules=parse_table_rules(table_csv) if table_csv else [],
            column_rules=parse_column_rules(column_csv) if column_csv else [],
            ignored_col_suffixes=ignored_col_suffixes,
            renamed_col_suffixes=renamed_col_suffixes,
        )

    def transform_table_name(self, table: str) -> str | None:
        """X1/X2: returns the destination name, or None if deleted."""
        for r in self.table_rules:
            if r.table == table:
                if r.delete:
                    return None
                return r.new_name or table
        return table

    def transform(self, table: str, df: DataFrame) -> DataFrame:
        """X3/X4 + T9/T10 compiled to one select over the input, built
        as SQL text (one ``selectExpr`` call, not three Py4J calls per
        column). Identifiers are backtick-quoted, so names with dots,
        spaces or backticks resolve as the literal column."""
        exprs = []
        for c in df.columns:
            name, expr, keep = c, _q(c), True
            for r in self.column_rules:
                if r.table not in ("*", table) or r.column != c:
                    continue
                if r.delete:
                    keep = False
                    break
                if r.new_type:
                    expr = f"CAST({expr} AS {r.new_type})"
                if r.new_name:
                    name = r.new_name
            if keep and self.ignored_col_suffixes:
                if any(c.endswith(s) for s in self.ignored_col_suffixes):
                    keep = False
            if keep and self.renamed_col_suffixes:
                for sfx, new_sfx in self.renamed_col_suffixes.items():
                    if name.endswith(sfx):
                        name = name[: -len(sfx)] + new_sfx
                        break
            if keep:
                exprs.append(f"{expr} AS {_q(name)}")
        return df.selectExpr(*exprs)

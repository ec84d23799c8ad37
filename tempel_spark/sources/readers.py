"""Raw-source readers (SURVEY.md §2.1 S2-S4).

The reference parses gzip'd MySQL dumps, JSONL and TSV with hand
loops; here each is a declarative scan so Catalyst prunes columns and
pushes filters into the read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "read_sql_dump_inserts",
    "parse_insert_lines",
    "read_tsv",
    "read_jsonl",
]


def read_sql_dump_inserts(
    spark: SparkSession,
    path: str,
    table: str,
    n_fields: int,
) -> DataFrame:
    """Parse `INSERT INTO \\`table\\` VALUES (a,b,...),(...)` dump lines
    into one row per tuple with string fields f0..f{n-1}.

    Reference: misc/load_wiki_sql_tables.py:25-59,85-131,155-211 —
    a single-process line loop with hand-rolled quote handling. Spark
    shape: text scan → filter to the table's INSERT lines →
    regexp_extract_all of parenthesized tuples → explode → split.
    The dump format quotes strings with '...' and \\-escapes; we
    normalize both. gzip is transparent to spark.read.text.
    """
    return parse_insert_lines(spark.read.text(path), table, n_fields)


def parse_insert_lines(lines: DataFrame, table: str, n_fields: int) -> DataFrame:
    """The tuple-parsing core of `read_sql_dump_inserts` over an
    in-plan `value: string` column of dump lines — lets callers parse
    dump text from any source (files, test fixtures, other columns)
    with the identical projection."""
    ins = lines.filter(F.col("value").startswith(f"INSERT INTO `{table}` VALUES"))
    # tuples: '(' ... ')' at depth 0, honoring quoted commas/parens
    tup_re = r"\((?:[^()']|'(?:\\'|\\\\|[^'])*')*\)"
    tuples = ins.select(
        F.explode(F.regexp_extract_all("value", F.lit(tup_re), 0)).alias("t")
    ).select(F.expr("substring(t, 2, length(t) - 2)").alias("t"))
    # split on commas outside quotes
    field_re = r"'(?:\\'|\\\\|[^'])*'|[^,]+"
    fields = tuples.select(F.regexp_extract_all("t", F.lit(field_re), 0).alias("fs"))
    cols = []
    for i in range(n_fields):
        c = F.element_at("fs", i + 1)
        # strip quotes + unescape
        c = F.when(
            c.startswith("'"),
            F.regexp_replace(F.expr(f"substring(element_at(fs, {i + 1}), 2, length(element_at(fs, {i + 1})) - 2)"), r"\\(.)", "$1"),
        ).otherwise(c)
        cols.append(c.alias(f"f{i}"))
    return fields.select(*cols)


def read_tsv(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    """S4: TSV scan with explicit schema (reference pd.read_csv(sep='\\t'),
    s02:129-173). Schema-on-read is banned at scale, so the schema is
    required."""
    return spark.read.option("sep", "\t").option("header", "true").schema(schema).csv(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    """S3: JSONL scan (reference line loops, s03:1150-1153). The schema
    is required, so Spark skips the inference pass entirely."""
    return spark.read.schema(schema).json(path)

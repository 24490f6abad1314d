"""RDF quad data model: the engine's central output representation.

The reference emits quads (subject, predicate, object, graph) into per-worker
Oxigraph stores and serializes N-Quads part files
(/root/reference/cam/etl/__init__.py:12-16,
/root/reference/etl_lalf_address.py:688-690). Store insertion gives set
semantics per worker file; the triple store dedupes globally on load.

Spark mapping (SURVEY §1.3): a flat quad DataFrame

    subject:string, predicate:string, object_value:string,
    object_kind:string ('iri'|'bnode'|'literal'),
    object_datatype:string|null, object_lang:string|null, graph:string

with global ``dropDuplicates()`` before the sink (stronger than the
reference's per-file dedup — required for the count-reconciliation queries in
SURVEY §5.3 to match). A quad table written with ``partitionBy("graph")``
turns `graph = …` predicates into partition pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

QUAD_SCHEMA = T.StructType(
    [
        T.StructField("subject", T.StringType(), False),
        T.StructField("predicate", T.StringType(), False),
        T.StructField("object_value", T.StringType(), False),
        T.StructField("object_kind", T.StringType(), False),
        T.StructField("object_datatype", T.StringType(), True),
        T.StructField("object_lang", T.StringType(), True),
        T.StructField("graph", T.StringType(), False),
    ]
)

QUAD_COLS = [f.name for f in QUAD_SCHEMA.fields]

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
GEO_WKT = "http://www.opengis.net/ont/geosparql#wktLiteral"


def quad_sql(
    subject: str,
    predicate: str,
    object_value: str,
    object_kind: str = "iri",
    object_datatype: str | None = None,
    object_lang: str | None = None,
    graph: str | None = None,
    cond: str | None = None,
) -> str:
    """One quad template as SQL text: a struct of the seven quad fields
    (SURVEY P7: null-guarded per-column emission, reference
    etl_lalf_address.py:451-671). ``subject``,
    ``object_value`` and ``cond`` are SQL fragments over the input row;
    ``predicate``, ``object_datatype``, ``object_lang`` and ``graph`` are
    constants quoted here, so they must not contain a quote or a
    backslash. A value that is not a plain SQL fragment (a Column
    expression, a literal with escapes) is projected onto the input first
    and referred to by name. With ``cond`` the quad is NULL — dropped by
    ``fan_out_sql`` — where the condition does not hold.

    Text rather than a Column chain because the chain cost ~20 py4j
    round-trips per template, which dominated query BUILD time for the
    fan-out pipelines (measured ~4x: 146 -> 36 ms per 7-quad template
    block)."""
    dt = "CAST(NULL AS STRING)" if object_datatype is None else f"'{object_datatype}'"
    lang = "CAST(NULL AS STRING)" if object_lang is None else f"'{object_lang}'"
    g = "CAST(NULL AS STRING)" if graph is None else f"CAST('{graph}' AS STRING)"
    s = (
        f"struct({subject} AS subject, '{predicate}' AS predicate, "
        f"CAST({object_value} AS STRING) AS object_value, "
        f"'{object_kind}' AS object_kind, {dt} AS object_datatype, "
        f"{lang} AS object_lang, {g} AS graph)"
    )
    if cond is not None:
        s = f"CASE WHEN {cond} THEN {s} END"
    return s


def fan_out_sql(df: DataFrame, *quad_sqls: str) -> DataFrame:
    """The core row→quads transform (SURVEY §2.8): one input row becomes
    10-60 conditionally-emitted quads. The reference does this as an
    interpreted Python loop over rdflib calls (e.g. reference
    etl_lalf_address.py:254-690). Here the ``quad_sql``
    templates form one array expression (one py4j round-trip) that is
    exploded and null-filtered — a columnar flatMap that stays inside
    whole-stage codegen, so Catalyst prunes the input columns each quad
    actually uses.

    Measured NON-win (r14): fusing the three ops into one
    ``selectExpr("inline(filter(array(...), q -> q IS NOT NULL))")``
    saves two py4j calls per site but the lambda-filtered array is an
    interpreted higher-order function — the explode/filter/project chain
    here stays inside whole-stage codegen and won the same-session A/B
    on etl_end_to_end_counts (min 1.418 s vs 1.499 s, median lower too).
    Keep the chain."""
    exploded = df.select(F.explode(F.expr(f"array({', '.join(quad_sqls)})")).alias("q"))
    return exploded.filter(F.col("q").isNotNull()).select("q.*")


def dedup_quads(quads: DataFrame) -> DataFrame:
    """Global set semantics (SURVEY U2): the Spark analogue of store-add
    idempotence. A shuffle on all 7 columns; at 100 TB scale prefer
    per-graph partition pruning first (graph is low-cardinality)."""
    return quads.dropDuplicates(QUAD_COLS)


def _escape_literal(col: Column) -> Column:
    # N-Triples escaping: backslash first, then quote, newline, CR, tab.
    c = F.regexp_replace(col, r"\\", r"\\\\")
    c = F.regexp_replace(c, '"', '\\\\"')
    c = F.regexp_replace(c, "\n", "\\\\n")
    c = F.regexp_replace(c, "\r", "\\\\r")
    c = F.regexp_replace(c, "\t", "\\\\t")
    return c


def term_column() -> Column:
    """Render the object term of a quad row in N-Quads syntax."""
    val = F.col("object_value")
    return (
        F.when(F.col("object_kind") == "iri", F.concat(F.lit("<"), val, F.lit(">")))
        .when(F.col("object_kind") == "bnode", F.concat(F.lit("_:"), val))
        .otherwise(
            F.concat(
                F.lit('"'),
                _escape_literal(val),
                F.lit('"'),
                F.when(
                    F.col("object_lang").isNotNull(), F.concat(F.lit("@"), F.col("object_lang"))
                )
                .when(
                    F.col("object_datatype").isNotNull(),
                    F.concat(F.lit("^^<"), F.col("object_datatype"), F.lit(">")),
                )
                .otherwise(F.lit("")),
            )
        )
    )


def to_nquads_lines(quads: DataFrame) -> DataFrame:
    """Format each quad as one N-Quads line (SURVEY S7). Subjects starting
    with ``_:`` are emitted as blank nodes, everything else as IRIs."""
    subj = F.when(
        F.col("subject").startswith("_:"), F.col("subject")
    ).otherwise(F.concat(F.lit("<"), F.col("subject"), F.lit(">")))
    line = F.concat_ws(
        " ",
        subj,
        F.concat(F.lit("<"), F.col("predicate"), F.lit(">")),
        term_column(),
        F.concat(F.lit("<"), F.col("graph"), F.lit(">")),
    )
    return quads.select(F.concat(line, F.lit(" .")).alias("value"))


def write_nquads(quads: DataFrame, path: str, mode: str = "overwrite") -> None:
    """N-Quads sink: one hash shuffle of the raw quads on ``subject`` into
    ``spark.sql.shuffle.partitions`` partitions, then every task dedups,
    formats and writes its own part file (the reference writes one part
    file per partition or per worker batch).

    The count is fixed on purpose: an AQE-coalesced shuffle or a
    REBALANCE hint folds a sub-MB output back into one partition, so one
    task would write everything. ``subject`` is one of the dedup keys, so
    its hash partitioning already satisfies the aggregate and the plan has
    exactly one Exchange; hashing all seven columns does not, because a
    constant ``predicate`` or ``graph`` folds into an aliased grouping key
    and a second Exchange appears. The shuffled bytes are the raw quads
    (dedup and formatting run after it, in the writing task), and all
    quads of a subject land in one file."""
    n = int(quads.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    deduped = quads.repartition(n, "subject").dropDuplicates(QUAD_COLS)
    to_nquads_lines(deduped).write.mode(mode).text(path)


# Object term is a full alternation — a lazy `.*?` here mis-parses literals
# containing `<` (the graph group swallows the tail). Escaped quotes inside
# literals are covered by the `\\.` branch.
_NQ_LINE = (
    r"^(<[^>]*>|_:\S+)\s+<([^>]*)>\s+"
    r'(<[^>]*>|_:\S+|"(?:[^"\\]|\\.)*"(?:\^\^<[^>]*>|@[A-Za-z0-9-]+)?)'
    r"\s+<([^>]*)>\s+\.\s*$"
)


def read_nquads(spark, path: str) -> DataFrame:
    """Parse N-Quads text back into the quad schema (round-trip of S7)."""
    raw = spark.read.text(path)
    parsed = raw.select(
        F.regexp_extract("value", _NQ_LINE, 1).alias("s_raw"),
        F.regexp_extract("value", _NQ_LINE, 2).alias("predicate"),
        F.regexp_extract("value", _NQ_LINE, 3).alias("o_raw"),
        F.regexp_extract("value", _NQ_LINE, 4).alias("graph"),
    ).filter(F.col("predicate") != "")
    o = F.col("o_raw")
    lit_val = F.regexp_extract(o, r'^"((?:[^"\\]|\\.)*)"', 1)
    parsed = parsed.withColumn("lit_val", lit_val)

    # Order-safe unescape: `\\` marks a literal backslash, so split on it
    # first — the remaining backslashes in each segment all begin \n \r \t
    # \" — then rejoin with a single backslash. A flat replace chain would
    # corrupt e.g. the two-char text `\n` (escaped as `\\n`).
    def _unescape_segment(s: Column) -> Column:
        s = F.regexp_replace(s, r"\\n", "\n")
        s = F.regexp_replace(s, r"\\r", "\r")
        s = F.regexp_replace(s, r"\\t", "\t")
        return F.regexp_replace(s, r'\\"', '"')

    unescaped = F.array_join(
        F.transform(F.split(F.col("lit_val"), r"\\\\", -1), _unescape_segment), "\\"
    )
    return parsed.select(
        F.when(F.col("s_raw").startswith("_:"), F.col("s_raw"))
        .otherwise(F.regexp_extract("s_raw", r"^<(.*)>$", 1))
        .alias("subject"),
        F.col("predicate"),
        F.when(o.startswith("<"), F.regexp_extract(o, r"^<(.*)>$", 1))
        .when(o.startswith("_:"), F.expr("substring(o_raw, 3)"))
        .otherwise(unescaped)
        .alias("object_value"),
        F.when(o.startswith("<"), F.lit("iri"))
        .when(o.startswith("_:"), F.lit("bnode"))
        .otherwise(F.lit("literal"))
        .alias("object_kind"),
        F.when(o.rlike(r"\^\^<[^>]*>$"), F.regexp_extract(o, r"\^\^<([^>]*)>$", 1)).alias(
            "object_datatype"
        ),
        F.when(o.rlike(r'"@[A-Za-z0-9-]+$'), F.regexp_extract(o, r'@([A-Za-z0-9-]+)$', 1)).alias(
            "object_lang"
        ),
        F.col("graph"),
    )

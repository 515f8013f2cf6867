"""Deterministic interleaved text+media documents table (BASELINE.json input_hint).

The driver testdata ships a FLAT ``documents`` table (doc_id:int, text, lang,
source, n_chars). The north rule's input shape is
``(doc_id:string, spans:array<struct<kind,text,media_ref,offset>>)`` — so this
module DERIVES that table from the flat one with pure arithmetic on
``(doc_id, text)``. Every value is a closed-form function of the row, which
means the DuckDB correctness oracle can compute the exact expected violation
set independently (see oracles in __spark_entry__) — no randomness, no state.

Planted violations (one plant class per ``doc_id % 101`` residue; mirrors
FIXTURES.md §1 and the reference error vocabulary json_schema/api.py:10-39):

| plant | mutation                       | expected violation                      |
|-------|--------------------------------|-----------------------------------------|
| 1     | span0.offset = -1              | NUMBER_TOO_SMALL  /spans/0/offset       |
| 2     | span0.kind = 'vidoe'           | ENUM_MISMATCH     /spans/0/kind         |
| 3     | doc_id = 'DOC_x{i}'            | PATTERN_MISMATCH  /doc_id               |
| 4     | spans = []                     | ARRAY_TOO_SHORT   /spans                |
| 5     | span0 duplicated at the tail   | ARRAY_ITEMS_NOT_UNIQUE /spans/{n}       |
| 6     | span0 media w/ media_ref=NULL  | ANY_OF_NO_MATCH   /spans/0 (dep ruleset)|
| 7     | span0.text = ''                | STRING_TOO_SHORT  /spans/0/text         |
| 8     | doc_id = NULL                  | REQUIRED_PROPERTY_MISSING /doc_id       |
| 9     | doc_id copies row i-2's        | engine-level UNIQUENESS (cross-row)     |
| 10    | span0.media_ref = ghost ref    | engine-level REFERENTIAL (FK miss)      |

Scale note: the derivation is a single narrow projection over the parquet
scan — at 10^12 rows it stays embarrassingly parallel (no shuffle, no UDF),
and the planted classes keep a fixed ~9% violation rate at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

N_MEDIA = 37  # media dimension cardinality; refs are m/{0..36}.png
SPAN_W = 12  # characters of source text per text-span

DOCUMENTS_RULESET: dict = {
    "type": "object",
    "required": ["doc_id", "spans"],
    "properties": {
        "doc_id": {"type": "string", "pattern": "^doc-[0-9]{12}$"},
        "spans": {
            "type": "array",
            "minItems": 1,
            "maxItems": 8,
            "uniqueItems": True,
            "items": {
                "type": "object",
                "required": ["kind", "offset"],
                "properties": {
                    "kind": {"enum": ["text", "media"]},
                    "text": {"type": "string", "minLength": 1, "maxLength": 64},
                    "media_ref": {"type": "string", "pattern": "^m/"},
                    "offset": {"type": "integer", "minimum": 0, "maximum": 1000},
                },
            },
        },
    },
}

# kind='media' ⇒ media_ref required, expressed in reference keywords as
# anyOf(kind∈{text} | required media_ref). Kept as a SEPARATE ruleset:
# in the reference, a logical op at a schema node suppresses sibling
# keyword checks (Validator dispatches logical-op roots to their own
# validate — json_schema/validator.py:46-48), and nesting the structural
# rules under allOf would truncate the reference's error paths to the
# branch root. Two rulesets keep exact (code, path) parity for both.
# (conditional-dependency seed: json_schema/constraints/objects.py:105-116)
MEDIA_DEPENDENCY_RULESET: dict = {
    "type": "object",
    "properties": {
        "spans": {
            "type": "array",
            "items": {
                "anyOf": [
                    {"properties": {"kind": {"enum": ["text"]}}},
                    {"required": ["media_ref"]},
                ]
            },
        }
    },
}


def _span_struct(i: Column, text: Column, j: Column, plant: Column) -> Column:
    """One span struct for doc index ``i``, span index ``j`` (both 0-based)."""
    nat_kind = F.when((i + j) % 3 == 0, F.lit("media")).otherwise(F.lit("text"))
    at0 = j == 0
    kind = (
        F.when(at0 & (plant == 2), F.lit("vidoe"))
        .when(at0 & ((plant == 6) | (plant == 10)), F.lit("media"))
        .when(at0 & (plant == 7), F.lit("text"))
        .otherwise(nat_kind)
    )
    # which field-set the span carries (plant 2 keeps text fields under a bad kind)
    fieldkind = (
        F.when(at0 & ((plant == 2) | (plant == 7)), F.lit("text"))
        .when(at0 & ((plant == 6) | (plant == 10)), F.lit("media"))
        .otherwise(nat_kind)
    )
    padded = F.rpad(text, 64, "x")
    span_text = F.when(
        fieldkind == "text",
        F.when(at0 & (plant == 7), F.lit("")).otherwise(
            padded.substr(j * SPAN_W + 1, F.lit(SPAN_W))
        ),
    )
    media_ref = F.when(
        fieldkind == "media",
        F.when(at0 & (plant == 6), F.lit(None).cast("string"))
        .when(
            at0 & (plant == 10),
            F.concat(F.lit("m/ghost-"), i.cast("string"), F.lit(".png")),
        )
        .otherwise(
            F.concat(F.lit("m/"), ((i * 31 + j) % N_MEDIA).cast("string"), F.lit(".png"))
        ),
    ).when(at0 & (plant == 2), F.lit("m/2.png"))
    offset = F.when(at0 & (plant == 1), F.lit(-1)).otherwise(j * SPAN_W).cast("int")
    return F.struct(
        kind.alias("kind"),
        span_text.alias("text"),
        media_ref.alias("media_ref"),
        offset.alias("offset"),
    )


def spans_documents(
    spark: SparkSession,
    sf_dir: str,
    include_source_file: bool = False,
    docs: DataFrame | None = None,
) -> DataFrame:
    """The interleaved documents table: (src_id, doc_id, spans).

    ``src_id`` is the original integer doc index, kept as lineage so
    engine-level checks (uniqueness pairs, FK misses) can be oracle-verified
    even for rows whose doc_id is mutated/NULL.

    ``include_source_file=True`` adds ``_source_file`` (the parquet file path
    via the ``_metadata`` hidden column) — the DURABLE partition identity for
    checkpoint/resume (plans/checkpoint.py); on Iceberg the same role is
    played by the partition-values column.

    ``docs`` substitutes a pre-read frame with the raw documents schema for
    the parquet read — the derivation is a stateless projection, so a
    ``readStream`` frame binds unchanged (the streaming drift arm of
    scripts/run_validation_job.py). A stream is not combinable with
    ``include_source_file`` (``_metadata`` is a batch-scan column)."""
    if docs is not None and docs.isStreaming and include_source_file:
        raise ValueError("include_source_file requires a batch parquet read")
    if docs is None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # project to unambiguous names first: the output re-uses the name
    # "doc_id", and lateral column alias resolution would otherwise bind
    # F.col("doc_id") inside the span lambdas to the NEW string column
    base_cols = [
        F.col("doc_id").cast("long").alias("src_id"),
        F.col("text").alias("src_text"),
    ]
    if include_source_file:
        base_cols.append(F.col("_metadata.file_path").alias("_source_file"))
    base = docs.select(*base_cols)
    i = F.col("src_id")
    text = F.col("src_text")
    plant = i % 101
    n_nat = (i % 4 + 1).cast("int")

    doc_id_str = (
        F.when(plant == 3, F.concat(F.lit("DOC_x"), i.cast("string")))
        .when(plant == 8, F.lit(None).cast("string"))
        .when(plant == 9, F.concat(F.lit("doc-"), F.lpad((i - 2).cast("string"), 12, "0")))
        .otherwise(F.concat(F.lit("doc-"), F.lpad(i.cast("string"), 12, "0")))
    )

    idxs = F.sequence(F.lit(0), (n_nat - 1).cast("int"))
    spans_nat = F.transform(idxs, lambda j: _span_struct(i, text, j.cast("long"), plant))
    spans = (
        F.when(plant == 4, F.slice(spans_nat, 1, 0))
        .when(plant == 5, F.concat(spans_nat, F.array(_span_struct(i, text, F.lit(0).cast("long"), plant))))
        .otherwise(spans_nat)
    )

    out_cols = [F.col("src_id"), doc_id_str.alias("doc_id"), spans.alias("spans")]
    if include_source_file:
        out_cols.append(F.col("_source_file"))
    return base.select(*out_cols)


def media_dim(spark: SparkSession) -> DataFrame:
    """The media FK dimension (FIXTURES.md §2): m/{0..N_MEDIA-1}.png.

    Tiny by design → broadcast side of the referential-integrity join at
    every scale; the SMJ/salted path is exercised separately in tests."""
    k = F.col("id").cast("long")
    return (
        spark.range(N_MEDIA)
        .select(
            F.concat(F.lit("m/"), k.cast("string"), F.lit(".png")).alias("media_ref"),
            F.element_at(
                F.array(F.lit("image/png"), F.lit("image/jpeg"), F.lit("video/mp4")),
                (k % 3 + 1).cast("int"),
            ).alias("mime"),
            (1000 + k).alias("bytes"),
        )
    )

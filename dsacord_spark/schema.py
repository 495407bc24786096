"""Schemas for the `decisions` pipeline.

The reference declares a fixed storage schema via Go struct tags
(/root/reference/types.go:22-65) and maps 36 CSV wire columns onto it by
header name (/root/reference/utils.go:167-191). Here both are explicit:
CSV_COLUMNS (all strings on the wire) and DECISIONS_SCHEMA
(typed, 39 storage columns of which 3 are derived + 1 never-populated).
"""

from __future__ import annotations

from pyspark.sql import types as T

# The 36 CSV columns exactly as consumed by parseDecision
# (/root/reference/utils.go:184-247). Order is the canonical dump order;
# the parser itself is header-order independent (select-by-name).
CSV_COLUMNS: list[str] = [
    "uuid",
    "decision_visibility",
    "decision_visibility_other",
    "end_date_visibility_restriction",
    "decision_monetary",
    "decision_monetary_other",
    "end_date_monetary_restriction",
    "decision_provision",
    "end_date_service_restriction",
    "decision_account",
    "end_date_account_restriction",
    "account_type",
    "decision_ground",
    "decision_ground_reference_url",
    "illegal_content_legal_ground",
    "illegal_content_explanation",
    "incompatible_content_ground",
    "incompatible_content_explanation",
    "category",
    "category_addition",
    "category_specification",
    "category_specification_other",
    "content_type",
    "content_type_other",
    "content_language",
    "content_date",
    "territorial_scope",
    "application_date",
    "decision_facts",
    "source_type",
    "source_identity",
    "automated_detection",
    "automated_decision",
    "platform_name",
    "platform_uid",
    "created_at",
]

_ARR = T.ArrayType(T.StringType())

# Typed storage schema (types.go:22-65). Column name -> Spark type.
# Divergences from the reference are deliberate and documented in
# SURVEY.md §2.13: real arrays instead of the broken text[] codec (Q1),
# NULL instead of Go zero-time (Q6), NULL created_at instead of panic (Q3).
DECISIONS_SCHEMA = T.StructType(
    [
        T.StructField("uuid", T.StringType(), False),           # types.go:23 PK
        T.StructField("decision_visibility", _ARR, True),       # types.go:24
        T.StructField("decision_visibility_other", T.StringType(), True),
        T.StructField("end_date_visibility_restriction", T.TimestampType(), True),
        T.StructField("decision_monetary", _ARR, True),
        T.StructField("decision_monetary_other", T.StringType(), True),
        T.StructField("end_date_monetary_restriction", T.TimestampType(), True),
        T.StructField("decision_provision", _ARR, True),
        T.StructField("end_date_service_restriction", T.TimestampType(), True),
        T.StructField("decision_account", _ARR, True),
        T.StructField("end_date_account_restriction", T.TimestampType(), True),
        T.StructField("account_type", T.StringType(), True),
        T.StructField("decision_ground", T.StringType(), True),
        T.StructField("decision_ground_reference_url", T.StringType(), True),
        T.StructField("illegal_content_legal_ground", T.StringType(), True),
        T.StructField("illegal_content_explanation", T.StringType(), True),
        T.StructField("incompatible_content_ground", T.StringType(), True),
        T.StructField("incompatible_content_explanation", T.StringType(), True),
        T.StructField("incompatible_content_illegal", T.BooleanType(), True),  # Q4: never populated (types.go:41)
        T.StructField("category", T.StringType(), True),
        T.StructField("category_addition", T.StringType(), True),
        T.StructField("category_specification", _ARR, True),
        T.StructField("category_specification_other", T.StringType(), True),
        T.StructField("content_type", _ARR, True),
        T.StructField("content_type_other", T.StringType(), True),
        T.StructField("content_language", T.StringType(), True),
        T.StructField("content_date", T.TimestampType(), True),
        T.StructField("territorial_scope", _ARR, True),
        T.StructField("application_date", T.TimestampType(), True),
        T.StructField("decision_facts", T.StringType(), True),
        T.StructField("source_type", T.StringType(), True),
        T.StructField("source_identity", T.StringType(), True),
        T.StructField("automated_detection", T.BooleanType(), True),  # F3, types.go:55
        T.StructField("automated_decision", T.StringType(), True),
        T.StructField("platform_name", T.StringType(), True),
        T.StructField("platform_uid", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), True),    # Q3: nullable here
        # Derived from platform_uid (utils.go:274-297; README.md:67-68):
        T.StructField("snowflake_time", T.TimestampType(), True),  # Q6: NULL not year-1
        T.StructField("entity_id", T.StringType(), True),          # types.go:63 (indexed)
        T.StructField("entity_type", T.StringType(), True),
    ]
)

# Sink-side index hint mirroring `gorm:"index"` on EntityID (types.go:63).
SINK_INDEX_COLUMNS = ["entity_id"]
UPSERT_KEY = "uuid"  # types.go:23 primaryKey; upsert clause utils.go:100-104

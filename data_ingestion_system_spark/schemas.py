"""Explicit StructType schemas.

The reference declares every table up front in one DDL file
(reference: src/database/schema.sql) and never infers schemas for stored
data; we mirror that discipline — every scan supplies an explicit schema
(SURVEY.md §1.3). Three schema families:

1. the driver's synthetic TPC-H-ish tables (TESTDATA.md) that all parity
   queries run against, and
2. the reference-shaped review-domain tables (FIXTURES.md): the
   table-shape parity contract the fixture generators must match
   column-for-column and type-for-type — enforced by
   tests/test_reference_views.py's schema-contract test, so these
   declarations cannot drift from the frames the engine runs on, and
3. the per-batch audit stores the streaming ingest paths append to.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _st(fields: list[tuple]) -> StructType:
    return StructType([StructField(n, t, nullable) for n, t, nullable in fields])


# --- driver testdata tables (TESTDATA.md) ------------------------------------

REGION = _st([
    ("r_regionkey", IntegerType(), True),
    ("r_name", StringType(), True),
])

NATION = _st([
    ("n_nationkey", IntegerType(), True),
    ("n_name", StringType(), True),
    ("n_regionkey", IntegerType(), True),
])

CUSTOMER = _st([
    ("c_custkey", LongType(), True),
    ("c_name", StringType(), True),
    ("c_nationkey", IntegerType(), True),
    ("c_acctbal", DoubleType(), True),
    ("c_mktsegment", StringType(), True),
])

SUPPLIER = _st([
    ("s_suppkey", LongType(), True),
    ("s_name", StringType(), True),
    ("s_nationkey", IntegerType(), True),
    ("s_acctbal", DoubleType(), True),
])

PART = _st([
    ("p_partkey", LongType(), True),
    ("p_name", StringType(), True),
    ("p_brand", StringType(), True),
    ("p_type", StringType(), True),
    ("p_size", IntegerType(), True),
    ("p_retailprice", DoubleType(), True),
])

ORDERS = _st([
    ("o_orderkey", LongType(), True),
    ("o_custkey", LongType(), True),
    ("o_orderstatus", StringType(), True),
    ("o_totalprice", DoubleType(), True),
    ("o_orderdate", TimestampType(), True),
    ("o_orderpriority", StringType(), True),
])

LINEITEM = _st([
    ("l_orderkey", LongType(), True),
    ("l_partkey", LongType(), True),
    ("l_suppkey", LongType(), True),
    ("l_linenumber", IntegerType(), True),
    ("l_quantity", DoubleType(), True),
    ("l_extendedprice", DoubleType(), True),
    ("l_discount", DoubleType(), True),
    ("l_tax", DoubleType(), True),
    ("l_returnflag", StringType(), True),
    ("l_linestatus", StringType(), True),
    ("l_shipdate", TimestampType(), True),
])

EVENTS = _st([
    ("event_id", LongType(), True),
    ("ts", TimestampType(), True),
    ("user_id", LongType(), True),
    ("event_type", StringType(), True),
    ("value", DoubleType(), True),
    ("props", StringType(), True),
])

DOCUMENTS = _st([
    ("doc_id", LongType(), True),
    ("text", StringType(), True),
    ("lang", StringType(), True),
    ("source", StringType(), True),
    ("n_chars", LongType(), True),
])

EMBEDDINGS = _st([
    ("vec_id", LongType(), True),
    ("embedding", ArrayType(FloatType(), True), True),
    ("label", IntegerType(), True),
])

TESTDATA_SCHEMAS: dict[str, StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}


# --- reference-shaped review domain (FIXTURES.md §1-4) ------------------------
# Review fact table: reference src/database/schema.sql:49-75 and the Review
# dataclass src/models/review.py:31-41 (11 fields).

REVIEW = _st([
    ("review_id", StringType(), False),
    ("app_id", StringType(), False),
    ("author", StringType(), True),
    ("rating", IntegerType(), False),
    ("content", StringType(), True),
    ("review_timestamp", TimestampType(), True),
    ("scraped_at", TimestampType(), True),
    ("thumbs_up", IntegerType(), True),
    ("app_version", StringType(), True),
    ("reply_content", StringType(), True),
    ("reply_timestamp", TimestampType(), True),
])

# App metadata dimension: reference schema.sql:24-41, AppInfo dataclass
# src/models/review.py:148-171.
APP = _st([
    ("app_id", StringType(), False),
    ("title", StringType(), True),
    ("developer", StringType(), True),
    ("genre", StringType(), True),
    ("play_store_rating", DoubleType(), True),
    ("play_store_reviews", LongType(), True),
    ("installs", StringType(), True),
    ("first_scraped_at", TimestampType(), True),
    ("last_scraped_at", TimestampType(), True),
])

# Run audit table: reference schema.sql:83-117.
SCRAPE_RUN = _st([
    ("run_id", LongType(), False),
    ("started_at", TimestampType(), True),
    ("completed_at", TimestampType(), True),
    ("status", StringType(), True),
    ("target_apps", StringType(), True),  # JSON array, parity with schema.sql:93
    ("reviews_per_app", IntegerType(), True),
    ("total_reviews_collected", IntegerType(), True),
    ("total_apps_processed", IntegerType(), True),
    ("error_message", StringType(), True),
])

# Provenance junction: reference schema.sql:110-117.
REVIEW_SCRAPE_LOG = _st([
    ("review_id", StringType(), False),
    ("run_id", LongType(), False),
])

# Post-run metrics: reference schema.sql:121-153.
INGESTION_METRICS = _st([
    ("run_id", LongType(), False),
    ("report_json", StringType(), True),
    ("reviews_fetched", LongType(), True),
    ("reviews_inserted", LongType(), True),
    ("reviews_skipped", LongType(), True),
    ("dedup_rate", DoubleType(), True),
    ("error_rate", DoubleType(), True),
    ("duration_seconds", DoubleType(), True),
    ("ingestion_rate_per_min", DoubleType(), True),
    ("apps_processed", LongType(), True),
    ("apps_failed", LongType(), True),
    ("alerts_count", LongType(), True),
])

# Labeling tables: reference schema.sql:275-352.
ANNOTATOR = _st([
    ("annotator_id", LongType(), False),
    ("name", StringType(), False),
    ("created_at", TimestampType(), True),
    ("is_active", IntegerType(), True),
])

LABEL = _st([
    ("label_id", LongType(), False),
    ("review_id", StringType(), False),
    ("annotator_id", LongType(), False),
    ("sentiment", StringType(), False),
    ("confidence", StringType(), True),
    ("notes", StringType(), True),
    ("created_at", TimestampType(), True),
])

LABEL_QUEUE = _st([
    ("queue_id", LongType(), False),
    ("review_id", StringType(), False),
    ("priority_tier", IntegerType(), False),
    ("status", StringType(), False),
    ("assigned_to", LongType(), True),
    ("created_at", TimestampType(), True),
    ("assigned_at", TimestampType(), True),
    ("completed_at", TimestampType(), True),
])

REVIEW_DOMAIN_SCHEMAS: dict[str, StructType] = {
    "reviews": REVIEW,
    "apps": APP,
    "scrape_runs": SCRAPE_RUN,
    "review_scrape_log": REVIEW_SCRAPE_LOG,
    "ingestion_metrics": INGESTION_METRICS,
    "annotators": ANNOTATOR,
    "labels": LABEL,
    "label_queue": LABEL_QUEUE,
}


# --- streaming audit stores ----------------------------------------------------
# One row per micro-batch, appended last as the batch's commit marker.
# Readers use these declared schemas instead of footer inference: a store
# resumed across a column addition holds files with and without the
# column, and inference reads one arbitrary footer.

# streaming/ingest.dedup_insert_batch — the scrape_runs equivalent above:
# fetched = inserted + skipped + quarantined
INGEST_AUDIT = _st([
    ("batch_id", LongType(), True),
    ("fetched", LongType(), True),
    ("inserted", LongType(), True),
    ("skipped", LongType(), True),
    ("quarantined", LongType(), True),
    ("dedup_rate", DoubleType(), True),
    ("status", StringType(), True),
    ("duration_seconds", DoubleType(), True),
])

# streaming/ingest.evaluate_batch_health — one row per fired alert
INGEST_ALERT = _st([
    ("batch_id", LongType(), True),
    ("alert", StringType(), True),
])

# streaming/neardup.neardup_insert_batch:
# fetched = dup_vs_store + dup_within_batch + inserted
NEARDUP_AUDIT = _st([
    ("batch_id", LongType(), True),
    ("fetched", LongType(), True),
    ("dup_vs_store", LongType(), True),
    ("dup_within_batch", LongType(), True),
    ("inserted", LongType(), True),
    ("duration_seconds", DoubleType(), True),
])

# streaming/cdc.run_cdc_stream: fetched = upserted + deleted + skipped_stale
CDC_AUDIT = _st([
    ("batch_id", LongType(), True),
    ("fetched", LongType(), True),
    ("upserted", LongType(), True),
    ("deleted", LongType(), True),
    ("skipped_stale", LongType(), True),
])

# streaming/driftmon.run_drift_monitor
PSI_AUDIT = _st([
    ("batch_id", LongType(), True),
    ("n_rows", LongType(), True),
    ("psi", DoubleType(), True),
    ("alert", BooleanType(), True),
    ("ts", DoubleType(), True),
])

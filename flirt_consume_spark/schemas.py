"""Explicit StructType schemas for every table the engine consumes.

The reference's schema is implicit (positional CSV + schemaless Mongo
documents — SURVEY.md §1.3); ours is explicit and fixed: declare the
StructType, fail loudly on drift. Schemas below are verified against
the driver's parquet footers (FIXTURES.md §A) plus the flirt-domain
fixture schemas (FIXTURES.md §B) used by the ETL-signature operators
(schedule expansion, time normalization, airport enrichment).

``TABLES`` is the only description of the driver tables' layout:
``io.load_table`` and ``streaming.jobs.read_events_stream`` read
through it and infer nothing. The files store ``o_orderdate``,
``l_shipdate`` and ``events.ts`` as µs TIMESTAMP_NTZ; Spark reads
those as the declared TimestampType with the stored micros unchanged,
whatever the session zone.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _st(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


# --- Driver star-schema tables (FIXTURES.md §A) -------------------------

REGION = _st(("r_regionkey", IntegerType()), ("r_name", StringType()))

NATION = _st(
    ("n_nationkey", IntegerType()),
    ("n_name", StringType()),
    ("n_regionkey", IntegerType()),
)

CUSTOMER = _st(
    ("c_custkey", LongType()),
    ("c_name", StringType()),
    ("c_nationkey", IntegerType()),
    ("c_acctbal", DoubleType()),
    ("c_mktsegment", StringType()),
)

SUPPLIER = _st(
    ("s_suppkey", LongType()),
    ("s_name", StringType()),
    ("s_nationkey", IntegerType()),
    ("s_acctbal", DoubleType()),
)

PART = _st(
    ("p_partkey", LongType()),
    ("p_name", StringType()),
    ("p_brand", StringType()),
    ("p_type", StringType()),
    ("p_size", IntegerType()),
    ("p_retailprice", DoubleType()),
)

ORDERS = _st(
    ("o_orderkey", LongType()),
    ("o_custkey", LongType()),
    ("o_orderstatus", StringType()),
    ("o_totalprice", DoubleType()),
    ("o_orderdate", TimestampType()),
    ("o_orderpriority", StringType()),
)

LINEITEM = _st(
    ("l_orderkey", LongType()),
    ("l_partkey", LongType()),
    ("l_suppkey", LongType()),
    ("l_linenumber", IntegerType()),
    ("l_quantity", DoubleType()),
    ("l_extendedprice", DoubleType()),
    ("l_discount", DoubleType()),
    ("l_tax", DoubleType()),
    ("l_returnflag", StringType()),
    ("l_linestatus", StringType()),
    ("l_shipdate", TimestampType()),
)

EVENTS = _st(
    ("event_id", LongType()),
    ("ts", TimestampType()),
    ("user_id", LongType()),
    ("event_type", StringType()),
    ("value", DoubleType()),
    ("props", StringType()),  # one-key JSON object, e.g. '{"k": 87}'
)

DOCUMENTS = _st(
    ("doc_id", LongType()),
    ("text", StringType()),
    ("lang", StringType()),
    ("source", StringType()),
    ("n_chars", LongType()),
)

EMBEDDINGS = _st(
    ("vec_id", LongType()),
    ("embedding", ArrayType(FloatType())),  # fixed length 64
    ("label", IntegerType()),
)

TABLES: dict[str, StructType] = {
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

TABLE_NAMES = tuple(TABLES)


# --- Flirt-domain fixtures (FIXTURES.md §B; SURVEY.md §2.E) -------------
# The reference's native inputs: a global airport dimension and monthly
# flight-schedule extracts (carrier, route, date range, day-of-week
# operating mask, local times + UTC offsets, seats, service type,
# codeshare flag).

AIRPORTS = _st(
    ("code", StringType()),
    ("name", StringType()),
    ("city", StringType()),
    ("country", StringType()),
    ("lat", DoubleType()),
    ("lon", DoubleType()),
    ("utc_offset_min", IntegerType()),
)

SCHEDULES = _st(
    ("sched_id", LongType()),
    ("carrier", StringType()),
    ("flight_num", IntegerType()),
    ("orig", StringType()),
    ("dest", StringType()),
    ("eff_date", DateType()),
    ("disc_date", DateType()),
    ("day_mask", StringType()),  # 7 chars '1'/'0', Mon..Sun
    ("dep_time_local", StringType()),  # 'HH:MM' at orig
    ("arr_time_local", StringType()),  # 'HH:MM' at dest
    ("seats", IntegerType()),
    ("service_type", StringType()),  # 'J' passenger, 'F' cargo
    ("codeshare", BooleanType()),
)

SCHED_VERSIONS = _st(
    ("route", StringType()),
    ("version_ts", TimestampType()),
    ("seats", IntegerType()),
)

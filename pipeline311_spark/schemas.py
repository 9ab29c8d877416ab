"""Explicit StructType constants — the engine never infers schemas.

The reference declares its schema in code (config.py:63-97 FIELD_MAP,
config.py:104-143 SOQL projection) and *validates* at runtime
(sync-db2-ago.py:441-459 header whitelist, :487-502 field-set equality).
SURVEY §1.2 maps that to explicit StructTypes per tier plus a
``validate_schema`` operator (sources/validate.py).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Driver testdata tables (TESTDATA.md) — used by queries()/oracle_sql().
# ---------------------------------------------------------------------------

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampType()),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
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

# ---------------------------------------------------------------------------
# 311 case tiers (medallion layout, SURVEY §1.1).
# ---------------------------------------------------------------------------

# Source->destination column map (reference config.py:63-97 FIELD_MAP: 31
# destination columns).  This is declared *data*, not copied code: the map
# is the published schema contract of the pipeline.
FIELD_MAP: dict[str, str] = {
    "service_request_id": "CaseNumber",
    "status": "Status",
    "service_name": "Case_Record_Type__c",
    "service_code": "Service_Code__c",
    "description": "Description",
    "agency_responsible": "Department__c",
    "service_notice": "SLA__c",
    "requested_datetime": "CreatedDate",
    "updated_datetime": "LastModifiedDate",
    "expected_datetime": "Sla_date__c",
    "closed_datetime": "ClosedDate",
    "address": "Street__c",
    "zipcode": "ZipCode__c",
    "media_url": "Media_Url__c",
    "private_case": "Private_Case__c",
    "subject": "Subject",
    "type_": "Type",
    "police_district": "Police_District__c",
    "council_district_num": "Council_District_No__c",
    "pinpoint_area": "Pinpoint_Area__c",
    "parent_service_request_id": "SAG_Parent_Case_Number__c",
    "li_district": "L_I_District__c",
    "sanitation_district": "Sanitation_District__c",
    "service_request_origin": "Origin",
    "service_type": "Service_Request_Type__c",
    "record_id": "Id",
    "vehicle_model": "Model__c",
    "vehicle_make": "Make__c",
    "vehicle_color": "Color__c",
    "vehicle_body_style": "Body_Style__c",
    "vehicle_license_plate": "License_Plate__c",
    "vehicle_license_plate_state": "License_Plate_State__c",
}

# Raw source columns additionally read by the cleaning kernel but not in
# FIELD_MAP (common.py:119-128 geometry inputs; :204-207 status_notes
# sources) — the clean transform must run before projection drops them
# (SURVEY §7.5.4).
EXTRA_SOURCE_COLS = [
    "RecordTypeId",  # only in the WHERE clause server-side (config.py:99-102); engine filters client-side pre-projection
    "Centerline__Longitude__s",
    "Centerline__Latitude__s",
    "Centerline_2272x__c",  # selected by SOQL (config.py:111-112), unused downstream
    "Centerline_2272y__c",
    "Close_Reason__c",
    "Status_Update__c",
]

# Text fields subject to the blanket NULL->'' + truncate-2000 guard
# (reference config.py:33-46 TEXT_FIELDS; common.py:220-222).
TEXT_FIELDS = [
    "status",
    "status_notes",
    "service_name",
    "service_code",
    "description",
    "agency_responsible",
    "service_notice",
    "address",
    "zipcode",
    "media_url",
    "subject",
    "type_",
]

def _sf_raw_schema() -> T.StructType:
    cols = list(FIELD_MAP.values()) + EXTRA_SOURCE_COLS
    return T.StructType([T.StructField(c, T.StringType()) for c in cols])

#: Salesforce-shaped source rows: everything arrives as nullable strings
#: (REST JSON), per FIXTURES.md `sf_cases_raw`.
SF_CASE_RAW = _sf_raw_schema()

#: Enterprise/silver header whitelist (sync-db2-ago.py:441-444).
ENTERPRISE_COLUMNS = [
    "objectid",
    "service_request_id",
    "gdb_geomattr_data",
    "status",
    "shape",
    "status_notes",
    "service_name",
    "service_code",
    "agency_responsible",
    "service_notice",
    "requested_datetime",
    "updated_datetime",
    "expected_datetime",
    "closed_datetime",
    "address",
    "zipcode",
    "media_url",
    "lat",
    "lon",
    "subject",
    "type_",
    "description",
    "description_full",
    "private_case",
    "service_type",
]

#: Public/gold viewer columns (sync-db2-viewer.py:18-25): enterprise minus
#: gdb_geomattr_data.
VIEWER_COLUMNS = [c for c in ENTERPRISE_COLUMNS if c != "gdb_geomattr_data"]

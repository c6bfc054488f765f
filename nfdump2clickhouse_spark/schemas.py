"""Explicit StructTypes for every table the engine touches.

The reference hard-codes its column subset (SURVEY §1.2 [P]); we likewise
pin schemas explicitly — also required by Spark's streaming file source,
which demands a user-supplied schema. Fixture schemas verified against the
parquet footers at /root/testdata (FIXTURES.md §A).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
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


def _st(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, nullable=True) for n, t in fields])


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
    ("ts", TimestampType()),  # parquet is ns; Spark truncates to µs (SURVEY §5.3.2)
    ("user_id", LongType()),
    ("event_type", StringType()),
    ("value", DoubleType()),
    ("props", StringType()),  # JSON string {"k": int}
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
    ("embedding", ArrayType(FloatType())),  # dim 64; cast to double before math
    ("label", IntegerType()),
)

FIXTURE_SCHEMAS: dict[str, StructType] = {
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

# The reference's projected flow-record schema: 48 nfdump CSV fields → 13
# analytical columns + the per-source `flowsrc` tag (SURVEY §1.2 [P]).
FLOWS = _st(
    ("ts", TimestampType()),
    ("te", TimestampType()),
    ("td", DoubleType()),
    ("sa", StringType()),
    ("da", StringType()),
    ("sp", IntegerType()),
    ("dp", IntegerType()),
    ("pr", StringType()),  # nullable protocol
    ("flg", StringType()),
    ("ipkt", LongType()),
    ("ibyt", LongType()),
    ("ra", StringType()),
    ("flowsrc", StringType()),
)

# The at-rest table as FlowService's sink writes it, in the order a
# schema-inferring read returns it: the FLOWS data columns, the numeric
# address columns, then the hive partition columns dt= and flowsrc=.
FLOWS_TABLE = StructType(
    [f for f in FLOWS.fields if f.name != "flowsrc"]
    + _st(
        ("sa_num", LongType()),
        ("da_num", LongType()),
        ("dt", DateType()),
        ("flowsrc", StringType()),
    ).fields
)

# Raw nfdump `-o csv` header: the full ~48-field record the reference
# projects down from (SURVEY §1.2 [P] — nfdump documentation).
NFDUMP_CSV_FIELDS = (
    "ts,te,td,sa,da,sp,dp,pr,flg,fwd,stos,ipkt,ibyt,opkt,obyt,in,out,"
    "sas,das,smk,dmk,dtos,dir,nh,nhb,svln,dvln,ismc,odmc,idmc,osmc,"
    "mpls1,mpls2,mpls3,mpls4,mpls5,mpls6,mpls7,mpls8,mpls9,mpls10,"
    "cl,sl,al,ra,eng,exid,tr"
).split(",")

# Every raw field is read as a string; typed casts happen in the
# projection step (operators land in sources/flows.py).
NFDUMP_CSV_RAW = StructType(
    [StructField(n, StringType(), nullable=True) for n in NFDUMP_CSV_FIELDS]
)

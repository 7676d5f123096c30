"""Every schema the engine touches, declared explicitly.

The driver tables are not read with these schemas: the first
``spark.read.parquet`` of a table in a process runs a one-task Spark job
that reads the schema from the parquet footer, and later loads of the
unchanged file reuse it (``sources.tables.load_table``). The reference
hard-codes its column names inline
(e.g. detection schema at reference core.py:135-138, photometry output at
core.py:431-434, CSV sink header at p_io.py:105); here they are declared
once as StructTypes.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Driver-provided relational tables (/root/testdata/sf*/ — see TESTDATA.md)
# ---------------------------------------------------------------------------

REGION = T.StructType([
    T.StructField("r_regionkey", T.IntegerType(), False),
    T.StructField("r_name", T.StringType(), False),
])

NATION = T.StructType([
    T.StructField("n_nationkey", T.IntegerType(), False),
    T.StructField("n_name", T.StringType(), False),
    T.StructField("n_regionkey", T.IntegerType(), False),
])

CUSTOMER = T.StructType([
    T.StructField("c_custkey", T.LongType(), False),
    T.StructField("c_name", T.StringType(), False),
    T.StructField("c_nationkey", T.IntegerType(), False),
    T.StructField("c_acctbal", T.DoubleType(), True),
    T.StructField("c_mktsegment", T.StringType(), True),
])

SUPPLIER = T.StructType([
    T.StructField("s_suppkey", T.LongType(), False),
    T.StructField("s_name", T.StringType(), False),
    T.StructField("s_nationkey", T.IntegerType(), False),
    T.StructField("s_acctbal", T.DoubleType(), True),
])

PART = T.StructType([
    T.StructField("p_partkey", T.LongType(), False),
    T.StructField("p_name", T.StringType(), False),
    T.StructField("p_brand", T.StringType(), True),
    T.StructField("p_type", T.StringType(), True),
    T.StructField("p_size", T.IntegerType(), True),
    T.StructField("p_retailprice", T.DoubleType(), True),
])

ORDERS = T.StructType([
    T.StructField("o_orderkey", T.LongType(), False),
    T.StructField("o_custkey", T.LongType(), False),
    T.StructField("o_orderstatus", T.StringType(), True),
    T.StructField("o_totalprice", T.DoubleType(), True),
    T.StructField("o_orderdate", T.TimestampType(), True),
    T.StructField("o_orderpriority", T.StringType(), True),
])

LINEITEM = T.StructType([
    T.StructField("l_orderkey", T.LongType(), False),
    T.StructField("l_partkey", T.LongType(), False),
    T.StructField("l_suppkey", T.LongType(), False),
    T.StructField("l_linenumber", T.IntegerType(), False),
    T.StructField("l_quantity", T.DoubleType(), True),
    T.StructField("l_extendedprice", T.DoubleType(), True),
    T.StructField("l_discount", T.DoubleType(), True),
    T.StructField("l_tax", T.DoubleType(), True),
    T.StructField("l_returnflag", T.StringType(), True),
    T.StructField("l_linestatus", T.StringType(), True),
    T.StructField("l_shipdate", T.TimestampType(), True),
])

EVENTS = T.StructType([
    T.StructField("event_id", T.LongType(), False),
    T.StructField("ts", T.TimestampType(), False),
    T.StructField("user_id", T.LongType(), True),
    T.StructField("event_type", T.StringType(), True),
    T.StructField("value", T.DoubleType(), True),
    T.StructField("props", T.StringType(), True),  # JSON string
])

DOCUMENTS = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("n_chars", T.LongType(), True),
])

EMBEDDINGS = T.StructType([
    T.StructField("vec_id", T.LongType(), False),
    T.StructField("embedding", T.ArrayType(T.FloatType()), True),
    T.StructField("label", T.IntegerType(), True),
])

#: name -> schema for all driver tables.
DRIVER_TABLES: dict[str, T.StructType] = {
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
# Pipeline-domain schemas (reference data model, SURVEY.md §1 / FIXTURES.md §B)
# ---------------------------------------------------------------------------

#: D4 — image-set manifest (reference psf_phot.py:41: CSV of filename,epochid).
MANIFEST = T.StructType([
    T.StructField("filename", T.StringType(), False),
    T.StructField("epoch_id", T.IntegerType(), False),
])

#: D1+D2 — decoded image frame: pixels as a flat row-major float array plus
#: promoted typed header columns (reference core.py:44-46; p_io.py:40-56).
#: An image is never split across executors — parallelism is across images.
IMAGE = T.StructType([
    T.StructField("filename", T.StringType(), False),
    T.StructField("epoch_id", T.IntegerType(), False),
    T.StructField("band", T.StringType(), True),         # header FILTER
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("pixels", T.ArrayType(T.FloatType()), False),
    T.StructField("airmass", T.DoubleType(), True),      # header AIRMASS
    T.StructField("date_obs", T.TimestampType(), True),  # header DATE-OBS
    T.StructField("exptime", T.DoubleType(), True),      # header EXPTIME
    T.StructField("site_id", T.StringType(), True),      # header SITEID
    T.StructField("header", T.MapType(T.StringType(), T.StringType()), True),
])

#: D3 — star-finder output (reference core.py:135-138 documents this schema).
DETECTIONS = T.StructType([
    T.StructField("filename", T.StringType(), True),
    T.StructField("epoch_id", T.IntegerType(), True),
    T.StructField("id", T.LongType(), False),
    T.StructField("xcentroid", T.DoubleType(), True),
    T.StructField("ycentroid", T.DoubleType(), True),
    T.StructField("sharpness", T.DoubleType(), True),
    T.StructField("roundness", T.DoubleType(), True),
    T.StructField("npix", T.IntegerType(), True),
    T.StructField("sky", T.DoubleType(), True),
    T.StructField("peak", T.DoubleType(), True),
    T.StructField("flux", T.DoubleType(), True),
    T.StructField("mag", T.DoubleType(), True),
])

#: PSF-candidate subset (reference core.py:311-316 column picks).
PSF_STARS = T.StructType([
    T.StructField("epoch_id", T.IntegerType(), True),
    T.StructField("x", T.DoubleType(), False),
    T.StructField("y", T.DoubleType(), False),
    T.StructField("flux", T.DoubleType(), True),
    T.StructField("id", T.LongType(), False),
    T.StructField("peak", T.DoubleType(), True),
])

#: PSF-photometry results (reference core.py:431-434 documents this schema).
PHOTOMETRY = T.StructType([
    T.StructField("epoch_id", T.IntegerType(), True),
    T.StructField("id", T.LongType(), False),
    T.StructField("group_id", T.LongType(), True),
    T.StructField("x_0", T.DoubleType(), True),
    T.StructField("x_fit", T.DoubleType(), True),
    T.StructField("x_0_unc", T.DoubleType(), True),
    T.StructField("y_0", T.DoubleType(), True),
    T.StructField("y_fit", T.DoubleType(), True),
    T.StructField("y_0_unc", T.DoubleType(), True),
    T.StructField("flux_0", T.DoubleType(), True),
    T.StructField("flux_fit", T.DoubleType(), True),
    T.StructField("flux_unc", T.DoubleType(), True),
    T.StructField("iter_detected", T.IntegerType(), True),
])

#: D5 — calibrated per-epoch light-curve rows (the reference CSV sink header,
#: p_io.py:105; values assembled at p_io.py:107-118).
LIGHTCURVE = T.StructType([
    T.StructField("name", T.StringType(), True),
    T.StructField("id", T.LongType(), False),
    T.StructField("bjd", T.DoubleType(), False),
    T.StructField("flux", T.DoubleType(), True),
    T.StructField("flux_err", T.DoubleType(), True),
    T.StructField("mag", T.DoubleType(), True),
    T.StructField("mag_err", T.DoubleType(), True),
    T.StructField("filter", T.StringType(), True),
    T.StructField("x_pos", T.DoubleType(), True),
    T.StructField("y_pos", T.DoubleType(), True),
    T.StructField("airmass", T.DoubleType(), True),
    T.StructField("ra", T.DoubleType(), True),
    T.StructField("dec", T.DoubleType(), True),
])

#: Broadcast dimension — target ephemeris constants (reference obj_data.py:18-23,
#: consumed at p_io.py:11-16).
EPHEMERIS = T.StructType([
    T.StructField("target", T.StringType(), False),
    T.StructField("ra", T.DoubleType(), False),
    T.StructField("dec", T.DoubleType(), False),
    T.StructField("pmra", T.DoubleType(), True),
    T.StructField("pmdec", T.DoubleType(), True),
    T.StructField("plx", T.DoubleType(), True),
    T.StructField("epoch", T.DoubleType(), True),
])

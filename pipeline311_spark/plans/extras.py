"""Remaining operator coverage: sessionization (advanced windowing),
CSV sink/scan round-trip (K1/S9), EWKT geometry build/parse + ESRI
encoding (P2/P18), count probes (A4/A5/A7), truncate+reload (K9).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pipeline311_spark.plans.common import dsum, materialize, scratch_dir, table
from pipeline311_spark.plans.registry import register
from pipeline311_spark.sinks.writers import overwrite_reload, write_csv
from pipeline311_spark.sources.readers import read_csv

# ---------------------------------------------------------------------------
# Sessionization: gap-based session assignment via lag + running sum —
# the standard event-stream operator the reference's watermark loop
# approximates (SURVEY §1.4/T1), done properly with windows.
# ---------------------------------------------------------------------------

_SESSION_GAP_S = 1800

_SESSIONIZE_SQL = f"""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_SESSION_GAP_S} * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM sessions GROUP BY user_id
"""


def q_sessionize_rows(events, gap_s: int = _SESSION_GAP_S):
    """The gap-sessionization kernel over an arbitrary (user_id,
    event_id, ts) log — split out so the session-count semantics
    (gap boundary inclusivity, duplicate timestamps, single-event
    users) are testable on hostile inputs.  The per-user AGGREGATE is
    tie-order-robust: duplicate-ts rows always carry new_session=0, so
    the running sum's peer order can't change max(session_id)."""
    # event-TIME kernel: NULL timestamps have no session position
    events = events.filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    marked = events.select(
        "user_id",
        "ts",
        F.when(gap_us.isNull() | (gap_us > gap_s * 1_000_000), 1).otherwise(0).alias("new_session"),
    )
    sessions = marked.withColumn("session_id", F.sum("new_session").over(run))
    return sessions.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"), F.count("*").alias("n_events")
    )


@register("q_sessionize", _SESSIONIZE_SQL, covers=("T1", "O5"))
def q_sessionize(spark, sf_dir):
    return q_sessionize_rows(table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# K1 + S9: CSV sink then CSV scan (explicit schema), values must survive
# the round trip.  Oracle reads the original parquet — the round trip
# itself is what's being verified.
# ---------------------------------------------------------------------------

_CSV_SQL = """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


@register("s9_csv_roundtrip", _CSV_SQL, covers=("K1", "S9", "K2"))
def q_csv_roundtrip(spark, sf_dir):
    from pyspark.sql import types as T

    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    # unique per run: concurrent gates on the same sf must not share a sink
    with scratch_dir("csv") as out:
        write_csv(d, out)
        back = read_csv(spark, out, schema)
        return back.groupBy("lang").agg(
            F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
        ).transform(materialize)  # materialize before the cleanup


# ---------------------------------------------------------------------------
# K9: truncate + reload (overwrite) then scan
# ---------------------------------------------------------------------------

_K9_SQL = """
SELECT COUNT(*) AS n_parts,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM part
"""


@register("k9_truncate_reload", _K9_SQL, covers=("K9", "K10"))
def q_truncate_reload(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    with scratch_dir("seed") as out:
        overwrite_reload(p, out)
        back = spark.read.parquet(out)
        return back.agg(
            F.count("*").alias("n_parts"), dsum("p_retailprice").alias("total_price")
        ).transform(materialize)  # materialize before the cleanup


# ---------------------------------------------------------------------------
# P2 + P18: EWKT build, parse-back, ESRI feature JSON (string-assembled
# for engine portability; the struct/to_json form is the library op).
# ---------------------------------------------------------------------------

_GEO_SQL = """
WITH pts AS (
  SELECT p_partkey,
         CAST(-(p_partkey % 180 + 0.5) AS DOUBLE) AS x,
         CAST(p_partkey % 80 + 0.25 AS DOUBLE) AS y
  FROM part)
SELECT p_partkey,
       concat('SRID=4326;POINT (', CAST(x AS VARCHAR), ' ', CAST(y AS VARCHAR), ')') AS ewkt,
       x AS parsed_x, y AS parsed_y, 4326 AS srid,
       concat('{"attributes":{"id":', CAST(p_partkey AS VARCHAR),
              '},"geometry":{"x":', CAST(x AS VARCHAR), ',"y":', CAST(y AS VARCHAR),
              ',"spatial_reference":{"wkid":4326}}}') AS esri_json
FROM pts
"""


@register("p2_p18_geometry", _GEO_SQL, covers=("P2", "P18", "P19"))
def q_geometry(spark, sf_dir):
    from pipeline311_spark.functions.geo import parse_point_ewkt, point_ewkt_from_xy

    p = table(spark, sf_dir, "part")
    x = (-((F.col("p_partkey") % 180) + F.lit(0.5))).cast("double")
    y = ((F.col("p_partkey") % 80) + F.lit(0.25)).cast("double")
    with_ewkt = p.select(
        "p_partkey", point_ewkt_from_xy(x.cast("string"), y.cast("string")).alias("ewkt")
    )
    pt = parse_point_ewkt("ewkt")
    return with_ewkt.select(
        "p_partkey",
        "ewkt",
        pt["x"].alias("parsed_x"),
        pt["y"].alias("parsed_y"),
        pt["srid"].alias("srid"),
        F.concat(
            F.lit('{"attributes":{"id":'),
            F.col("p_partkey").cast("string"),
            F.lit('},"geometry":{"x":'),
            pt["x"].cast("string"),
            F.lit(',"y":'),
            pt["y"].cast("string"),
            F.lit(',"spatial_reference":{"wkid":4326}}}'),
        ).alias("esri_json"),
    )


# ---------------------------------------------------------------------------
# A4/A5/A7: count probes
# ---------------------------------------------------------------------------

_A5_SQL = """
SELECT (SELECT COUNT(*) FROM orders) AS source_count,
       (SELECT COUNT(*) FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS matched_customers
"""


@register("a5_count_probes", _A5_SQL, covers=("A4", "A5", "A7", "S2"))
def q_count_probes(spark, sf_dir):
    from pipeline311_spark.operators.aggregates import count_matched

    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    total = orders.count()
    matched = count_matched(cust, orders.withColumnRenamed("o_custkey", "c_custkey"), "c_custkey")
    return spark.createDataFrame(
        [(total, matched)], "source_count long, matched_customers long"
    )

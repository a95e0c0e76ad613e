"""Named query catalog: every operator class from SURVEY.md §2 (plus
the training-data-pipeline extras) as a (Spark builder, DuckDB oracle)
pair over the driver's testdata tables.

Contract (driver __spark_entry__): each entry's Spark DataFrame and its
ANSI-SQL oracle must produce identical row sets — column names aligned,
every computed double rounded identically on both sides, window ties
broken deterministically. Entries whose semantics are not reasonably
ANSI-SQL-expressible (MinHash signatures, S2/hex cell ids, image
decode) carry ``oracle=None`` → the driver records a rows-only check.

Geo queries synthesize deterministic coordinates from integer keys with
pure integer arithmetic (identical in Spark and DuckDB):
    lat(key) = ((key*9973)  % 1700000)/10000.0 - 85.0
    lon(key) = ((key*7919)  % 3600000)/10000.0 - 180.0
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- deterministic synthesized coordinates (Spark side) ---------------


def _lat(key):
    return ((key * 9973) % 1700000) / 10000.0 - 85.0


def _lon(key):
    return ((key * 7919) % 3600000) / 10000.0 - 180.0


_SQL_LAT = "(({k} * 9973) % 1700000) / 10000.0 - 85.0"
_SQL_LON = "(({k} * 7919) % 3600000) / 10000.0 - 180.0"


def _haversine_sql(lat1, lon1, lat2, lon2) -> str:
    return (
        f"2*6371000.0*asin(sqrt(least("
        f"pow(sin(radians(({lat2})-({lat1}))/2),2)"
        f"+cos(radians({lat1}))*cos(radians({lat2}))"
        f"*pow(sin(radians(({lon2})-({lon1}))/2),2), 1.0)))"
    )


def _sql_mulmod64(v: str, c_full: int) -> str:
    """a·c mod 2^64 in DuckDB SQL with the multiply split into 32-bit
    halves (HUGEINT is signed-127-bit; a full 64×64 product overflows):
    a·c ≡ a_lo·c + ((a_hi·c mod 2^32) << 32)  (mod 2^64). Shared by the
    SimHash and MinHash live oracles."""
    c_lo32 = c_full % (1 << 32)
    return (
        f"CAST(((CAST({v} % 4294967296 AS HUGEINT) * {c_full}) "
        f"+ (((CAST({v} AS HUGEINT) // 4294967296) * {c_lo32}) % 4294967296) * 4294967296"
        f") % 18446744073709551616 AS UBIGINT)"
    )


QUERIES: dict[str, QueryDef] = {}

# Overflow registry. The driver's correctness gate records at most 50
# entries (round 3: 54 registered, exactly the first 50 got rows), so
# the driver-facing catalog is held at ≤50 and REDUNDANT VARIANTS live
# here instead: each extended entry duplicates an operator surface that
# a driver-gated query already covers (see COVERAGE.md §catalog).
# tools/crosscheck.py validates both registries identically, so these
# keep full local oracle evidence.
QUERIES_EXTENDED: dict[str, QueryDef] = {}


def q(name: str, oracle: str | None, description: str):
    def deco(fn):
        QUERIES[name] = QueryDef(fn, oracle, description)
        return fn

    return deco


def q_ext(name: str, oracle: str | None, description: str):
    def deco(fn):
        QUERIES_EXTENDED[name] = QueryDef(fn, oracle, description)
        return fn

    return deco


# ============================================================ relational


@q(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1-style scan+filter+groupBy aggregate (partial+final agg, SURVEY §2.6 A1/A6)",
)
def q01(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@q(
    "q02_filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) / 100
             AS charge
    FROM lineitem
    WHERE l_discount > 0.05 AND l_quantity < 10
    """,
    "predicate pushdown + projection (SURVEY §2.4 F1; Catalyst O2/O3)",
)
def q02(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # floor(x*100+0.5)/100 instead of round(): identical IEEE double ops
    # in both engines (Spark's round goes through BigDecimal shortest-
    # repr and can differ from DuckDB's binary rounding in the last digit)
    charge = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    return li.filter((F.col("l_discount") > 0.05) & (F.col("l_quantity") < 10)).select(
        "l_orderkey",
        "l_linenumber",
        (F.floor(charge * 100 + 0.5) / 100).alias("charge"),
    )


@q(
    "q03_join_agg",
    """
    SELECT n.n_name AS nation, r.r_name AS region,
           round(sum(o.o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
    "multi-way equi-join + agg (broadcast dims; SURVEY §2.5)",
)
def q03(spark, sf_dir):
    from ..session import widen

    # single-row-group parquet plans the orders scan to 1-2 live tasks,
    # serializing the three broadcast-hash probes + partial agg fused
    # with it; one narrow hash exchange unlocks full-width probes
    # (measured r6: 0.96 → 0.70 s at sf1.0; no-op once the input has
    # >= cores row groups, and skipped below 16 MB where the exchange
    # costs more than the serial probes — +0.36 s at sf0.1)
    o = widen(
        _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        by="o_custkey",
        min_bytes=16 * 1024 * 1024,
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


@q(
    "q04_semi_join",
    """
    SELECT o_orderstatus, count(*) AS n
    FROM orders WHERE EXISTS (
      SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    GROUP BY o_orderstatus
    """,
    "left-semi join / EXISTS (SURVEY §2.5 J7)",
)
def q04(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


@q(
    "q05_anti_join",
    """
    SELECT c_mktsegment, count(*) AS n_inactive
    FROM customer WHERE NOT EXISTS (
      SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
    "left-anti join / NOT EXISTS — the idempotent-resume primitive (SURVEY §2.5 J7)",
)
def q05(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_inactive"))
    )


@q(
    "q06_window_topk",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank
      FROM orders)
    WHERE rank <= 3
    """,
    "window top-k per group (SURVEY §2.7 W3)",
)
def q06(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


@q(
    "q07_window_running",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING), 2) AS running_total
    FROM orders
    """,
    "running total window (SURVEY §2.7 W4 byte-budget analogue)",
)
def q07(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@q(
    "q08_distinct_agg",
    """
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS n_orders,
           count(DISTINCT l_suppkey) AS n_suppliers,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
    "distinct aggregation (SURVEY §2.6 A3)",
)
def q08(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@q(
    "q09_union_except",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal < 0
    """,
    "set ops union/except (SURVEY §2.8)",
)
def q09(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    neg = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return a.unionByName(b).exceptAll(neg).distinct()


@q_ext(
    "q10_cube",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS qty
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    "cube rollup aggregation (engine §2.6 extension)",
)
def q10(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty")
    )


@q(
    "q11_pivot",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS qty_o,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS qty_f
    FROM lineitem GROUP BY l_returnflag
    """,
    "pivot (engine §2.8 extension)",
)
def q11(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnsRenamed({"O": "qty_o", "F": "qty_f"})
        .na.fill({"qty_o": 0.0, "qty_f": 0.0})
    )


@q(
    "q12_explode_agg",
    """
    SELECT label, pos, round(avg(e), 4) AS avg_val, count(*) AS n
    FROM (SELECT label, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS e
          FROM embeddings)
    WHERE pos <= 4
    GROUP BY label, pos
    """,
    "posexplode over array column + agg (way-refs explode analogue, SURVEY §2.5 J2)",
)
def q12(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "e"))
        .select(
            "label",
            (F.col("pos0") + 1).cast("long").alias("pos"),
            F.col("e").cast("double").alias("e"),
        )
        .filter(F.col("pos") <= 4)
        .groupBy("label", "pos")
        .agg(F.round(F.avg("e"), 4).alias("avg_val"), F.count("*").alias("n"))
    )


@q(
    "q13_collect_ordered",
    """
    SELECT user_id, string_agg(event_type, ',' ORDER BY ts, event_id) AS seq,
           count(*) AS n
    FROM events GROUP BY user_id
    """,
    "ordered collect per group (way-geometry assembly analogue, SURVEY §2.5 J2/W2)",
)
def q13(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                    lambda s: s.event_type,
                ),
            ).alias("seq"),
            F.count("*").alias("n"),
        )
    )


@q(
    "q14_string_funcs",
    """
    SELECT upper(p_brand) AS brand_uc, substr(p_name, 1, 8) AS name_prefix,
           count(*) AS n, CAST(max(length(p_type)) AS BIGINT) AS max_type_len
    FROM part
    WHERE p_name LIKE '%a%'
    GROUP BY upper(p_brand), substr(p_name, 1, 8)
    """,
    "string scalar surface (SURVEY §2.9)",
)
def q14(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_name").like("%a%"))
        .groupBy(
            F.upper("p_brand").alias("brand_uc"),
            F.substring("p_name", 1, 8).alias("name_prefix"),
        )
        .agg(
            F.count("*").alias("n"),
            F.max(F.length("p_type")).cast("long").alias("max_type_len"),
        )
    )


@q(
    "q15_date_funcs",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1, 2
    """,
    "date scalar surface (timestamp×granularity analogue, SURVEY §2.9)",
)
def q15(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
    ).agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))


@q(
    "q16_json_funcs",
    """
    SELECT json_extract_string(props, '$.k') AS k, count(*) AS n
    FROM events GROUP BY 1
    """,
    "semi-structured extraction (map/tags dictionary analogue, SURVEY §2.9)",
)
def q16(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.get_json_object("props", "$.k").alias("k")).agg(
        F.count("*").alias("n")
    )


@q(
    "q17_conditional",
    """
    SELECT o_orderpriority,
           count(*) AS n,
           count(CASE WHEN o_totalprice > 150000 THEN 1 END) AS n_big,
           round(avg(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS avg_f
    FROM orders GROUP BY o_orderpriority
    """,
    "conditional aggregation (SURVEY §2.4 F-class predicates in agg)",
)
def q17(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("o_totalprice") > 150000, 1)).alias("n_big"),
        F.round(F.avg(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))), 2).alias(
            "avg_f"
        ),
    )


# ============================================================ geospatial


@q(
    "q18_grid_agg",
    f"""
    SELECT CAST(floor(({_SQL_LAT.format(k='c_custkey')} + 90.0) * 10) AS BIGINT) * 3601
           + CAST(floor(({_SQL_LON.format(k='c_custkey')} + 180.0) * 10) AS BIGINT) AS cell,
           count(*) AS n
    FROM customer GROUP BY 1
    """,
    "square-grid cell index + count (cell-agg analogue of hex binning, SURVEY §2.6)",
)
def q18(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    lat, lon = _lat(F.col("c_custkey")), _lon(F.col("c_custkey"))
    cell = (
        F.floor((lat + 90.0) * 10).cast("long") * 3601
        + F.floor((lon + 180.0) * 10).cast("long")
    )
    return c.groupBy(cell.alias("cell")).agg(F.count("*").alias("n"))


_TILE_Y_SQL = (
    "least(greatest(CAST(floor((1.0 - ln(tan(radians({lat})) + 1.0/cos(radians({lat})))/pi())"
    "/2.0*{n}) AS BIGINT), 0), {n}-1)"
)
_TILE_X_SQL = "least(greatest(CAST(floor(({lon}+180.0)/360.0*{n}) AS BIGINT), 0), {n}-1)"


@q(
    "q19_tile_assign",
    f"""
    SELECT {_TILE_X_SQL.format(lon=_SQL_LON.format(k="c_custkey"), n=4096)} AS x,
           {_TILE_Y_SQL.format(lat=_SQL_LAT.format(k="c_custkey"), n=4096)} AS y,
           count(*) AS n
    FROM customer GROUP BY 1, 2
    """,
    "slippy z12 tile assignment + per-tile counts (north_rule tile join, SURVEY §2.5 J6)",
)
def q19(spark, sf_dir):
    from ..functions.geo import tile_x_col, tile_y_col

    c = _t(spark, sf_dir, "customer")
    lat, lon = _lat(F.col("c_custkey")), _lon(F.col("c_custkey"))
    return c.groupBy(
        tile_x_col(lon, 12).alias("x"), tile_y_col(lat, 12).alias("y")
    ).agg(F.count("*").alias("n"))


@q_ext(
    "q20_haversine_knn",
    f"""
    SELECT * FROM (
      SELECT c_custkey, s_suppkey,
             row_number() OVER (
               PARTITION BY c_custkey
               ORDER BY round({_haversine_sql(_SQL_LAT.format(k="c_custkey"),
                                              _SQL_LON.format(k="c_custkey"),
                                              _SQL_LAT.format(k="s_suppkey * 31"),
                                              _SQL_LON.format(k="s_suppkey * 31"))}, 1),
                        s_suppkey) AS rank,
             round({_haversine_sql(_SQL_LAT.format(k="c_custkey"),
                                   _SQL_LON.format(k="c_custkey"),
                                   _SQL_LAT.format(k="s_suppkey * 31"),
                                   _SQL_LON.format(k="s_suppkey * 31"))}, 1) AS dist_m
      FROM customer CROSS JOIN supplier)
    WHERE rank <= 3
    """,
    "haversine kNN: zero-shuffle broadcast array top-k (SURVEY §2.5 J5, §2.7 W3)",
)
def q20(spark, sf_dir):
    # scalable plan: the supplier side folds into one broadcast array row
    # and each customer ranks neighbors inside a JVM array expression —
    # no |C|×|S| shuffle ever materializes (vs the cross-join + window
    # brute force, which shuffles every scored pair). Provably identical
    # to brute force (tests) and to the SQL oracle.
    from ..operators.knn import knn_topk_broadcast

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        _lat(F.col("c_custkey")).alias("lat"),
        _lon(F.col("c_custkey")).alias("lon"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _lat(F.col("s_suppkey") * 31).alias("lat"),
        _lon(F.col("s_suppkey") * 31).alias("lon"),
    )
    return knn_topk_broadcast(
        c, s, k=3,
        left_id="c_custkey", right_id="s_suppkey",
        exclude_self=False, round_dist=1,
    ).select("c_custkey", "s_suppkey", "rank", "dist_m")


@q_ext(
    "q21_bbox_pip",
    f"""
    WITH pts AS (
      SELECT c_custkey, {_SQL_LAT.format(k="c_custkey")} AS lat,
             {_SQL_LON.format(k="c_custkey")} AS lon
      FROM customer),
    boxes AS (
      SELECT CAST(r_regionkey AS BIGINT) AS box_id,
             -60.0 + r_regionkey * 25.0 AS minlat, -60.0 + r_regionkey * 25.0 + 20.0 AS maxlat,
             -150.0 + r_regionkey * 55.0 AS minlon, -150.0 + r_regionkey * 55.0 + 45.0 AS maxlon
      FROM region)
    SELECT c_custkey, box_id
    FROM pts JOIN boxes
      ON lat >= minlat AND lat < maxlat AND lon >= minlon AND lon < maxlon
    """,
    "bbox range join (coarse PIP stage; deterministic admin squares, SURVEY §2.5 J4)",
)
def q21(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        _lat(F.col("c_custkey")).alias("lat"),
        _lon(F.col("c_custkey")).alias("lon"),
    )
    r = _t(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("long").alias("box_id"),
        (-60.0 + F.col("r_regionkey") * 25.0).alias("minlat"),
        (-60.0 + F.col("r_regionkey") * 25.0 + 20.0).alias("maxlat"),
        (-150.0 + F.col("r_regionkey") * 55.0).alias("minlon"),
        (-150.0 + F.col("r_regionkey") * 55.0 + 45.0).alias("maxlon"),
    )
    return c.join(
        F.broadcast(r),
        (F.col("lat") >= F.col("minlat"))
        & (F.col("lat") < F.col("maxlat"))
        & (F.col("lon") >= F.col("minlon"))
        & (F.col("lon") < F.col("maxlon")),
    ).select("c_custkey", "box_id")


@q(
    "q22_pip_rtree",
    # same geometry as q21 (the squares are axis-aligned, so exact
    # ray-cast containment == the bbox range predicate): the R-tree
    # operator must reproduce the SQL join's row set exactly
    f"""
    WITH pts AS (
      SELECT c_custkey, {_SQL_LAT.format(k="c_custkey")} AS lat,
             {_SQL_LON.format(k="c_custkey")} AS lon
      FROM customer),
    boxes AS (
      SELECT CAST(r_regionkey AS BIGINT) AS box_id,
             -60.0 + r_regionkey * 25.0 AS minlat, -60.0 + r_regionkey * 25.0 + 20.0 AS maxlat,
             -150.0 + r_regionkey * 55.0 AS minlon, -150.0 + r_regionkey * 55.0 + 45.0 AS maxlon
      FROM region)
    SELECT c_custkey, box_id
    FROM pts JOIN boxes
      ON lat >= minlat AND lat < maxlat AND lon >= minlon AND lon < maxlon
    """,
    "broadcast R-tree PIP join on deterministic squares (north_rule J4; oracle = q21 geometry)",
)
def q22(spark, sf_dir):
    from ..operators.spatial_join import pip_join_broadcast

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"),
        _lat(F.col("c_custkey")).alias("lat"),
        _lon(F.col("c_custkey")).alias("lon"),
    )
    r = _t(spark, sf_dir, "region")
    polys = r.select(
        F.col("r_regionkey").cast("long").alias("polygon_id"),
        F.array(
            (-60.0 + F.col("r_regionkey") * 25.0),
            (-60.0 + F.col("r_regionkey") * 25.0),
            (-60.0 + F.col("r_regionkey") * 25.0 + 20.0),
            (-60.0 + F.col("r_regionkey") * 25.0 + 20.0),
        ).alias("lats"),
        F.array(
            (-150.0 + F.col("r_regionkey") * 55.0),
            (-150.0 + F.col("r_regionkey") * 55.0 + 45.0),
            (-150.0 + F.col("r_regionkey") * 55.0 + 45.0),
            (-150.0 + F.col("r_regionkey") * 55.0),
        ).alias("lons"),
    )
    return pip_join_broadcast(c, polys).select(
        F.col("point_id").alias("c_custkey"), F.col("polygon_id").alias("box_id")
    )


@q(
    "q23_s2_cells",
    None,
    "S2 cell index at level 10 + per-cell counts (north_rule cell encode; rows-only)",
)
def q23(spark, sf_dir):
    from .udfs import s2_cell_l10

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        _lat(F.col("c_custkey")).alias("lat"),
        _lon(F.col("c_custkey")).alias("lon"),
    )
    return c.groupBy(s2_cell_l10("lat", "lon").alias("s2_cell")).agg(
        F.count("*").alias("n")
    )


@q(
    "q24_hex_cells",
    None,
    "TRUE icosahedral H3: res-9 cell ids, bit-op parent to res 7 "
    "(north_rule H3 surface; pinned oracle — kernel anchored to "
    "published H3 doc vectors, tests/test_h3core.py)",
)
def q24(spark, sf_dir):
    from .udfs import h3_parent_udf, hex_cell_udf

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        _lat(F.col("c_custkey")).alias("lat"),
        _lon(F.col("c_custkey")).alias("lon"),
    )
    c9 = hex_cell_udf(9)
    cell9 = c9("lat", "lon")
    # parent via the H3 bit layout — pure Column math, no UDF
    return (
        c.select(cell9.alias("cell_r9"))
        .select("cell_r9", h3_parent_udf(F.col("cell_r9"), 7).alias("cell_r7"))
        .groupBy("cell_r7")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("cell_r9").alias("n_r9_children"),
        )
    )


# ============================================================ text / dedup


@q(
    "q25_exact_dedup",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
    "exact dedup via md5 hash-groupBy (pipeline extra)",
)
def q25(spark, sf_dir):
    from ..operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


@q(
    "q26_token_count",
    """
    SELECT lang,
           CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT)
             AS total_tokens,
           round(avg(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\\s+')) END), 4) AS avg_tokens,
           count(*) AS n_docs
    FROM documents GROUP BY lang
    """,
    "token counting per language (pipeline extra: whitespace tokenizer)",
)
def q26(spark, sf_dir):
    from ..functions.text import token_count_col

    d = _t(spark, sf_dir, "documents")
    tc = token_count_col(F.col("text"))
    return d.groupBy("lang").agg(
        F.sum(tc).cast("long").alias("total_tokens"),
        F.round(F.avg(tc), 4).alias("avg_tokens"),
        F.count("*").alias("n_docs"),
    )


@q(
    "q27_quality_score",
    """
    SELECT source,
           round(avg(
             0.4 * least(length(text) / 500.0, 1.0)
           + 0.3 * (CASE WHEN length(text) > 0
                    THEN length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) * 1.0 / length(text)
                    ELSE 0.0 END)
           + 0.3 * least(len(list_intersect(string_split_regex(lower(text), '\\s+'),
                    ['the','a','an','and','or','of','to','in','is','it'])) / 3.0, 1.0)
           ), 4) AS avg_quality,
           count(*) AS n
    FROM documents GROUP BY source
    """,
    "document quality scoring: length/alpha/stopword heuristic (pipeline extra)",
)
def q27(spark, sf_dir):
    from ..functions.text import quality_score_col

    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.round(F.avg(quality_score_col(F.col("text"))), 4).alias("avg_quality"),
        F.count("*").alias("n"),
    )


def _heuristic_langid_sql() -> str:
    """SQL mirror of functions.text.detect_language: per-language marker
    counts via length/replace (non-overlapping, same as pandas
    str.count), winner = first language in iteration order whose score
    is > 0, > every earlier language and >= every later one (pandas'
    strict-improvement loop). The /len(text) normalization cancels out
    of the argmax (same divisor for every language) so raw counts
    compare identically."""
    from ..functions.text import _LANG_MARKERS

    def score(lang):
        parts = [
            f"(length(t) - length(replace(t, '{m}', ''))) / {len(m)}"
            for m in _LANG_MARKERS[lang]
        ]
        return "(" + " + ".join(parts) + ")"

    langs = list(_LANG_MARKERS)
    whens = []
    for i, lang in enumerate(langs):
        conds = [f"{score(lang)} > 0"]
        conds += [f"{score(lang)} > {score(o)}" for o in langs[:i]]
        conds += [f"{score(lang)} >= {score(o)}" for o in langs[i + 1 :]]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


@q(
    "q28_langid_markers",
    f"""
    SELECT lang, detected, count(*) AS n FROM (
      SELECT lang, {_heuristic_langid_sql()} AS detected
      FROM (SELECT lang, ' ' || lower(text) || ' ' AS t FROM documents))
    GROUP BY lang, detected
    """,
    "language-ID n-gram/marker heuristic vs labeled lang (pipeline extra; SQL-mirrored oracle)",
)
def q28(spark, sf_dir):
    from .udfs import detect_lang_udf

    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", detect_lang_udf("text").alias("detected"))
        .groupBy("lang", "detected")
        .agg(F.count("*").alias("n"))
    )


# --- q29: LIVE MinHash-LSH oracle (round 4 — de-pins the last text-
# dedup golden). The ENTIRE pipeline is re-implemented in DuckDB SQL
# with pure-integer arithmetic, so parity with the numpy kernels is
# exact, not float-lucky:
#   words        — whitespace split with generate_subscripts positions
#   word hashes  — the splitmix64 polynomial byte hash (q30 machinery)
#   gram hashes  — Horner over ≤5-word windows in POLYNOMIAL form
#                  (Σ whash·G^(gend−pos) mod 2^64, G-powers CTE,
#                  column×column split multiply), mix64, top-31 bits;
#                  short docs get one gram, empty docs the mix64(0)
#                  constant — identical to shingle_hashes_batch
#   signatures   — min((a·x+b) mod 2^31−1) over 64 embedded (a,b)
#                  permutation PARAMETERS (parameters, not data — the
#                  same standing as embedded regex patterns)
#   band hashes  — 16×4 FNV-1a fold, 63-bit mask
#   pairs        — band-bucket self-join + signature-match fraction
# The mod-2^64 multiplies use 32-bit-split arithmetic (signed-HUGEINT
# ceiling, see _sql_mulmod64).


def _sql_mulmod64_cols(a: str, b: str) -> str:
    """a·b mod 2^64 for two COLUMN operands (a UBIGINT, b HUGEINT<2^64)."""
    return (
        f"CAST(((CAST(({a}) % 4294967296 AS HUGEINT) * ({b}))"
        f" + ((((CAST({a} AS HUGEINT) // 4294967296) * (({b}) % 4294967296))"
        f" % 4294967296) * 4294967296)"
        f") % 18446744073709551616 AS UBIGINT)"
    )


def _minhash_oracle_sql(source: str = "documents") -> str:
    """``source``: table/CTE name holding (doc_id, text) — q29 mirrors
    the documents table; q68 points it at the pipeline's extracted-text
    CTE (DuckDB resolves outer CTEs inside the nested WITH RECURSIVE)."""
    import numpy as np

    from ..functions.text import _minhash_params, _mix64

    a_arr, b_arr = _minhash_params(64)
    perm_vals = ", ".join(
        f"({i}, {int(a_arr[i])}, {int(b_arr[i])})" for i in range(64)
    )
    G = 0x9E3779B97F4A7C15
    FNV_P = 1099511628211
    FNV_B = 14695981039346656037
    empty_gram = int(_mix64(np.zeros(1, dtype=np.uint64))[0]) >> 33
    mm = _sql_mulmod64
    return f"""
    WITH RECURSIVE words AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w,
             generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) AS pos
      FROM {source} WHERE length(trim(text)) > 0),
    vocab AS (SELECT DISTINCT w FROM words),
    vhex AS (SELECT w, hex(encode(w)) AS hx, octet_length(encode(w)) AS n FROM vocab),
    -- powers bounded by the ACTUAL max token byte length (ADVICE r4: a
    -- fixed 1023 cap silently truncated the hash of any longer token,
    -- diverging from the numpy kernel which hashes all bytes)
    powers(i, v) AS (
        SELECT 0, CAST(1 AS HUGEINT)
        UNION ALL
        SELECT i + 1, (v * 1099511628211) % 18446744073709551616
        FROM powers WHERE i < (SELECT coalesce(max(n), 1) FROM vhex) - 1
    ),
    gpow(i, v) AS (
        SELECT 0, CAST(1 AS HUGEINT)
        UNION ALL
        SELECT i + 1, CAST({mm('CAST(v AS UBIGINT)', G)} AS HUGEINT)
        FROM gpow WHERE i < 4
    ),
    vpoly AS (
      SELECT w, CAST(sum(
          (CAST((strpos('0123456789ABCDEF', substr(hx, CAST(2*p.i+1 AS INT), 1)) - 1) * 16
           + strpos('0123456789ABCDEF', substr(hx, CAST(2*p.i+2 AS INT), 1)) - 1 AS HUGEINT)) * p.v
        ) % 18446744073709551616 AS UBIGINT) AS v
      FROM vhex JOIN powers p ON p.i < n GROUP BY w),
    vm1 AS (SELECT w, xor(v, v >> 30) AS v FROM vpoly),
    vm2 AS (SELECT w, {mm('v', 0xBF58476D1CE4E5B9)} AS v FROM vm1),
    vm3 AS (SELECT w, xor(v, v >> 27) AS v FROM vm2),
    vm4 AS (SELECT w, {mm('v', 0x94D049BB133111EB)} AS v FROM vm3),
    vhash AS (SELECT w, xor(v, v >> 31) AS h FROM vm4),
    wh AS (SELECT wo.doc_id, wo.pos, v.h FROM words wo JOIN vhash v USING (w)),
    lens AS (SELECT doc_id, max(pos) AS n FROM wh GROUP BY doc_id),
    gstarts AS (
      SELECT doc_id, n, unnest(range(1, CASE WHEN n >= 5 THEN n - 3 ELSE 2 END)) AS g
      FROM lens),
    gacc AS (
      SELECT m.doc_id, m.g, CAST(sum(
          CAST({_sql_mulmod64_cols('w.h', 'p.v')} AS HUGEINT)
        ) % 18446744073709551616 AS UBIGINT) AS v
      FROM (SELECT doc_id, g, least(g + 4, n) AS gend FROM gstarts) m
      JOIN wh w ON w.doc_id = m.doc_id AND w.pos BETWEEN m.g AND m.gend
      JOIN gpow p ON p.i = m.gend - w.pos
      GROUP BY m.doc_id, m.g),
    gm1 AS (SELECT doc_id, g, xor(v, v >> 30) AS v FROM gacc),
    gm2 AS (SELECT doc_id, g, {mm('v', 0xBF58476D1CE4E5B9)} AS v FROM gm1),
    gm3 AS (SELECT doc_id, g, xor(v, v >> 27) AS v FROM gm2),
    gm4 AS (SELECT doc_id, g, {mm('v', 0x94D049BB133111EB)} AS v FROM gm3),
    grams AS (
      SELECT doc_id, CAST(xor(v, v >> 31) >> 33 AS BIGINT) AS x FROM gm4
      UNION ALL
      SELECT doc_id, {empty_gram} AS x
      FROM {source} WHERE length(trim(text)) = 0),
    perms(i, a, b) AS (VALUES {perm_vals}),
    sigs AS (
      SELECT doc_id, i, min((a * x + b) % 2147483647) AS s
      FROM grams CROSS JOIN perms GROUP BY doc_id, i),
    bandv AS (
      SELECT doc_id, CAST(i // 4 AS INT) AS band,
             max(CASE WHEN i % 4 = 0 THEN s END) AS s0,
             max(CASE WHEN i % 4 = 1 THEN s END) AS s1,
             max(CASE WHEN i % 4 = 2 THEN s END) AS s2,
             max(CASE WHEN i % 4 = 3 THEN s END) AS s3
      FROM sigs GROUP BY doc_id, i // 4),
    bh0 AS (SELECT doc_id, band,
              xor(CAST({FNV_B} AS UBIGINT), CAST(band + 1 AS UBIGINT)) AS h,
              s0, s1, s2, s3 FROM bandv),
    bh1 AS (SELECT doc_id, band, {mm('xor(h, CAST(s0 AS UBIGINT))', FNV_P)} AS h, s1, s2, s3 FROM bh0),
    bh2 AS (SELECT doc_id, band, {mm('xor(h, CAST(s1 AS UBIGINT))', FNV_P)} AS h, s2, s3 FROM bh1),
    bh3 AS (SELECT doc_id, band, {mm('xor(h, CAST(s2 AS UBIGINT))', FNV_P)} AS h, s3 FROM bh2),
    bh4 AS (SELECT doc_id, band, {mm('xor(h, CAST(s3 AS UBIGINT))', FNV_P)} AS h FROM bh3),
    buckets AS (SELECT doc_id, band, CAST(h & 9223372036854775807 AS BIGINT) AS bucket FROM bh4),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM buckets a
      JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    est AS (
      SELECT c.id_a, c.id_b,
             sum(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) / 64.0 AS e
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.id_a
      JOIN sigs sb ON sb.doc_id = c.id_b AND sb.i = sa.i
      GROUP BY c.id_a, c.id_b)
    SELECT id_a, id_b, round(e, 6) AS est_jaccard FROM est WHERE e >= 0.5
    """


@q(
    "q29_minhash_dups",
    _minhash_oracle_sql(),
    "MinHash-LSH near-dup pairs over documents — FULL LIVE SQL oracle "
    "(round 4: shingle/permutation/band pipeline re-implemented in "
    "DuckDB with pure-integer arithmetic; the pinned golden is gone)",
)
def q29(spark, sf_dir):
    from ..operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


# SimHash in SQL, mirroring functions.text.simhash64 bit-for-bit
# (round 4: the word hash changed from per-word md5 to the vectorized
# splitmix64 polynomial byte hash SHARED with the MinHash shingle core —
# this CTE re-implements that hash in DuckDB, updated in lockstep):
#   whash(w) = mix64( Σ_i byte_i(utf8(w)) · P^i  mod 2^64 ), P = FNV prime
#   mix64    = splitmix64 finalizer (xor-shift 30 / mul C1 / xor-shift 27
#              / mul C2 / xor-shift 31), with the mod-2^64 multiplies
#              split into 32-bit halves because HUGEINT is signed 127-bit:
#              a·b mod 2^64 = (a_lo·b + ((a_hi·b mod 2^32) << 32)) mod 2^64
#   bytes    = hex(encode(w)) nibble pairs; powers P^i from a recursive CTE
# whash depends only on the word, so it is computed per DISTINCT vocab
# word and joined back to token occurrences (duplicates each contribute
# ±1, same as the python side). Per-doc per-bit weight = Σ_tokens (+1 if
# bit set else -1); a pair's hamming distance = #bits where the two
# docs' weight signs differ — computed directly on the per-bit
# accumulators, so the packed int64 (and its bit-63 sign hazard) never
# materializes. Tie rule acc>0 matches simhash64's 2·ones > n_words.
# NOTE: must be composed with WITH RECURSIVE (powers CTE).


_SIMHASH_ACC_CTE = f"""
    toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents WHERE length(trim(text)) > 0),
    vocab AS (SELECT DISTINCT w FROM toks),
    vhex AS (SELECT w, hex(encode(w)) AS hx, octet_length(encode(w)) AS n FROM vocab),
    -- powers bounded by the ACTUAL max token byte length (ADVICE r4: a
    -- fixed 1023 cap silently truncated the hash of any longer token,
    -- diverging from the numpy kernel which hashes all bytes)
    powers(i, v) AS (
        SELECT 0, CAST(1 AS HUGEINT)
        UNION ALL
        SELECT i + 1, (v * 1099511628211) % 18446744073709551616
        FROM powers WHERE i < (SELECT coalesce(max(n), 1) FROM vhex) - 1
    ),
    vpoly AS (
      SELECT w, CAST(sum(
          (CAST((strpos('0123456789ABCDEF', substr(hx, CAST(2*p.i+1 AS INT), 1)) - 1) * 16
           + strpos('0123456789ABCDEF', substr(hx, CAST(2*p.i+2 AS INT), 1)) - 1 AS HUGEINT)) * p.v
        ) % 18446744073709551616 AS UBIGINT) AS v
      FROM vhex JOIN powers p ON p.i < n GROUP BY w),
    vm1 AS (SELECT w, xor(v, v >> 30) AS v FROM vpoly),
    vm2 AS (SELECT w, {_sql_mulmod64('v', 0xBF58476D1CE4E5B9)} AS v FROM vm1),
    vm3 AS (SELECT w, xor(v, v >> 27) AS v FROM vm2),
    vm4 AS (SELECT w, {_sql_mulmod64('v', 0x94D049BB133111EB)} AS v FROM vm3),
    vhash AS (SELECT w, xor(v, v >> 31) AS h FROM vm4),
    hx AS (SELECT t.doc_id, v.h FROM toks t JOIN vhash v USING (w)),
    bits AS (
      SELECT doc_id, b.b AS bit,
             CASE WHEN (h >> CAST(b.b AS UBIGINT)) & 1 = 1
                  THEN 1 ELSE -1 END AS w
      FROM hx CROSS JOIN (SELECT unnest(range(64)) AS b) b),
    acc AS (
      SELECT doc_id, bit, sum(w) AS a FROM bits GROUP BY doc_id, bit
      UNION ALL
      -- token-less documents: simhash 0 (all-zero accumulator), same as
      -- the python side's empty word list
      SELECT d.doc_id, b.b AS bit, 0 AS a
      FROM documents d CROSS JOIN (SELECT unnest(range(64)) AS b) b
      WHERE length(trim(d.text)) = 0)
"""


def _simhash_pairs_sql(max_hamming: int) -> str:
    return f"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(sum(CASE WHEN (a.a > 0) != (b.a > 0) THEN 1 ELSE 0 END) AS BIGINT)
             AS hamming
    FROM acc a JOIN acc b ON a.bit = b.bit AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING sum(CASE WHEN (a.a > 0) != (b.a > 0) THEN 1 ELSE 0 END) <= {max_hamming}
    """


@q(
    "q30_simhash_dups",
    f"WITH RECURSIVE {_SIMHASH_ACC_CTE} {_simhash_pairs_sql(10)}",
    "SimHash near-dup pairs within hamming radius (pipeline extra; SQL-mirrored oracle)",
)
def q30(spark, sf_dir):
    from ..operators.dedup import simhash_pairs

    return simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=10).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


@q(
    "q31_ngram_jaccard",
    # candidates = all pairs at simhash hamming ≤ 7 (the banding is
    # recall-complete at that radius, so blocked == all-pairs), refined
    # by exact 3-gram Jaccard; jaccard ≥ 0.5 tested as 2·|∩| ≥ |∪|
    # (exact integer arithmetic, no float threshold edge)
    f"""
    WITH RECURSIVE {_SIMHASH_ACC_CTE},
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM acc a JOIN acc b ON a.bit = b.bit AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING sum(CASE WHEN (a.a > 0) != (b.a > 0) THEN 1 ELSE 0 END) <= 7),
    norm AS (
      SELECT doc_id,
             array_to_string(string_split_regex(trim(lower(text)), '\\s+'), ' ') AS t
      FROM documents),
    nums AS (
      SELECT unnest(range(1,
        (SELECT CAST(max(greatest(length(t) - 2, 1)) AS BIGINT) + 1 FROM norm))) AS i),
    grams AS (
      SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 3) AS g
      FROM norm JOIN nums ON i <= greatest(length(t) - 2, 1)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS i
      FROM cand c
      JOIN grams ga ON ga.doc_id = c.id_a
      JOIN grams gb ON gb.doc_id = c.id_b AND gb.g = ga.g
      GROUP BY c.id_a, c.id_b)
    SELECT x.id_a, x.id_b,
           floor(x.i * 1.0 / (sa.sz + sb.sz - x.i) * 10000 + 0.5) / 10000 AS jaccard
    FROM inter x
    JOIN sizes sa ON sa.doc_id = x.id_a
    JOIN sizes sb ON sb.doc_id = x.id_b
    WHERE 2 * x.i >= sa.sz + sb.sz - x.i
    """,
    "n-gram Jaccard verify over simhash candidates (pipeline extra; SQL-mirrored oracle)",
)
def q31(spark, sf_dir):
    from ..operators.dedup import ngram_jaccard_pairs, simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    # radius 7 → 8 derived bands: recall-complete candidates (pigeonhole)
    # with 8-bit band keys — selective enough to stay sub-quadratic
    cand = simhash_pairs(docs, max_hamming=7).select("id_a", "id_b")
    return ngram_jaccard_pairs(docs, cand, threshold=0.5).select(
        "id_a",
        "id_b",
        # floor(x·10⁴+0.5)/10⁴ instead of round(): identical IEEE ops in
        # both engines (see q02)
        (F.floor(F.col("jaccard") * 10000 + 0.5) / 10000).alias("jaccard"),
    )


@q(
    "q32_ann_cosine_topk",
    """
    SELECT * FROM (
      SELECT q.vec_id AS query_id, v.vec_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round(list_cosine_similarity(
                   list_transform(v.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(q.embedding, x -> CAST(x AS DOUBLE))), 4) DESC,
                 v.vec_id) AS rank,
             round(list_cosine_similarity(
                 list_transform(v.embedding, x -> CAST(x AS DOUBLE)),
                 list_transform(q.embedding, x -> CAST(x AS DOUBLE))), 4) AS cosine
      FROM embeddings v CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q
      WHERE v.vec_id != q.vec_id)
    WHERE rank <= 5
    """,
    "brute-force cosine top-k ANN baseline (pipeline extra; SQL oracle)",
)
def q32(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    v = e.select(
        F.col("vec_id"), F.transform("embedding", lambda x: x.cast("double")).alias("_v")
    )
    qs = v.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("_v").alias("_q")
    )
    cand = v.crossJoin(F.broadcast(qs)).filter(F.col("vec_id") != F.col("query_id"))
    dot = F.aggregate(F.zip_with("_v", "_q", lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x)
    nv = F.sqrt(F.aggregate("_v", F.lit(0.0), lambda s, x: s + x * x))
    nq = F.sqrt(F.aggregate("_q", F.lit(0.0), lambda s, x: s + x * x))
    scored = cand.select(
        "query_id", "vec_id", F.round(dot / (nv * nq), 4).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "rank", "cosine")
    )


@q(
    "q33_embedding_dups",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
               list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.5
    """,
    "embedding-cosine near-dup pairs (pipeline extra; SQL oracle)",
)
def q33(spark, sf_dir):
    # size-aware EXACT dispatcher (VERDICT r2 #2): under the broadcast
    # cap → zero-shuffle broadcast-array scan; beyond it → projection-
    # banded bucket equi-join (exact via ‖â−b̂‖ ≤ √(2−2τ); no broadcast
    # of the table, AQE-skew-splittable shuffle). Both paths are exact,
    # so the oracle is identical either way.
    from ..operators.dedup import embedding_dup_pairs_exact

    return embedding_dup_pairs_exact(
        _t(spark, sf_dir, "embeddings"), threshold=0.5, round_to=4
    )


# ============================================================ events / streaming-equivalent


@q(
    "q34_windowed_events",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    "tumbling event-time window agg (Structured Streaming semantics, batch-checkable)",
)
def q34(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    from ..streaming.events import windowed_counts

    out = windowed_counts(ev, window="1 hour")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


@q(
    "q35_sessionize",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked)
    SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events
    FROM sess GROUP BY user_id
    """,
    "gap-based sessionization (stateful-stream analogue via lag/cumsum windows)",
)
def q35(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.lag("ts").over(w)
    # interval comparison (works for TIMESTAMP_NTZ, timezone-independent)
    new_s = F.when(
        gap.isNull() | (F.col("ts") > gap + F.expr("INTERVAL 30 MINUTES")), F.lit(1)
    ).otherwise(F.lit(0))
    sess = ev.withColumn("new_s", new_s).withColumn(
        "session_id", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"), F.count("*").alias("n_events")
    )


# ============================================================ multimodal (rows-only)


@q(
    "q36_image_decode_stats",
    None,
    "image payload decode + channel stats over generated Iceberg-lite rows (input_hint surface)",
)
def q36(spark, sf_dir):
    from ..operators.multimodal import decode_stats
    from ..sources.images import build_images_df

    imgs = build_images_df(spark, n=64, partitions=4)
    return decode_stats(imgs).select(
        "image_id",
        F.round("mean_r", 2).alias("mean_r"),
        F.round("mean_g", 2).alias("mean_g"),
        F.round("mean_b", 2).alias("mean_b"),
        F.round("std_gray", 2).alias("std_gray"),
        "phash_decoded",
    )


@q(
    "q37_payload_verify",
    None,
    "per-row payload invariant: lossless exact / lossy PSNR≥40dB + phash equality (north_rule)",
)
def q37(spark, sf_dir):
    from ..operators.multimodal import verify_payloads
    from ..sources.images import build_images_df

    imgs = build_images_df(spark, n=64, partitions=4)
    return verify_payloads(imgs).select(
        "image_id", "fmt", F.round("psnr_db", 1).alias("psnr_db"), "pixels_ok", "phash_ok"
    )


# SQL-expressible language-ID: marker counts via length/replace —
# byte-identical formula on both engines (argmax with deterministic
# tie order en > es > fr > de > zh)
_LANGID_MARKERS = {
    "en": (" the ", " and ", " is "),
    "es": (" el ", " que ", " los "),
    "fr": (" le ", " les ", " une "),
    "de": (" der ", " und ", " das "),
    "zh": ("的", "是", "了"),
}


def _langid_score_sql(lang: str) -> str:
    parts = [
        f"(length(t) - length(replace(t, '{m}', ''))) / {len(m)}"
        for m in _LANGID_MARKERS[lang]
    ]
    return "(" + " + ".join(parts) + ")"


def _langid_detected_sql() -> str:
    langs = list(_LANGID_MARKERS)
    whens = []
    for i, lang in enumerate(langs):
        conds = [
            f"{_langid_score_sql(lang)} >= {_langid_score_sql(o)}" for o in langs[i + 1 :]
        ] + [f"{_langid_score_sql(lang)} > {_langid_score_sql(o)}" for o in langs[:i]]
        conds.append(f"{_langid_score_sql(lang)} > 0")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


@q_ext(
    "q38_langid_sql",
    f"""
    SELECT lang, detected, count(*) AS n FROM (
      SELECT lang, {_langid_detected_sql()} AS detected
      FROM (SELECT lang, ' ' || lower(text) || ' ' AS t FROM documents))
    GROUP BY lang, detected
    """,
    "SQL-expressible language-ID via marker counts (oracle-checked variant of q28)",
)
def q38(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    t = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))

    def score(lang):
        expr = None
        for m in _LANGID_MARKERS[lang]:
            c = (F.length(t) - F.length(F.replace(t, F.lit(m), F.lit("")))) / len(m)
            expr = c if expr is None else expr + c
        return expr

    langs = list(_LANGID_MARKERS)
    whens = []
    for i, lang in enumerate(langs):
        cond = score(lang) > 0
        for o in langs[i + 1 :]:
            cond = cond & (score(lang) >= score(o))
        for o in langs[:i]:
            cond = cond & (score(lang) > score(o))
        whens.append((cond, lang))
    detected = F.when(whens[0][0], whens[0][1])
    for cond, lang in whens[1:]:
        detected = detected.when(cond, lang)
    detected = detected.otherwise("und")
    return d.select("lang", detected.alias("detected")).groupBy("lang", "detected").agg(
        F.count("*").alias("n")
    )


@q(
    "q42_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 2) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 2) AS p99,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    "exact interpolated percentiles per group (SURVEY §2.6 agg surface extension)",
)
def q42(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 2).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 2).alias("p99"),
        F.count("*").alias("n"),
    )


@q(
    "q43_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
           CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
           count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    "GROUPING SETS + grouping() disambiguation (SURVEY §2.6 extension beyond cube)",
)
def q43(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
               CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
               count(*) AS n, round(sum(l_quantity), 2) AS qty
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        li=li,
    )


@q(
    "q44_range_frame",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY epoch_day
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS trailing_30d
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
                   AS epoch_day
          FROM orders)
    """,
    "RANGE-frame window: trailing 30-day revenue per customer (SURVEY §2.7 W4 range variant)",
)
def q44(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day.cast("long"))
        .rangeBetween(-30, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_30d"),
    )


@q(
    "q41_knn_adaptive",
    # same semantics as q20 (3 nearest suppliers per customer), third
    # physical strategy: iterative ring expansion with provable-coverage
    # resolution + exact fallback — no broadcast of the right side needed
    f"""
    SELECT * FROM (
      SELECT c_custkey, s_suppkey,
             row_number() OVER (
               PARTITION BY c_custkey
               ORDER BY {_haversine_sql(_SQL_LAT.format(k="c_custkey"),
                                        _SQL_LON.format(k="c_custkey"),
                                        _SQL_LAT.format(k="s_suppkey * 31"),
                                        _SQL_LON.format(k="s_suppkey * 31"))},
                        s_suppkey) AS rank,
             round({_haversine_sql(_SQL_LAT.format(k="c_custkey"),
                                   _SQL_LON.format(k="c_custkey"),
                                   _SQL_LAT.format(k="s_suppkey * 31"),
                                   _SQL_LON.format(k="s_suppkey * 31"))}, 1) AS dist_m
      FROM customer CROSS JOIN supplier)
    WHERE rank <= 3
    """,
    "adaptive ring-expansion kNN (exact, coverage-free contract) vs brute-force SQL oracle",
)
def q41(spark, sf_dir):
    from ..operators.knn import knn_join_adaptive

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"),
        _lat(F.col("c_custkey")).alias("lat"),
        _lon(F.col("c_custkey")).alias("lon"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("neighbor_id"),
        _lat(F.col("s_suppkey") * 31).alias("lat"),
        _lon(F.col("s_suppkey") * 31).alias("lon"),
    )
    # no res argument: the operator derives the starting grid from the
    # supplier side's measured density (globally sparse → coarse grid),
    # replacing round 2's hand-tuned res=2
    out = knn_join_adaptive(c, s, k=3, exclude_self=False)
    return out.select(
        F.col("point_id").alias("c_custkey"),
        F.col("neighbor_id").alias("s_suppkey"),
        "rank",
        F.round("dist_m", 1).alias("dist_m"),
    )


@q(
    "q39_dedup_clusters",
    # edges = all pairs at simhash hamming ≤ 7 (SQL-mirrored, see q30);
    # components via recursive transitive closure, canonical = min id
    f"""
    WITH RECURSIVE {_SIMHASH_ACC_CTE},
    prs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM acc a JOIN acc b ON a.bit = b.bit AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING sum(CASE WHEN (a.a > 0) != (b.a > 0) THEN 1 ELSE 0 END) <= 7),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION SELECT id_b, id_a FROM prs),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
    SELECT src AS doc_id, least(src, min(dst)) AS component
    FROM reach GROUP BY src
    """,
    "near-dup cluster canonicalization: simhash pair graph → connected components (hash-min label propagation; recursive-CTE oracle)",
)
def q39(spark, sf_dir):
    from ..operators.dedup import connected_components, simhash_pairs

    pairs = simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=7)
    return connected_components(pairs.select("id_a", "id_b"))


@q_ext(
    "q40_ann_ivf",
    None,  # non-SQL kernel (kmeans + IVF probe) → pinned golden oracle
    "IVF ANN end-to-end: coarse kmeans lists + nprobe probe + exact refine top-k (pipeline extra)",
)
def q40(spark, sf_dir):
    from ..operators.ann import ann_ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_ivf_topk(e, qs, k=5, n_lists=16, nprobe=4)


# ------------------------------------------------------ pinned oracles
#
# Queries whose kernels are not ANSI-SQL-expressible (S2 Hilbert cells,
# hex lattice, MinHash permutations, image codecs) get PINNED golden
# oracles: their verified sf0.01 output embedded as a SQL VALUES literal
# (regenerate with tools/pin_oracles.py after an intentional kernel
# change). The kernels themselves carry independent property/golden
# pytest coverage (tests/test_geo_kernels.py, test_ann_dedup.py,
# test_codecs.py); the pinned oracle turns silent regressions into
# driver-visible correctness failures. Pins are valid ONLY at sf0.01 —
# the driver's correctness scale.
# (the pin-application loop lives at the END of this module so that
# every query — including ones registered below — can receive its pin)


@q(
    "q45_bucketed_assembly",
    f"""
    WITH refs AS (
      SELECT l_orderkey AS way_id,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber, l_partkey) - 1 AS pos,
             l_partkey AS ref
      FROM lineitem),
    nodes AS (
      SELECT p_partkey AS ref,
             {_SQL_LAT.format(k="p_partkey")} AS lat,
             {_SQL_LON.format(k="p_partkey")} AS lon
      FROM part)
    SELECT way_id, count(*) AS n_pts,
           arg_min(lat, pos) AS first_lat,
           arg_max(lon, pos) AS last_lon,
           round(sum(lat * (pos + 1) * (pos + 1)), 4) AS lat_poschk
    FROM refs JOIN nodes USING (ref)
    GROUP BY way_id
    """,
    "bucketed co-located way assembly: nodes + way-refs bucket-written "
    "on node id, ref→node join SHUFFLE-FREE (no Exchange under the "
    "SortMergeJoin — the 100-TB ingest pattern), order-sensitive "
    "assembly checksums vs live SQL oracle",
)
def q45(spark, sf_dir):
    import re

    from pyspark.sql import Window as W

    from ..sources.bucketed import bucketed_join, write_bucketed

    tag = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir).strip("_")
    refs_tbl, nodes_tbl = f"q45_refs_{tag}", f"q45_nodes_{tag}"
    li = _t(spark, sf_dir, "lineitem")
    refs = li.select(
        F.col("l_orderkey").alias("way_id"),
        (
            F.row_number().over(
                W.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
            )
            - 1
        ).alias("pos"),
        F.col("l_partkey").alias("ref"),
    )
    nodes = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("ref"),
        _lat(F.col("p_partkey")).alias("lat"),
        _lon(F.col("p_partkey")).alias("lon"),
    )
    # ingest-side one-time bucketing on the join key (idempotent
    # overwrite); every later ref→node join is then Exchange-free
    write_bucketed(refs, refs_tbl, "ref", n_buckets=8)
    write_bucketed(nodes, nodes_tbl, "ref", n_buckets=8)
    j = bucketed_join(spark, refs_tbl, nodes_tbl, "ref")
    return j.groupBy("way_id").agg(
        F.count(F.lit(1)).alias("n_pts"),
        F.min_by("lat", "pos").alias("first_lat"),
        F.max_by("lon", "pos").alias("last_lon"),
        F.round(
            F.sum(F.col("lat") * (F.col("pos") + 1) * (F.col("pos") + 1)), 4
        ).alias("lat_poschk"),
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship pipeline for entry(): synthesized geotagged points from
    customer keys → hex cell + slippy tile + bbox-PIP against the
    deterministic admin squares → per-(box, tile) rollup."""
    # q21 lives in the extended registry since the round-4 catalog
    # restructure — look it up wherever it is registered (round 5: this
    # line KeyError'd and broke entry() for a round)
    q21_def = QUERIES.get("q21_bbox_pip") or QUERIES_EXTENDED["q21_bbox_pip"]
    q21_df = q21_def.fn(spark, sf_dir)
    c = _t(spark, sf_dir, "customer")
    from ..functions.geo import tile_x_col, tile_y_col

    pts = c.select(
        "c_custkey",
        _lat(F.col("c_custkey")).alias("lat"),
        _lon(F.col("c_custkey")).alias("lon"),
    )
    tiled = pts.select(
        "c_custkey",
        tile_x_col(F.col("lon"), 6).alias("x"),
        tile_y_col(F.col("lat"), 6).alias("y"),
    )
    return (
        q21_df.join(tiled, "c_custkey")
        .groupBy("box_id", "x", "y")
        .agg(F.count("*").alias("n_points"))
    )


# --- q46: perceptual-hash image near-dup --------------------------------
# Oracle design: only the INPUT (image_id, phash) rows are pinned —
# computed right here with numpy (render + variant + phash kernel, no
# Spark, no engine plan). The near-dup SEMANTICS (xor / bit_count /
# threshold / a<b ordering) run LIVE in DuckDB, so banding bugs,
# dropped candidates, or dedup mistakes in the Spark path cannot hide.
# The phash kernel itself is anchored independently of this query by
# the analytic image-stat checks behind q36/q37.


def _q46_inputs_sql() -> str:
    from ..functions.codecs import phash64
    from ..sources.images import render_image, variant_image

    rows = []
    for idx in range(72):
        rows.append(f"('img_{idx:012d}', CAST({phash64(render_image(idx))} AS BIGINT))")
        if idx % 3 == 0:
            rows.append(
                f"('var_{idx:012d}', CAST({phash64(variant_image(idx))} AS BIGINT))"
            )
    return "imgs(image_id, phash) AS (VALUES " + ", ".join(rows) + ")"


@q(
    "q46_image_neardup",
    f"""
    WITH {_q46_inputs_sql()}
    SELECT a.image_id AS image_a, b.image_id AS image_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
    FROM imgs a JOIN imgs b ON a.image_id < b.image_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 6
    """,
    "perceptual-hash image near-dup pairs (banded hamming join over the "
    "phash column — the image leg of the dedup family); oracle pins "
    "inputs only, pair semantics live in DuckDB",
)
def q46(spark, sf_dir):
    from ..operators.multimodal import image_neardup_pairs
    from ..sources.images import build_images_with_variants

    imgs = build_images_with_variants(spark, n_base=72, every=3, partitions=4)
    return image_neardup_pairs(imgs, max_hamming=6)


@q(
    "q47_pip_holes",
    # q21's squares, each with a concentric rectangular hole (the OSM
    # relation outer/inner multipolygon model); containment = in outer,
    # not in hole. Axis-aligned, so exact ray-cast == the half-open
    # range predicate on both legs (same equivalence q22 relies on).
    f"""
    WITH pts AS (
      SELECT c_custkey, {_SQL_LAT.format(k="c_custkey")} AS lat,
             {_SQL_LON.format(k="c_custkey")} AS lon
      FROM customer),
    boxes AS (
      SELECT CAST(r_regionkey AS BIGINT) AS box_id,
             -60.0 + r_regionkey * 25.0 AS minlat,
             -60.0 + r_regionkey * 25.0 + 20.0 AS maxlat,
             -150.0 + r_regionkey * 55.0 AS minlon,
             -150.0 + r_regionkey * 55.0 + 45.0 AS maxlon
      FROM region)
    SELECT c_custkey, box_id
    FROM pts JOIN boxes
      ON lat >= minlat AND lat < maxlat AND lon >= minlon AND lon < maxlon
     AND NOT (lat >= minlat + 5.0 AND lat < minlat + 15.0
              AND lon >= minlon + 10.0 AND lon < minlon + 35.0)
    """,
    "hole-aware PIP: outer rings minus inner-ring hits via left_anti "
    "composition (multipolygon outer/inner semantics, SURVEY §2.5 J4)",
)
def q47(spark, sf_dir):
    from ..operators.spatial_join import pip_join_with_holes

    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("point_id"),
        _lat(F.col("c_custkey")).alias("lat"),
        _lon(F.col("c_custkey")).alias("lon"),
    )
    r = _t(spark, sf_dir, "region")
    mnlat = -60.0 + F.col("r_regionkey") * 25.0
    mnlon = -150.0 + F.col("r_regionkey") * 55.0

    def square(minlat, maxlat, minlon, maxlon):
        return (
            F.array(minlat, minlat, maxlat, maxlat).alias("lats"),
            F.array(minlon, maxlon, maxlon, minlon).alias("lons"),
        )

    outer = r.select(
        F.col("r_regionkey").cast("long").alias("polygon_id"),
        *square(mnlat, mnlat + 20.0, mnlon, mnlon + 45.0),
    )
    holes = r.select(
        F.col("r_regionkey").cast("long").alias("polygon_id"),
        *square(mnlat + 5.0, mnlat + 15.0, mnlon + 10.0, mnlon + 35.0),
    )
    return pip_join_with_holes(c, outer, holes).select(
        F.col("point_id").alias("c_custkey"), F.col("polygon_id").alias("box_id")
    )


@q(
    "q48_super_relations",
    # region relations contain nation relations (type-2 members) which
    # contain customer "nodes": depth-0 rows are each nation's direct
    # members, depth-1 rows are the same members reached through the
    # region super-relation — plain joins in SQL, the iterative
    # explode ⋈ join expansion in Spark.
    f"""
    WITH custs AS (
      SELECT c_custkey, c_nationkey,
             {_SQL_LAT.format(k="c_custkey")} AS node_lat,
             {_SQL_LON.format(k="c_custkey")} AS node_lon,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) - 1
               AS morder
      FROM customer WHERE c_custkey % 10 = 0)
    SELECT 100000 + c_nationkey AS root_rel_id, 100000 + c_nationkey AS rel_id,
           0 AS depth, morder, c_custkey AS ref,
           'admin_centre' AS role, 0 AS member_type, node_lat, node_lon
    FROM custs
    UNION ALL
    SELECT 200000 + n_regionkey, 100000 + c_nationkey, 1, morder, c_custkey,
           'admin_centre', 0, node_lat, node_lon
    FROM custs JOIN nation ON n_nationkey = c_nationkey
    """,
    "bounded-depth super-relation resolution over a region→nation→"
    "customer relation hierarchy (J3 deep variant; live SQL oracle)",
)
def q48(spark, sf_dir):
    from pyspark.sql import types as T

    from ..operators.relations import resolve_members_deep

    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", "c_nationkey")
    )
    nodes = c.select(
        F.col("c_custkey").alias("id"),
        _lat(F.col("c_custkey")).alias("lat"),
        _lon(F.col("c_custkey")).alias("lon"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    member_t = "array<struct<ref:long, role:string, type:int>>"
    nation_rels = (
        c.groupBy("c_nationkey")
        .agg(F.array_sort(F.collect_list("c_custkey")).alias("ks"))
        .select(
            (F.lit(100000) + F.col("c_nationkey")).cast("long").alias("id"),
            F.transform(
                "ks",
                lambda k: F.struct(
                    k.alias("ref"),
                    F.lit("admin_centre").alias("role"),
                    F.lit(0).alias("type"),
                ),
            ).cast(member_t).alias("members"),
        )
    )
    region_rels = (
        _t(spark, sf_dir, "nation")
        .join(c.select("c_nationkey").distinct(), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_regionkey")
        .agg(F.array_sort(F.collect_list(F.lit(100000) + F.col("n_nationkey"))).alias("ks"))
        .select(
            (F.lit(200000) + F.col("n_regionkey")).cast("long").alias("id"),
            F.transform(
                "ks",
                lambda k: F.struct(
                    k.cast("long").alias("ref"),
                    F.lit("subarea").alias("role"),
                    F.lit(2).alias("type"),
                ),
            ).cast(member_t).alias("members"),
        )
    )
    relations = nation_rels.unionByName(region_rels)
    ways = spark.createDataFrame(
        [], T.StructType.fromDDL("id long, refs array<long>, tags map<string,string>")
    )
    out = resolve_members_deep(relations, nodes, ways, max_depth=2)
    return out.select(
        "root_rel_id",
        "rel_id",
        F.col("depth").cast("long").alias("depth"),
        F.col("morder").cast("long").alias("morder"),
        "ref",
        "role",
        F.col("member_type").cast("long").alias("member_type"),
        F.col("node_lat"),
        F.col("node_lon"),
    )


@q(
    "q49_asof_join",
    # oracle = DuckDB's NATIVE ASOF JOIN implementation — a fully
    # independent second engine for the temporal-join semantics
    """
    WITH dim AS (
      SELECT user_id, ts AS dim_ts, value AS state_value
      FROM events WHERE event_type = 'error')
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           strftime(d.dim_ts, '%Y-%m-%d %H:%M:%S.%f') AS asof_ts,
           d.state_value
    FROM events e ASOF LEFT JOIN dim d
      ON e.user_id = d.user_id AND e.ts >= d.dim_ts
    """,
    "as-of join: every event picks the latest same-user 'error' state "
    "at or before its timestamp (temporal feature lookup; oracle = "
    "DuckDB's native ASOF JOIN)",
)
def q49(spark, sf_dir):
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    dim = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("value").alias("state_value")
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts"), dim, on=["user_id"]
    )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", fmt).alias("ts"),
        F.date_format("asof_ts", fmt).alias("asof_ts"),
        "state_value",
    )


@q(
    "q50_range_join",
    # value-band interval join: events.value against overlapping nation
    # bands — the raw BETWEEN predicate is the whole oracle; the Spark
    # side must reproduce it through the bucket decomposition exactly
    """
    SELECT e.event_id, n.n_nationkey AS band_id, e.value
    FROM events e JOIN nation n
      ON e.value >= n.n_nationkey * 7.0
     AND e.value <= n.n_nationkey * 7.0 + 11.0
    """,
    "range (interval) join via bucket decomposition: equi-join on "
    "floor(value/w) buckets + exact filter — never a cartesian "
    "(engine-extra; oracle = the raw BETWEEN predicate)",
)
def q50(spark, sf_dir):
    from ..operators.interval import range_join

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    bands = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("band_id"),
        (F.col("n_nationkey") * 7.0).alias("lo"),
        (F.col("n_nationkey") * 7.0 + 11.0).alias("hi"),
    )
    # bucket_width pinned to the (known, constant) band span: every
    # band is exactly 11.0 wide, so this equals the autotune's mean-span
    # result while skipping its driver aggregate job — the width is a
    # physical knob only, the result set is invariant (interval.py)
    return range_join(ev, bands, "value", "lo", "hi", bucket_width=11.0).select(
        "event_id", "band_id", "value"
    )


@q(
    "q51_image_neardup_flags",
    # inputs pinned (same numpy-computed phashes as q46), dup-flag
    # semantics live: is_dup(a) = min hamming to any LEXICOGRAPHICALLY
    # EARLIER image ≤ 6 (the stream's deterministic arrival order)
    f"""
    WITH {_q46_inputs_sql()},
    d AS (
      SELECT a.image_id AS image_id,
             min(bit_count(xor(a.phash, b.phash))) AS mh
      FROM imgs a JOIN imgs b ON b.image_id < a.image_id
      GROUP BY a.image_id)
    SELECT i.image_id,
           coalesce(mh <= 6, FALSE) AS is_dup,
           CAST(CASE WHEN mh <= 6 THEN mh END AS BIGINT) AS hamming
    FROM imgs i LEFT JOIN d ON d.image_id = i.image_id
    """,
    "streaming-order image near-dup flags (batch twin of the stateful "
    "banded stream operator; min-hamming-vs-earlier live in DuckDB)",
)
def q51(spark, sf_dir):
    from ..sources.images import build_images_with_variants
    from ..streaming.images import image_neardup_batch, neardup_flags_from_band_rows

    imgs = build_images_with_variants(spark, n_base=72, every=3, partitions=4)
    flags = neardup_flags_from_band_rows(
        image_neardup_batch(imgs.select("image_id", "phash"), max_hamming=6)
    )
    return flags.select("image_id", "is_dup", F.col("hamming").cast("long").alias("hamming"))


# --- q52/q53: A/V multimodal legs ---------------------------------------
# Oracle evidence model (same standard as q36/q37/q46): expected values
# are computed IN-PROCESS from the generator's RAW arrays — no video
# container, no WAV bytes, no Spark — so the engine's full byte path
# (encode container → Arrow batch → random-access frame decode /
# RIFF walk → feature kernels) is checked against data that never went
# through it. Kernel definitions themselves are anchored analytically
# in tests (pure-tone RMS=A/√2, ZCR=2f/sr, centroid=f; lossless frame
# round trips).


def _q52_expected_sql() -> str:
    import numpy as np

    from ..sources.av import render_video

    rows = []
    for idx in range(12):
        frames = render_video(idx, n_frames=8)
        for i in range(0, 8, 2):
            m = float(frames[i].astype(np.float64).mean())
            rows.append(f"('vid_{idx:08d}', {i}, {m!r})")
    return "expected(video_id, frame_index, mean_rgb) AS (VALUES " + ", ".join(rows) + ")"


@q(
    "q52_frame_sample",
    f"""
    WITH {_q52_expected_sql()}
    SELECT video_id, CAST(frame_index AS BIGINT) AS frame_index,
           CAST(mean_rgb AS DOUBLE) AS mean_rgb
    FROM expected
    """,
    "video frame sampling (every 2nd frame, random-access container "
    "decode) + per-frame mean; oracle = stats from the generator's raw "
    "frames, bypassing the container/codec path entirely",
)
def q52(spark, sf_dir):
    # stats-direct variant (round 4, VERDICT r3 nit #4): same
    # random-access container decode, no intermediate frame re-encode —
    # mean of the lossless round trip ≡ mean of the raw frame, so the
    # generator-side oracle is unchanged. sample_frames (frame_bytes
    # output) keeps its own pytest coverage.
    from ..operators.multimodal import sample_frame_stats
    from ..sources.av import build_videos_df

    vids = build_videos_df(spark, n=12, n_frames=8, partitions=4)
    return sample_frame_stats(vids, every=2).select(
        "video_id", "frame_index", "mean_rgb"
    )


def _q53_expected_sql() -> str:
    from ..functions.av import audio_rms, audio_spectral_centroid, audio_zcr
    from ..sources.av import render_tone

    rows = []
    for idx in range(24):
        pcm = render_tone(idx)
        rows.append(
            f"('clip_{idx:08d}', {audio_rms(pcm)!r}, {audio_zcr(pcm)!r}, "
            f"{audio_spectral_centroid(pcm, 8000)!r})"
        )
    return "expected(clip_id, rms, zcr, centroid_hz) AS (VALUES " + ", ".join(rows) + ")"


@q(
    "q53_audio_features",
    f"""
    WITH {_q53_expected_sql()}
    SELECT clip_id, CAST(rms AS DOUBLE) AS rms, CAST(zcr AS DOUBLE) AS zcr,
           CAST(centroid_hz AS DOUBLE) AS centroid_hz FROM expected
    """,
    "audio feature extraction (real RIFF/WAVE PCM16 decode → RMS / "
    "zero-crossing rate / spectral centroid); oracle = features from "
    "the generator's raw samples, bypassing the WAV byte path; kernels "
    "anchored analytically on pure tones in tests",
)
def q53(spark, sf_dir):
    from ..operators.multimodal import audio_features
    from ..sources.av import build_audio_df

    clips = build_audio_df(spark, n=24, partitions=4)
    return audio_features(clips)


# --- q54: Douglas-Peucker simplification --------------------------------


def _q54_expected_sql(eps: float = 20.0) -> str:
    """Expected per-group simplification stats computed by a CLEAN-ROOM
    RECURSIVE Douglas-Peucker implementation written here — independent
    of the engine kernel's iterative numpy formulation
    (functions/simplify.py) — over the same fixed synthesized
    polylines. Input is sf-independent (pure integer-derived coords)."""

    def perp(px, py, ax, ay, bx, by):
        dx, dy = bx - ax, by - ay
        if dx == 0.0 and dy == 0.0:
            return ((px - ax) ** 2 + (py - ay) ** 2) ** 0.5
        return abs(dy * px - dx * py + bx * ay - by * ax) / (dx * dx + dy * dy) ** 0.5

    def rec(lats, lons, i0, i1, keep):
        if i1 - i0 < 2:
            return
        best, bj = -1.0, -1
        for j in range(i0 + 1, i1):
            d = perp(lons[j], lats[j], lons[i0], lats[i0], lons[i1], lats[i1])
            if d > best:
                best, bj = d, j
        if best > eps:
            keep.add(bj)
            rec(lats, lons, i0, bj, keep)
            rec(lats, lons, bj, i1, keep)

    rows = []
    for g in range(10):
        keys = [g * 1000 + i for i in range(120)]
        lats = [((k * 9973) % 1700000) / 10000.0 - 85.0 for k in keys]
        lons = [((k * 7919) % 3600000) / 10000.0 - 180.0 for k in keys]
        keep = {0, len(keys) - 1}
        rec(lats, lons, 0, len(keys) - 1, keep)
        chk = sum((i + 1) * (i + 1) for i in keep)
        rows.append(f"({g}, {len(keys)}, {len(keep)}, {chk})")
    return (
        "expected(group_id, n_in, n_out, kept_chk) AS (VALUES " + ", ".join(rows) + ")"
    )


@q(
    "q54_dp_simplify",
    f"""
    WITH {_q54_expected_sql()}
    SELECT CAST(group_id AS BIGINT) AS group_id, CAST(n_in AS BIGINT) AS n_in,
           CAST(n_out AS BIGINT) AS n_out, CAST(kept_chk AS BIGINT) AS kept_chk
    FROM expected
    """,
    "Douglas-Peucker polyline simplification (iterative numpy kernel); "
    "oracle = a clean-room RECURSIVE DP implementation over the same "
    "fixed integer-derived polylines — two independent codings of the "
    "published algorithm must agree point-for-point",
)
def q54(spark, sf_dir):
    from ..functions.simplify import dp_keep_mask

    pts = spark.range(10 * 1000).select(
        (F.col("id") / 1000).cast("long").alias("group_id"),
        (F.col("id") % 1000).alias("i"),
    ).filter(F.col("i") < 120).select(
        "group_id",
        F.col("i").cast("int").alias("i"),
        _lat(F.col("group_id") * 1000 + F.col("i")).alias("lat"),
        _lon(F.col("group_id") * 1000 + F.col("i")).alias("lon"),
    )
    lines = pts.groupBy("group_id").agg(
        F.array_sort(F.collect_list(F.struct("i", "lat", "lon"))).alias("_p")
    ).select(
        "group_id",
        F.transform("_p", lambda p: p.lat).alias("lats"),
        F.transform("_p", lambda p: p.lon).alias("lons"),
    )

    schema = T.StructType(
        [
            T.StructField("group_id", T.LongType(), False),
            T.StructField("n_in", T.LongType(), False),
            T.StructField("n_out", T.LongType(), False),
            T.StructField("kept_chk", T.LongType(), False),
        ]
    )

    def run(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            rows = []
            for gid, la, lo in zip(pdf["group_id"], pdf["lats"], pdf["lons"]):
                la = np.asarray(la, dtype=np.float64)
                lo = np.asarray(lo, dtype=np.float64)
                m = dp_keep_mask(la, lo, 20.0)
                idx = np.flatnonzero(m) + 1
                rows.append((int(gid), len(la), int(m.sum()), int((idx * idx).sum())))
            yield pd.DataFrame(rows, columns=["group_id", "n_in", "n_out", "kept_chk"])

    return lines.mapInPandas(run, schema)


@q(
    "q55_jpeg_decode",
    None,  # huffman+IDCT kernel is not SQL-expressible → pinned golden
    "baseline-JFIF decode (ITU T.81 huffman + batched IDCT, real bytes "
    "incl. 4:2:0 + restart markers) + channel stats + PSNR vs truth "
    "(round 4; javax.imageio cross-validation in tests/test_jpeg.py)",
)
def q55(spark, sf_dir):
    from ..operators.multimodal import jpeg_decode_report
    from ..sources.images import build_jpeg_images_df

    imgs = build_jpeg_images_df(spark, n=48, partitions=4)
    return jpeg_decode_report(imgs).select(
        "image_id",
        "n_bytes",
        F.round("mean_r", 2).alias("mean_r"),
        F.round("mean_g", 2).alias("mean_g"),
        F.round("mean_b", 2).alias("mean_b"),
        F.round("psnr_db", 1).alias("psnr_db"),
        "psnr_ok",
        "phash_hamming",
    )


# --- extended catalog additions (round 4: beyond the 50-slot driver
# cap — validated by tools/crosscheck.py, see COVERAGE.md §catalog) ---


@q_ext(
    "q56_image_dedup_keep",
    # inputs pinned (same builder as q46: numpy render+phash, no Spark);
    # pair semantics AND the transitive-closure keep decision run LIVE
    # in DuckDB (recursive CTE, q39 pattern)
    f"""
    WITH RECURSIVE {_q46_inputs_sql()},
    prs AS (
      SELECT a.image_id AS id_a, b.image_id AS id_b
      FROM imgs a JOIN imgs b ON a.image_id < b.image_id
      WHERE bit_count(xor(a.phash, b.phash)) <= 6),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION SELECT id_b, id_a FROM prs),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
    comp AS (
      SELECT src AS image_id, least(src, min(dst)) AS component
      FROM reach GROUP BY src)
    SELECT i.image_id,
           (c.component IS NULL OR c.component = i.image_id) AS keep
    FROM imgs i LEFT JOIN comp c ON c.image_id = i.image_id
    """,
    "end-to-end image dedup keep-list: pHash pairs → connected "
    "components → canonical keep flags (round 4; recursive-CTE oracle "
    "over pinned inputs)",
)
def q56(spark, sf_dir):
    from ..operators.multimodal import image_dedup_keep_list
    from ..sources.images import build_images_with_variants

    imgs = build_images_with_variants(spark, n_base=72, every=3, partitions=4)
    return image_dedup_keep_list(imgs, max_hamming=6).withColumnRenamed(
        "doc_id", "image_id"
    )


@q_ext(
    "q57_geom_measures",
    # deterministic synthesized ways from orders keys (both engines
    # build the same arrays); length = haversine fold, area = shoelace
    # with cos(mean-lat) scaling, centroid = vertex mean. floor(x·10^d
    # + 0.5)/10^d rounding — identical IEEE ops in both engines (q02).
    f"""
    WITH ways AS (
      SELECT o_orderkey AS way_id,
             CAST(3 + o_orderkey % 5 AS BIGINT) AS m,
             list_transform(range(1, CAST(3 + o_orderkey % 5 AS BIGINT) + 1),
               k -> {_SQL_LAT.format(k="(o_orderkey * 31 + k * 7)")}) AS lats,
             list_transform(range(1, CAST(3 + o_orderkey % 5 AS BIGINT) + 1),
               k -> {_SQL_LON.format(k="(o_orderkey * 31 + k * 7)")}) AS lons
      FROM orders WHERE o_orderkey % 37 = 0),
    nums AS (SELECT unnest(range(1, 8)) AS i),
    segs AS (
      SELECT way_id,
             {_haversine_sql("list_extract(lats, CAST(i AS INT))",
                             "list_extract(lons, CAST(i AS INT))",
                             "list_extract(lats, CAST(i AS INT) + 1)",
                             "list_extract(lons, CAST(i AS INT) + 1)")} AS d
      FROM ways JOIN nums ON i <= m - 1),
    lens AS (SELECT way_id, sum(d) AS len FROM segs GROUP BY way_id),
    crs AS (
      SELECT way_id,
             list_extract(lons, CAST(i AS INT)) * list_extract(lats, CAST(i % m + 1 AS INT))
           - list_extract(lons, CAST(i % m + 1 AS INT)) * list_extract(lats, CAST(i AS INT)) AS c
      FROM ways JOIN nums ON i <= m),
    ars AS (SELECT way_id, abs(sum(c)) / 2 AS half_cross FROM crs GROUP BY way_id)
    SELECT w.way_id,
           CAST(w.m AS BIGINT) AS n_points,
           floor(l.len * 10 + 0.5) / 10 AS length_m,
           floor(a.half_cross
                 * (pi() * 6371000.0 / 180.0) * cos(radians(list_sum(w.lats) / w.m))
                 * (pi() * 6371000.0 / 180.0) + 0.5) AS area_m2,
           floor(list_sum(w.lats) / w.m * 1000000 + 0.5) / 1000000 AS c_lat,
           floor(list_sum(w.lons) / w.m * 1000000 + 0.5) / 1000000 AS c_lon
    FROM ways w JOIN lens l USING (way_id) JOIN ars a USING (way_id)
    """,
    "geometry measures over synthesized way arrays: haversine path "
    "length, shoelace ring area (cos-lat scaled), vertex centroid — "
    "pure JVM Column math vs live SQL mirror (round 4)",
)
def q57(spark, sf_dir):
    from ..functions.geo import centroid_col, path_length_m_col, ring_area_m2_col

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 37 == 0)
    m = (F.lit(3) + F.col("o_orderkey") % 5).cast("long")
    key = lambda k: F.col("o_orderkey") * 31 + k * 7  # noqa: E731
    ways = o.select(
        F.col("o_orderkey").alias("way_id"),
        m.alias("m"),
        F.transform(F.sequence(F.lit(1), m), lambda k: _lat(key(k))).alias("lats"),
        F.transform(F.sequence(F.lit(1), m), lambda k: _lon(key(k))).alias("lons"),
    )
    return ways.select(
        "way_id",
        F.col("m").alias("n_points"),
        (F.floor(path_length_m_col(F.col("lats"), F.col("lons")) * 10 + 0.5) / 10).alias(
            "length_m"
        ),
        F.floor(ring_area_m2_col(F.col("lats"), F.col("lons")) + 0.5).alias("area_m2"),
        (F.floor(centroid_col(F.col("lats")) * 1000000 + 0.5) / 1000000).alias("c_lat"),
        (F.floor(centroid_col(F.col("lons")) * 1000000 + 0.5) / 1000000).alias("c_lon"),
    )


@q_ext(
    "q58_ann_quantized",
    # live mirror of the int8 quantizer (floor(x/s*127+0.5), identical
    # IEEE ops both engines) + quantized-cosine top-k, q32's shape
    """
    WITH sc AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS s
      FROM embeddings),
    qv AS (
      SELECT vec_id,
             CASE WHEN s = 0
                  THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
                  ELSE list_transform(embedding,
                       x -> floor(CAST(x AS DOUBLE) / s * 127 + 0.5))
             END AS qvec
      FROM sc)
    SELECT * FROM (
      SELECT q.vec_id AS query_id, v.vec_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY floor(list_cosine_similarity(v.qvec, q.qvec) * 10000 + 0.5)
                          / 10000 DESC,
                        v.vec_id) AS rank,
             floor(list_cosine_similarity(v.qvec, q.qvec) * 10000 + 0.5) / 10000
               AS cosine_q
      FROM qv v CROSS JOIN (SELECT * FROM qv WHERE vec_id < 8) q
      WHERE v.vec_id != q.vec_id)
    WHERE rank <= 5
    """,
    "int8-quantized brute-force cosine top-k (round 4: the 8x "
    "storage/shuffle reduction path for 100-TB embedding tables; "
    "quantizer + scoring mirrored live in SQL; recall vs exact float "
    "pinned in pytest)",
)
def q58(spark, sf_dir):
    from ..operators.ann import ann_bruteforce_topk_quantized

    e = _t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_bruteforce_topk_quantized(e, qs, k=5)


@q_ext(
    "q59_prefix_filter_jaccard",
    # live oracle = BRUTE-FORCE all-pairs distinct-token Jaccard with
    # the same integer threshold (5i >= 4u for tau=4/5) — the prefix
    # filter must lose nothing vs it (exact-join guarantee)
    """
    WITH toks AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
        FROM documents)
      WHERE length(w) > 0),
    sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM toks a JOIN toks b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT x.id_a, x.id_b,
           floor(x.i * 1.0 / (sa.n + sb.n - x.i) * 10000 + 0.5) / 10000 AS jaccard
    FROM inter x
    JOIN sizes sa ON sa.doc_id = x.id_a
    JOIN sizes sb ON sb.doc_id = x.id_b
    WHERE x.i * 5 >= (sa.n + sb.n - x.i) * 4
    """,
    "exact Jaccard similarity self-join via Bayardo prefix filtering "
    "(rarest-token prefixes → equi-join candidates, no LSH, no false "
    "negatives; round 4) vs a brute-force all-pairs oracle",
)
def q59(spark, sf_dir):
    from ..operators.dedup import prefix_filter_jaccard_pairs

    return prefix_filter_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.8
    )


@q_ext(
    "q60_redaction",
    # synthesized PII-shaped text from orders keys (identical string
    # construction both engines); the redaction chain + audit counts
    # run live in DuckDB with the same RE2 patterns ('g' = replace all,
    # Spark's regexp_replace default)
    """
    WITH src AS (
      SELECT o_orderkey AS doc_id,
             'contact user' || CAST(o_orderkey AS VARCHAR)
               || '@example.com or https://ex.org/o/'
               || CAST(o_orderkey AS VARCHAR) || ' ref '
               || lpad(CAST(o_orderkey AS VARCHAR), 9, '0') || ' done' AS t
      FROM orders WHERE o_orderkey % 29 = 0)
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^ \\t\\n]+', '<URL>', 'g'),
             '[0-9]{6,}', '<NUM>', 'g') AS redacted,
           CAST(len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, 'https?://[^ \\t\\n]+')) AS BIGINT) AS n_url,
           CAST(len(regexp_extract_all(t, '[0-9]{6,}')) AS BIGINT) AS n_num
    FROM src
    """,
    "PII-shaped redaction pass (emails/URLs/long digit runs → typed "
    "placeholders, JVM regexp chain) + per-category audit counts "
    "(round 4) vs a live SQL mirror",
)
def q60(spark, sf_dir):
    from ..functions.text import redact_col, redact_counts_cols

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 29 == 0)
    k = F.col("o_orderkey").cast("string")
    t = F.concat(
        F.lit("contact user"), k, F.lit("@example.com or https://ex.org/o/"),
        k, F.lit(" ref "), F.lpad(k, 9, "0"), F.lit(" done"),
    )
    src = o.select(F.col("o_orderkey").alias("doc_id"), t.alias("t"))
    counts = redact_counts_cols(F.col("t"))
    return src.select(
        "doc_id",
        redact_col(F.col("t")).alias("redacted"),
        counts["email"].cast("long").alias("n_email"),
        counts["url"].cast("long").alias("n_url"),
        counts["num"].cast("long").alias("n_num"),
    )


_Q61_TERMS = ("join", "hash", "vector", "shuffle", "broadcast")


@q_ext(
    "q61_bm25_topk",
    # verbatim BM25 mirror (same tokenization, same +1-idf formula,
    # same floor rounding and doc-id tie-break)
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents WHERE length(trim(text)) > 0),
    lens AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT (SELECT count(*) FROM documents) AS n,
                     (SELECT avg(dl) FROM lens) AS avgdl),
    qt AS (SELECT unnest({list(_Q61_TERMS)!r}) AS w),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
           WHERE w IN (SELECT w FROM qt) GROUP BY doc_id, w),
    idf AS (SELECT w, count(DISTINCT doc_id) AS df FROM toks
            WHERE w IN (SELECT w FROM qt) GROUP BY w),
    scored AS (
      SELECT t.doc_id,
             floor(sum(
               ln((s.n - i.df + 0.5) / (i.df + 0.5) + 1.0)
               * (t.tf * (1.2 + 1.0)
                  / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)))
             ) * 10000 + 0.5) / 10000 AS score
      FROM tf t JOIN idf i USING (w) JOIN lens l USING (doc_id)
      CROSS JOIN stats s
      GROUP BY t.doc_id)
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
             AS rank,
           score
    FROM scored
    QUALIFY rank <= 10
    """,
    "Okapi BM25 lexical top-k over the documents table (round 4: "
    "query-based corpus slicing; pure DataFrame algebra, no UDFs) vs a "
    "verbatim live SQL mirror",
)
def q61(spark, sf_dir):
    from ..operators.ranking import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"), list(_Q61_TERMS), k=10
    ).withColumn("rank", F.col("rank").cast("long"))


@q_ext(
    "q62_stats_aggregates",
    # statistical aggregate surface: correlation, sample covariance,
    # stddev, regression slope/intercept — both engines' native aggs
    """
    SELECT l_returnflag,
           floor(corr(l_quantity, l_extendedprice) * 10000 + 0.5) / 10000
             AS corr_qty_price,
           floor(covar_samp(l_quantity, l_discount) * 10000 + 0.5) / 10000
             AS covar_qty_disc,
           floor(stddev_samp(l_quantity) * 10000 + 0.5) / 10000 AS std_qty,
           floor(regr_slope(l_extendedprice, l_quantity) * 10000 + 0.5) / 10000
             AS slope_price_on_qty,
           floor(regr_intercept(l_extendedprice, l_quantity) * 100 + 0.5) / 100
             AS icept_price_on_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    "statistical aggregates (corr / covar_samp / stddev / regr_slope / "
    "regr_intercept) per group (round 4; engine §2.6 breadth)",
)
def q62(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    r4 = lambda c: F.floor(c * 10000 + 0.5) / 10000  # noqa: E731
    return li.groupBy("l_returnflag").agg(
        r4(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
        r4(F.covar_samp("l_quantity", "l_discount")).alias("covar_qty_disc"),
        r4(F.stddev_samp("l_quantity")).alias("std_qty"),
        r4(F.regr_slope("l_extendedprice", "l_quantity")).alias("slope_price_on_qty"),
        (F.floor(F.regr_intercept("l_extendedprice", "l_quantity") * 100 + 0.5) / 100).alias(
            "icept_price_on_qty"
        ),
    )


@q_ext(
    "q63_locf_resample",
    # oracle: generate_series hourly grid + DuckDB's NATIVE ASOF JOIN
    # (independent second engine for the gap-fill semantics, like q49)
    """
    WITH bounds AS (
      SELECT user_id,
             date_trunc('hour', min(ts)) AS t0,
             date_trunc('hour', max(ts)) AS t1
      FROM events WHERE user_id < 40 GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS gts
      FROM bounds),
    obs AS (SELECT user_id, ts AS ots, value FROM events WHERE user_id < 40)
    SELECT g.user_id,
           strftime(g.gts, '%Y-%m-%d %H:%M:%S') AS grid_ts,
           floor(o.value * 10000 + 0.5) / 10000 AS value_locf
    FROM grid g ASOF LEFT JOIN obs o
      ON g.user_id = o.user_id AND g.gts >= o.ots
    """,
    "time-series LOCF resampling: hourly grid per key + last-"
    "observation-carried-forward via the as-of operator (round 4; "
    "oracle = DuckDB native ASOF JOIN, independent engine)",
)
def q63(spark, sf_dir):
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.date_trunc("hour", F.max("ts")).alias("t1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("t0"), F.col("t1"), F.expr("INTERVAL 1 HOUR"))
        ).alias("ts"),
    )
    obs = ev.select("user_id", "ts", F.col("value").alias("obs_value"))
    out = asof_join(grid, obs, on=["user_id"], direction="backward")
    return out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("grid_ts"),
        (F.floor(F.col("obs_value") * 10000 + 0.5) / 10000).alias("value_locf"),
    )


# --- q64: HTML → text extraction + boilerplate scoring ------------------
# The documents table is plain text, so each engine synthesizes the SAME
# deterministic HTML page around it (shared template constants below),
# then runs the extraction chain — making the whole path live-mirrored.
_Q64_PRE = (
    '<html><head><title>T</title><style>p {color: red}</style>'
    '<script type="a">var x = 1 < 2 && y;</script></head><body>'
    "<!-- hidden comment --><nav>"
)
_Q64_NAV = '<a href="/l">Nav Item</a>'
_Q64_MID = '</nav><h1>Header &amp; "Q" &#39;s</h1><p>'
_Q64_END = '</p><a href="/m">More &gt; Stuff</a></body></html>'


def _q64_oracle() -> str:
    from ..functions.html import (
        anchor_text_sql,
        html_to_text_sql,
        n_links_sql,
    )

    def sq(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    html_expr = (
        f"concat({sq(_Q64_PRE)}, "
        f"repeat({sq(_Q64_NAV)}, CAST(doc_id % 4 AS INT)), "
        f"{sq(_Q64_MID)}, text, {sq(_Q64_END)})"
    )
    dens = (
        "CASE WHEN length(t) > 0 THEN CAST(length(at) AS DOUBLE) / length(t) "
        "ELSE 1.0 END"
    )
    ratio = (
        "CASE WHEN length(html) > 0 THEN CAST(length(t) AS DOUBLE) / length(html) "
        "ELSE 0.0 END"
    )
    return f"""
    WITH hh AS (SELECT doc_id, {html_expr} AS html FROM documents),
    tt AS (SELECT doc_id, html,
                  {html_to_text_sql('html')} AS t,
                  {anchor_text_sql('html')} AS at
           FROM hh)
    SELECT doc_id, t AS text_clean,
           CAST({n_links_sql('html')} AS BIGINT) AS n_links,
           floor(({dens}) * 10000 + 0.5) / 10000 AS link_density,
           floor(({ratio}) * 10000 + 0.5) / 10000 AS text_ratio,
           (({dens}) > 0.5 OR length(t) < 20) AS is_boilerplate
    FROM tt
    """


@q_ext(
    "q64_html_extract",
    _q64_oracle(),
    "HTML → text extraction + boilerplate scoring (round 5: comment/"
    "script/style strip, tag strip, entity decode, link-density "
    "heuristic — a pure JVM regexp chain in the Java-regex∩RE2 subset, "
    "mirrored VERBATIM live in DuckDB)",
)
def q64(spark, sf_dir):
    from ..functions.html import html_stats_df

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(_Q64_PRE),
        F.repeat(F.lit(_Q64_NAV), (F.col("doc_id") % 4).cast("int")),
        F.lit(_Q64_MID),
        F.col("text"),
        F.lit(_Q64_END),
    )
    # staged-projection variant (r6): text/anchor-text computed once as
    # columns instead of re-deriving the regexp chain per stat — same
    # values, ~14% less full-compute work (functions/html.py)
    s = html_stats_df(docs, html, keep_cols=("doc_id",))
    r4 = lambda c: F.floor(c * 10000 + 0.5) / 10000  # noqa: E731
    return s.select(
        "doc_id",
        F.col("text").alias("text_clean"),
        F.col("n_links").cast("long").alias("n_links"),
        r4(F.col("link_density")).alias("link_density"),
        r4(F.col("text_ratio")).alias("text_ratio"),
        "is_boilerplate",
    )


@q_ext(
    "q65_bpe_tokens",
    None,  # BPE merge application is not ANSI-SQL-expressible → pinned
    "subword (BPE) token budget per document vs whitespace words "
    "(round 5: classic Sennrich BPE trained in-repo on the corpus, "
    "merge table committed as a fixture; per-DISTINCT-word Arrow "
    "counting + vocab join; clean-room second encoder pins the "
    "semantics in pytest)",
)
def q65(spark, sf_dir):
    from ..functions.bpe import subword_token_counts

    return subword_token_counts(_t(spark, sf_dir, "documents"))


def _q66_oracle() -> str:
    from ..operators.sharding import shard_key_poly_sql, shard_md5_sql

    return f"""
    WITH k AS (SELECT doc_id, {shard_md5_sql('doc_id', 42)} AS h FROM documents),
    keys AS (SELECT doc_id, CAST({shard_key_poly_sql('h')} AS BIGINT) AS shard_key
             FROM k)
    SELECT doc_id, shard_key,
           CAST(row_number() OVER (ORDER BY shard_key, doc_id) - 1 AS BIGINT)
             AS shard_rank,
           CAST((row_number() OVER (ORDER BY shard_key, doc_id) - 1) % 8 AS INT)
             AS shard,
           CAST(shard_key % 8 AS INT) AS shard_hash
    FROM keys
    """


@q_ext(
    "q66_shuffle_shard",
    _q66_oracle(),
    "deterministic shuffle-shard export assignment (round 5: seeded "
    "md5 key, exact-balanced global-rank shards AND hash-mod shards, "
    "both mirrored live in SQL; the distributed global rank uses "
    "range-repartition + per-partition offsets, no single-partition "
    "window)",
)
def q66(spark, sf_dir):
    from ..operators.sharding import shuffle_shard_balanced

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    out = shuffle_shard_balanced(docs, 8, seed=42)
    return out.select(
        "doc_id",
        "shard_key",
        "shard_rank",
        "shard",
        F.pmod(F.col("shard_key"), F.lit(8)).cast("int").alias("shard_hash"),
    )


def _q67_oracle() -> str:
    # the FULL live MinHash SQL pipeline (q29's oracle) nested as a CTE;
    # old corpus = doc_id % 4 != 0, today's batch = doc_id % 4 == 0
    return f"""
    WITH pairs AS ({_minhash_oracle_sql()})
    SELECT d.doc_id,
           EXISTS(SELECT 1 FROM pairs p
                  WHERE (p.id_a = d.doc_id AND p.id_b % 4 != 0)
                     OR (p.id_b = d.doc_id AND p.id_a % 4 != 0))
             AS dup_of_corpus,
           EXISTS(SELECT 1 FROM pairs p
                  WHERE p.id_b = d.doc_id AND p.id_a % 4 = 0)
             AS dup_in_batch,
           NOT (EXISTS(SELECT 1 FROM pairs p
                       WHERE (p.id_a = d.doc_id AND p.id_b % 4 != 0)
                          OR (p.id_b = d.doc_id AND p.id_a % 4 != 0))
                OR EXISTS(SELECT 1 FROM pairs p
                          WHERE p.id_b = d.doc_id AND p.id_a % 4 = 0))
             AS kept
    FROM documents d WHERE d.doc_id % 4 = 0
    """


@q_ext(
    "q67_incremental_dedup",
    _q67_oracle(),
    "incremental dedup of a new batch against the committed corpus "
    "signature index + itself (round 5: the production dedup shape — "
    "band-bucket probe join against the persisted index, verified "
    "est >= tau, deterministic smaller-id rule within the batch; "
    "oracle nests the full live MinHash SQL pipeline)",
)
def q67(spark, sf_dir):
    from ..operators.dedup import incremental_dedup, minhash_index

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    return incremental_dedup(new, minhash_index(old), threshold=0.5)


def _q68_oracle() -> str:
    from ..functions.html import (
        anchor_text_sql,
        html_to_text_sql,
        n_links_sql,
    )
    from ..operators.sharding import shard_key_poly_sql, shard_md5_sql

    def sq(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    html_expr = (
        f"concat({sq(_Q64_PRE)}, "
        f"repeat({sq(_Q64_NAV)}, CAST(doc_id % 4 AS INT)), "
        f"{sq(_Q64_MID)}, text, {sq(_Q64_END)})"
    )
    return f"""
    WITH hh AS (SELECT doc_id, {html_expr} AS html FROM documents),
    ex0 AS (SELECT doc_id, html,
                   {html_to_text_sql('html')} AS text,
                   {anchor_text_sql('html')} AS at
            FROM hh),
    ex1 AS (SELECT doc_id, text,
                   CAST({n_links_sql('html')} AS BIGINT) AS n_links,
                   CASE WHEN length(text) > 0
                        THEN CAST(length(at) AS DOUBLE) / length(text)
                        ELSE 1.0 END AS dens
            FROM ex0),
    ex AS (SELECT doc_id, text, n_links,
                  floor(dens * 10000 + 0.5) / 10000 AS link_density
           FROM ex1 WHERE NOT (dens > 0.5 OR length(text) < 20)),
    exact AS (SELECT e.* FROM ex e
              JOIN (SELECT md5(text) AS h, min(doc_id) AS doc_id
                    FROM ex GROUP BY md5(text)) m
              ON md5(e.text) = m.h AND e.doc_id = m.doc_id),
    pairs AS ({_minhash_oracle_sql('exact')}),
    surv AS (SELECT * FROM exact e WHERE NOT EXISTS
               (SELECT 1 FROM pairs p WHERE p.id_b = e.doc_id)),
    k AS (SELECT doc_id, {shard_md5_sql('doc_id', 42)} AS h FROM surv),
    keys AS (SELECT doc_id, CAST({shard_key_poly_sql('h')} AS BIGINT)
                    AS shard_key FROM k)
    SELECT s.doc_id, s.text, s.n_links, s.link_density, keys.shard_key,
           CAST(keys.shard_key % 8 AS INT) AS shard
    FROM surv s JOIN keys USING (doc_id)
    """


@q_ext(
    "q68_corpus_pipeline",
    _q68_oracle(),
    "END-TO-END training-corpus pipeline (round 5 capstone): HTML "
    "synthesis → extraction + boilerplate filter → exact dedup → "
    "MinHash near-dup (batch mode) → seeded shuffle-shard — the whole "
    "composed path mirrored LIVE in one DuckDB query (the MinHash "
    "pipeline nested over the extracted-text CTE)",
)
def q68(spark, sf_dir):
    from ..pipelines.corpus import build_corpus

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit(_Q64_PRE),
            F.repeat(F.lit(_Q64_NAV), (F.col("doc_id") % 4).cast("int")),
            F.lit(_Q64_MID),
            F.col("text"),
            F.lit(_Q64_END),
        ).alias("html"),
    )
    out = build_corpus(
        pages,
        index=None,
        dedup_threshold=0.5,
        n_shards=8,
        seed=42,
        with_token_budget=False,
    )
    return out.select(
        "doc_id", "text", "n_links", "link_density", "shard_key", "shard"
    )


def _q69_oracle() -> str:
    # dup-of-earlier semantics fully live: the q29 MinHash pipeline
    # nested as pairs, best earlier match = max est then smallest id.
    # est = k/64 terminates exactly at 6 decimals (64 = 2^6), so
    # round() here and the engine's floor(x·1e6+0.5)/1e6 agree.
    return f"""
    WITH pairs AS ({_minhash_oracle_sql()}),
    best AS (
      SELECT id_b AS doc_id, id_a AS dup_of, est_jaccard AS est,
             row_number() OVER (PARTITION BY id_b
                                ORDER BY est_jaccard DESC, id_a ASC) AS rk
      FROM pairs)
    SELECT d.doc_id, b.doc_id IS NOT NULL AS is_dup, b.dup_of, b.est
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (doc_id)
    """


@q_ext(
    "q69_text_neardup_stream_flags",
    _q69_oracle(),
    "streaming-order text near-dup flags (round 5: batch twin of the "
    "stateful per-bucket MinHash stream operator — dup-of-any-earlier "
    "at est >= 0.5, best match by est then id; LIVE SQL oracle via the "
    "nested MinHash pipeline)",
)
def q69(spark, sf_dir):
    from ..streaming.text import dup_flags_from_band_rows, text_neardup_batch

    docs = _t(spark, sf_dir, "documents")
    return dup_flags_from_band_rows(text_neardup_batch(docs, threshold=0.5))


# ------------------------------------------------- apply pinned oracles
# Must run AFTER every @q/@q_ext registration above (it was mid-file
# until round 4, which silently left later-registered pinned queries
# rows-only).
try:  # pragma: no cover - import guard
    from .pinned_oracles import PINNED_ORACLES
except ImportError:  # pragma: no cover
    PINNED_ORACLES = {}

for _name, _sql in PINNED_ORACLES.items():
    for _reg in (QUERIES, QUERIES_EXTENDED):
        _qd = _reg.get(_name)
        if _qd is not None and _qd.oracle is None:
            _reg[_name] = QueryDef(
                _qd.fn, _sql, _qd.description + " [pinned sf0.01 golden oracle]"
            )

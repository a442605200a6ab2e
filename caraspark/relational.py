"""Part-B relational operator pack (SURVEY.md §2 Part B).

Each entry in ``REGISTRY`` maps a qkey → (Spark callable, DuckDB oracle SQL).
The Spark side is the engine under test (DataFrame API, Catalyst-optimized);
the SQL side is an independent ANSI-ish formulation DuckDB executes on the
same parquet tables.  The driver compares row count + schema + an
order-insensitive value hash, with columns sorted by name — so every computed
column is aliased IDENTICALLY on both sides.

Determinism conventions (the survey's "byte-identical goldens" stance,
applied to floats):
  * any aggregate over DOUBLE whose accumulation order differs between
    engines is wrapped in round(x, 4) on BOTH sides;
  * every ranking has a total-order tiebreak (unique key last);
  * DuckDB's sum(INTEGER/BIGINT) returns HUGEINT → explicitly CAST to BIGINT
    to match Spark's LongType;
  * DuckDB log() is log10 (Spark's is ln) → oracle uses ln();
  * DuckDB dayofweek() is 0=Sunday (Spark: 1=Sunday) → oracle adds 1;
  * floor/ceil: Spark returns BIGINT, DuckDB DOUBLE → oracle CASTs.

Scale notes are inline per query: which side broadcasts, where the shuffle
lands, and why the plan survives 100x data.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable, Iterable, Iterator, Mapping, Optional

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from caraspark.tables import load


@dataclass(frozen=True)
class Q:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str]  # DuckDB oracle; None → driver does a rows-only check


def registrar(registry: dict[str, Q]):
    """A module's ``@_q(name, sql)`` decorator: registers ``Q(fn, sql)``
    under ``name`` in ``registry``."""

    def _q(name: str, sql: Optional[str]):
        def deco(fn):
            if name in registry:  # a silent overwrite hides a qkey
                raise KeyError(f"duplicate qkey {name!r} in this module")
            registry[name] = Q(fn, sql)
            return fn

        return deco

    return _q


Rows = Callable[..., Iterable[Mapping]]
# Arrow types of the row mappers' columns, by their Spark names
STRING, INT, BIGINT, BOOLEAN = pa.string(), pa.int32(), pa.int64(), pa.bool_()


def spark_schema(schema: pa.Schema) -> T.StructType:
    """The Spark schema of an Arrow one; a timestamp without a time zone
    is TIMESTAMP_NTZ."""
    return from_arrow_schema(schema, prefer_timestamp_ntz=True)


def row_batches(rows: Rows, schema: pa.Schema):
    """The Python side of a ``map_rows`` stage, as a function from input
    to output Arrow batches: each input column leaves Arrow with one
    ``to_pylist``, every row value joins its column's list, and an input
    batch that gave any rows leaves as one output batch of one
    ``pa.array`` per column."""

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            cols = {n: [] for n in schema.names}
            for values in zip(*(c.to_pylist() for c in batch.columns)):
                for row in rows(*values):
                    for n, col in cols.items():
                        col.append(row[n])
            if cols[schema.names[0]]:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(cols[f.name], f.type) for f in schema],
                    schema=schema,
                )

    return batches


def map_rows(df: DataFrame, rows: Rows, schema: pa.Schema) -> DataFrame:
    """``df`` through one narrow mapInArrow stage. ``rows(*values)`` takes
    one input row's values in ``df``'s column order and gives its output
    rows, each a mapping from column name to value (other keys are
    ignored); ``schema`` is the output's Arrow schema, and the Spark
    schema derives from it, so each output column is written once."""
    return df.mapInArrow(row_batches(rows, schema), spark_schema(schema))


REGISTRY: dict[str, Q] = {}
_q = registrar(REGISTRY)


# ---------------------------------------------------------------------------
# B1 scans
# ---------------------------------------------------------------------------


@_q("scan_parquet", "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem")
def scan_parquet(spark, sf):
    # Pure metadata-count: Spark answers from parquet row-group stats; no
    # column is materialized. At 100 TB this is a footer-only scan.
    return load(spark, sf, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


_SCAN_STAGE = "/tmp/caraspark_scan_stage"


def _staged(spark, sf, fmt: str) -> DataFrame:
    """Round-trip the events table through CSV/JSON with an EXPLICIT schema
    (S2: no inference in prod paths). Staged once per (sf, fmt)."""
    import os

    out = f"{_SCAN_STAGE}/{sf.strip('/').replace('/', '_')}/{fmt}"
    marker = f"{out}/_SUCCESS"
    src = load(spark, sf, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        "user_id",
        "event_type",
        "value",
    )
    if not os.path.exists(marker):
        w = src.coalesce(4).write.mode("overwrite")
        (w.option("header", True).csv(out) if fmt == "csv" else w.json(out))
    schema = (
        "event_id bigint, ts_s string, user_id bigint, "
        "event_type string, value double"
    )
    r = spark.read.schema(schema)
    df = (
        r.option("header", True).csv(out) if fmt == "csv" else r.json(out)
    )
    return df.select(
        "event_id",
        F.to_timestamp("ts_s", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


_SCAN_AGG_SQL = """SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(sum(value), 4) AS sum_v,
       min(ts) AS first_ts
FROM events GROUP BY event_type"""


def _scan_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 4).alias("sum_v"),
        F.min("ts").alias("first_ts"),
    )


@_q("scan_csv", _SCAN_AGG_SQL)
def scan_csv(spark, sf):
    # S2: CSV source with explicit schema — values, timestamps (µs) and
    # doubles must round-trip losslessly vs the parquet oracle.
    return _scan_agg(_staged(spark, sf, "csv"))


@_q("scan_json", _SCAN_AGG_SQL)
def scan_json(spark, sf):
    return _scan_agg(_staged(spark, sf, "json"))


@_q("scan_orc", _SCAN_AGG_SQL)
def scan_orc(spark, sf):
    """S-family: ORC source/sink roundtrip — the second columnar format
    Spark ships built-in (predicate pushdown + column pruning like
    parquet; TIMESTAMP_NTZ round-trips natively, no string staging)."""
    import os

    out = f"{_SCAN_STAGE}/{sf.strip('/').replace('/', '_')}/orc"
    src = load(spark, sf, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    if not os.path.exists(f"{out}/_SUCCESS"):
        src.coalesce(4).write.mode("overwrite").orc(out)
    schema = (
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double"
    )
    return _scan_agg(spark.read.schema(schema).orc(out))


# ---------------------------------------------------------------------------
# B2 projection / filter
# ---------------------------------------------------------------------------


@_q(
    "proj_basic",
    """SELECT c_custkey,
              upper(c_name)            AS name_u,
              round(c_acctbal * 1.1, 4) AS bal_adj
       FROM customer""",
)
def proj_basic(spark, sf):
    c = load(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_u"),
        F.round(F.col("c_acctbal") * 1.1, 4).alias("bal_adj"),
    )


@_q(
    "filter_pred",
    """SELECT l_orderkey, l_linenumber, l_quantity
       FROM lineitem
       WHERE l_quantity BETWEEN 10 AND 20
         AND l_returnflag IN ('A', 'R')
         AND (l_discount < 0.05 OR l_tax > 0.03)
         AND l_shipdate IS NOT NULL""",
)
def filter_pred(spark, sf):
    # All four predicate forms compile to one parquet PushedFilters set;
    # whole filter evaluates scan-side, nothing shuffles.
    li = load(spark, sf, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
        & ((F.col("l_discount") < 0.05) | (F.col("l_tax") > 0.03))
        & F.col("l_shipdate").isNotNull()
    ).select("l_orderkey", "l_linenumber", "l_quantity")


@_q(
    "proj_case",
    """SELECT o_orderkey,
              CASE WHEN o_totalprice >= 300000 THEN 'high'
                   WHEN o_totalprice >= 100000 THEN 'mid'
                   ELSE 'low' END AS bucket,
              coalesce(o_orderpriority, 'NONE') AS prio
       FROM orders""",
)
def proj_case(spark, sf):
    o = load(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
        .alias("bucket"),
        F.coalesce("o_orderpriority", F.lit("NONE")).alias("prio"),
    )


@_q(
    "proj_nested",
    """SELECT vec_id,
              CAST(len(embedding) AS INT)      AS dim,
              round(CAST(embedding[1] AS DOUBLE), 6) AS x0
       FROM embeddings""",
)
def proj_nested(spark, sf):
    e = load(spark, sf, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("x0"),
    )


# ---------------------------------------------------------------------------
# B3 joins
# ---------------------------------------------------------------------------


@_q(
    "join_broadcast",
    """SELECT r_name,
              CAST(count(*) AS BIGINT)      AS n_cust,
              round(sum(c_acctbal), 4)      AS sum_bal
       FROM customer
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name""",
)
def join_broadcast(spark, sf):
    # nation (25) and region (5) are broadcast — zero shuffle for the joins;
    # the only exchange is the final 5-group agg. Holds at any fact size.
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 4).alias("sum_bal"),
        )
    )


@_q(
    "join_sortmerge",
    """SELECT o_orderstatus,
              CAST(count(*) AS BIGINT) AS n_items,
              round(sum(l_quantity), 4) AS sum_qty
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       GROUP BY o_orderstatus""",
)
def join_sortmerge(spark, sf):
    # Big x big equi-join: both sides hash-shuffle on orderkey (SMJ/SHJ by
    # AQE). Partial aggregation happens map-side after the join.
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
    )


@_q(
    "join_outer",
    """SELECT c_custkey,
              CAST(count(o_orderkey) AS BIGINT) AS n_orders,
              round(coalesce(sum(o_totalprice), 0.0), 4) AS spend
       FROM customer LEFT JOIN orders ON o_custkey = c_custkey
       GROUP BY c_custkey""",
)
def join_outer(spark, sf):
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias("spend"),
        )
    )


@_q(
    "join_semi",
    """SELECT c_custkey, c_mktsegment FROM customer
       WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
)
def join_semi(spark, sf):
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@_q(
    "join_anti",
    """SELECT p_partkey, p_brand FROM part
       WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""",
)
def join_anti(spark, sf):
    # Same shape as the corpus dangling-reference check (SURVEY.md C21).
    p = load(spark, sf, "part")
    li = load(spark, sf, "lineitem")
    return p.join(li, p.p_partkey == li.l_partkey, "left_anti").select(
        "p_partkey", "p_brand"
    )


_BANDS = [(0.0, 10.0), (10.0, 50.0), (50.0, 200.0), (200.0, 1e9)]


@_q(
    "join_range",
    """SELECT b.lo AS band_lo,
              CAST(count(*) AS BIGINT) AS n,
              round(sum(e.value), 4)   AS sum_v
       FROM events e
       JOIN (VALUES (0.0, 10.0), (10.0, 50.0), (50.0, 200.0), (200.0, 1e9))
            AS b(lo, hi)
         ON e.value >= b.lo AND e.value < b.hi
       GROUP BY b.lo""",
)
def join_range(spark, sf):
    # Theta join against a 4-row bands table: Spark plans
    # BroadcastNestedLoopJoin — fine because the build side is tiny and
    # constant-size no matter how big events gets.
    e = load(spark, sf, "events")
    bands = spark.createDataFrame(_BANDS, "lo double, hi double")
    return (
        e.join(F.broadcast(bands), (e.value >= bands.lo) & (e.value < bands.hi))
        .groupBy(F.col("lo").alias("band_lo"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_v"),
        )
    )


@_q(
    "join_asof",
    """SELECT p_id, v_ts AS asof_ts, round(v_value, 4) AS asof_value
       FROM (
         SELECT p.event_id AS p_id, v.ts AS v_ts, v.value AS v_value,
                row_number() OVER (PARTITION BY p.event_id
                                   ORDER BY v.ts DESC, v.event_id DESC) AS rn
         FROM events p
         JOIN events v
           ON v.user_id = p.user_id AND v.ts <= p.ts
          AND v.event_type = 'view'
         WHERE p.event_type = 'purchase'
       ) WHERE rn = 1""",
)
def join_asof(spark, sf):
    # As-of join: for each purchase, the latest at-or-before 'view' of the
    # same user. Implemented as the MERGE form, not join+row_number: union
    # the two sides, sort per user by (ts, side, event_id) in ONE window,
    # and carry the last view forward with last(..., ignorenulls). A
    # join-based as-of materializes |views ≤ ts| rows per purchase
    # (quadratic per user, lethal on power-law users at corpus scale);
    # this plan is a single shuffle on user_id and linear work.
    # Ordering: views sort before purchases at equal ts (ts <= ts counts),
    # and by event_id among equal-ts views so "last" = max event_id —
    # matching the oracle's ORDER BY v.ts DESC, v.event_id DESC pick-first.
    e = load(spark, sf, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    side = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", side, "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    last_view = F.last(
        F.when(
            F.col("event_type") == "view",
            F.struct(F.col("ts").alias("v_ts"), F.col("value").alias("v_value")),
        ),
        ignorenulls=True,
    ).over(w)
    return (
        e.withColumn("lv", last_view)
        .filter((F.col("event_type") == "purchase") & F.col("lv").isNotNull())
        .select(
            F.col("event_id").alias("p_id"),
            F.col("lv.v_ts").alias("asof_ts"),
            F.round("lv.v_value", 4).alias("asof_value"),
        )
    )


@_q(
    "join_interval",
    """SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_pairs
       FROM events a JOIN events b
         ON a.user_id = b.user_id AND a.event_id < b.event_id
        AND a.ts < b.ts + INTERVAL 1 HOUR AND b.ts < a.ts + INTERVAL 1 HOUR
       GROUP BY a.user_id""",
)
def join_interval(spark, sf):
    # Interval-overlap self-join ([ts, ts+1h) per event), bucketed by the
    # equi-key user_id so the quadratic blowup is bounded per user — the
    # corpus version of the C19 overlap check.
    e = load(spark, sf, "events")
    a = e.select(
        F.col("user_id"), F.col("event_id").alias("a_id"), F.col("ts").alias("a_ts")
    )
    b = e.select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_ts"),
    )
    hour = F.expr("INTERVAL 1 HOUR")
    return (
        a.join(
            b,
            (a.user_id == b.b_user)
            & (a.a_id < b.b_id)
            & (a.a_ts < b.b_ts + hour)
            & (b.b_ts < a.a_ts + hour),
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@_q(
    "join_cross",
    """SELECT r_name, et AS event_type
       FROM region CROSS JOIN (SELECT DISTINCT event_type AS et FROM events)""",
)
def join_cross(spark, sf):
    r = load(spark, sf, "region")
    et = load(spark, sf, "events").select(F.col("event_type").alias("et")).distinct()
    return r.crossJoin(et).select("r_name", F.col("et").alias("event_type"))


_BUCKET_STAGE = "/tmp/caraspark_bucketed"


def bucketed_table(
    spark: SparkSession, sf: str, table: str, key: str, n: int = 8
) -> DataFrame:
    """Stage ``table`` as a bucketed+sorted catalog table (once per sf per
    session) and return it.

    This is the co-located-join layout for 100 TB: pay ONE shuffle at
    ingest (`bucketBy` on the join key, same bucket count on every table
    that joins on it), and every subsequent join/aggregate on that key is
    exchange-free — both sides' scans already satisfy the required
    HashPartitioning. The `repartition(n, key)` before the write uses the
    same murmur3-pmod hash as the bucket assignment, so each bucket lands
    in exactly one file. (Joins still carry LOCAL per-partition Sort
    nodes — Spark ≥3 only trusts bucket sort order under a legacy conf —
    but those never shuffle; eliminating the Exchange is the 100 TB win.)
    Production analog: Iceberg `bucket(n, key)` partition transforms /
    Hive bucketed tables."""
    import hashlib

    tag = hashlib.md5(os.path.realpath(sf).encode()).hexdigest()[:8]
    name = f"caraspark_{table}_b{n}_{tag}"
    if not spark.catalog.tableExists(name):
        (
            load(spark, sf, table)
            .repartition(n, F.col(key))
            .write.bucketBy(n, key)
            .sortBy(key)
            .option("path", f"{_BUCKET_STAGE}/{tag}/{table}_b{n}")
            .mode("overwrite")
            .saveAsTable(name)
        )
    return spark.table(name)


@_q(
    "join_bucketed",
    """SELECT o_orderkey, o_orderstatus, l_linenumber, l_quantity
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey""",
)
def join_bucketed(spark, sf):
    # Big×big equi-join with ZERO exchanges: both sides staged bucketed on
    # the join key (see bucketed_table), so the sort-merge join reads
    # co-located buckets directly — the plan has no Exchange at all.
    # The merge hint pins the big×big strategy (at test scale Catalyst
    # would broadcast the small orders side, which disables the bucketed
    # scan; at 100 TB neither side broadcasts and SMJ is what runs).
    # tests/test_plans.py pins that shape.
    o = bucketed_table(spark, sf, "orders", "o_orderkey")
    li = bucketed_table(spark, sf, "lineitem", "l_orderkey")
    return o.hint("merge").join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderkey", "o_orderstatus", "l_linenumber", "l_quantity"
    )


# ---------------------------------------------------------------------------
# B4 aggregation
# ---------------------------------------------------------------------------


@_q(
    "agg_q1",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 4)                              AS sum_qty,
              round(sum(l_extendedprice), 4)                         AS sum_base,
              round(sum(l_extendedprice * (1 - l_discount)), 4)      AS sum_disc,
              round(avg(l_quantity), 4)                              AS avg_qty,
              round(avg(l_discount), 4)                              AS avg_disc,
              CAST(count(*) AS BIGINT)                               AS n
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus""",
)
def agg_q1(spark, sf):
    # TPC-H Q1 shape: scan-side filter (pushed to parquet), partial agg
    # map-side, 6-group final — the canonical "shuffle carries only the
    # aggregation state, never the rows" plan.
    li = load(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_q(
    "agg_distinct",
    """SELECT l_returnflag,
              CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
              CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_distinct(spark, sf):
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@_q("agg_approx", None)  # nondeterministic vs an exact oracle → rows-only
def agg_approx(spark, sf):
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts")
    )


@_q(
    "agg_approx_check",
    """SELECT l_returnflag, TRUE AS within_10pct
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_approx_check(spark, sf):
    """G3 hash coverage via a PROPERTY oracle: the sketch estimate itself
    can't be predicted by another engine, but its accuracy contract can —
    Spark emits whether each group's HLL estimate (rsd 0.02) lands within
    10% of the exact distinct count; the oracle asserts TRUE per group.
    The margin is 5 sigma (a 5%/2.5-sigma bound would deterministically
    fail on ~4% of fresh datasets through no code defect); a hash mismatch
    therefore means the sketch genuinely violated its error contract."""
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        (
            F.abs(
                F.approx_count_distinct("l_partkey", 0.02)
                - F.countDistinct("l_partkey")
            )
            <= 0.10 * F.countDistinct("l_partkey")
        ).alias("within_10pct")
    )


@_q(
    "agg_rollup",
    """SELECT l_returnflag, l_linestatus,
              CAST(count(*) AS BIGINT)  AS n,
              round(sum(l_quantity), 4) AS sum_qty
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
)
def agg_rollup(spark, sf):
    li = load(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


@_q(
    "agg_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
              CAST(count(*) AS BIGINT)  AS n,
              round(sum(l_quantity), 4) AS sum_qty
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""",
)
def agg_grouping_sets(spark, sf):
    """G4: explicit GROUPING SETS — disjoint subtotal shapes that neither
    rollup nor cube expresses (per-flag, per-status, grand total, but no
    (flag, status) cell). SQL surface: Catalyst expands to one Expand +
    hash aggregate, partials map-side."""
    li = load(spark, sf, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """SELECT l_returnflag, l_linestatus,
                  CAST(count(*) AS BIGINT)  AS n,
                  round(sum(l_quantity), 4) AS sum_qty
           FROM lineitem_gs
           GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""
    )


@_q(
    "agg_cube",
    """SELECT l_returnflag, l_linestatus,
              CAST(count(*) AS BIGINT)  AS n,
              round(sum(l_quantity), 4) AS sum_qty
       FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
)
def agg_cube(spark, sf):
    """G4 (cube cell): every subtotal combination — (flag,status), (flag),
    (status), grand total. Same physical shape as rollup: one Expand (4
    grouping ids) feeding a partial+final hash aggregate, so the fan-out
    multiplies map-side rows by the number of grouping sets, never the
    shuffle count."""
    li = load(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


@_q(
    "agg_collect",
    """SELECT l_orderkey,
              string_agg(l_linenumber, ',' ORDER BY l_linenumber) AS lines
       FROM lineitem GROUP BY l_orderkey""",
)
def agg_collect(spark, sf):
    # collect_list is order-nondeterministic under distribution →
    # sort_array + join to a string makes it comparable (SURVEY.md §5.2-5).
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("l_linenumber"))).alias("lines")
    )


@_q(
    "agg_pctile",
    """SELECT l_returnflag,
              round(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
              round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_pctile(spark, sf):
    # Exact interpolated percentile on both sides (Spark `percentile`,
    # DuckDB `quantile_cont`). percentile_approx exists but is sketch-based
    # → not oracle-comparable; the approx variant is agg_approx's job.
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("med_qty"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90_qty"),
    )


@_q(
    "agg_quantile_check",
    """SELECT l_returnflag, TRUE AS rank_ok
       FROM lineitem GROUP BY l_returnflag""",
)
def agg_quantile_check(spark, sf):
    """Quantile-SKETCH coverage via a PROPERTY oracle (the
    ``agg_approx_check`` device, for percentile_approx's GK sketch): the
    sketch's median estimate can't be predicted by another engine, but
    its rank contract can — a GK summary at accuracy a returns a value
    whose rank window intersects [(0.5−ε)n, (0.5+ε)n], ε = 1/a. Spark
    recomputes the estimate's EXACT rank window (count <, count ≤ — a
    duplicate-heavy column makes one value straddle a wide window, which
    is why the check is two-sided on both counts) and emits the boolean;
    the oracle asserts TRUE per group. Margin is doubled (+1) so a
    legal boundary estimate can't flake the gate.

    Scale: two passes over the group — the sketch agg, then one
    conditional-count agg against the broadcast 3-row estimate table;
    both are map-side-combining exchanges carrying (flag, ints)."""
    li = load(spark, sf, "lineitem")
    ap = li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_quantity, 0.5, 1000)").alias("apx")
    )
    eps2 = F.lit(2.0) / 1000
    j = li.join(F.broadcast(ap), "l_returnflag")
    return j.groupBy("l_returnflag").agg(
        (
            (
                F.count(F.when(F.col("l_quantity") < F.col("apx"), 1))
                <= F.ceil((0.5 + eps2) * F.count(F.lit(1))) + 1
            )
            & (
                F.count(F.when(F.col("l_quantity") <= F.col("apx"), 1))
                >= F.floor((0.5 - eps2) * F.count(F.lit(1))) - 1
            )
        ).alias("rank_ok")
    )


_EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]


@_q(
    "agg_pivot",
    """SELECT user_id,
              CAST(count(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS n_view,
              CAST(count(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS n_click,
              CAST(count(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS n_signup,
              CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
              CAST(count(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS n_error
       FROM events GROUP BY user_id""",
)
def agg_pivot(spark, sf):
    # Explicit pivot values → no extra distinct-values job; single shuffle.
    e = load(spark, sf, "events")
    df = (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    for t in _EVENT_TYPES:
        df = df.withColumn(t, F.coalesce(F.col(t), F.lit(0)))
    return df.select(
        "user_id", *[F.col(t).alias(f"n_{t}") for t in _EVENT_TYPES]
    )


@_q(
    "agg_udaf",
    """SELECT label,
              round(avg(sqrt(list_aggregate(
                  list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                  'sum'))), 4) AS avg_norm,
              CAST(count(*) AS BIGINT) AS n
       FROM embeddings GROUP BY label""",
)
def agg_udaf(spark, sf):
    # Custom vectorized UDAF (SURVEY.md U5/G8): mean L2 norm of the
    # embedding vectors per label, computed in a GROUPED_AGG pandas UDF.
    # Arrow ships each group's vectors as one batch; NumPy does the math.
    import numpy as np

    @F.pandas_udf("double")
    def mean_norm(v: pd.Series) -> float:
        m = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        return float(np.sqrt((m * m).sum(axis=1)).mean())

    @F.pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    e = load(spark, sf, "embeddings")
    # Spark disallows mixing GROUPED_AGG pandas UDFs with built-in
    # aggregates in one agg(), but two pandas UDFs compose fine → one
    # scan, one shuffle, no join.
    return e.groupBy("label").agg(
        F.round(mean_norm("embedding"), 4).alias("avg_norm"),
        n_rows("label").alias("n"),
    )


@_q(
    "agg_salted_distinct",
    """SELECT event_type,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM events GROUP BY event_type""",
)
def agg_salted_distinct(spark, sf):
    """Explicit skew handling for COUNT(DISTINCT) over a hot key
    (north_rule: "partitioning / shuffle / skew handled explicitly").

    A handful of event_type values means a naive distinct-aggregation
    funnels every row of a hot key through one reducer, and unlike
    algebraic aggs, distinct state can't fully combine map-side. The
    salted two-phase form spreads each hot key over 16 buckets keyed by
    ``pmod(hash(user_id), 16)``: phase 1 counts distincts per
    (key, salt) — correct because a given user_id always lands in
    exactly one salt bucket — and phase 2 sums the per-salt counts.
    Both exchanges carry (key, salt) cardinality ≤ 16·|keys| rows of
    final state; no single task ever owns a whole hot key."""
    e = load(spark, sf, "events")
    salted = e.groupBy(
        "event_type", F.pmod(F.hash("user_id"), F.lit(16)).alias("salt")
    ).agg(F.countDistinct("user_id").alias("nd"))
    return salted.groupBy("event_type").agg(
        F.sum("nd").cast("long").alias("n_users")
    )


@_q(
    "agg_grouped_map",
    """SELECT o_orderkey,
              o_custkey,
              (CAST(round(o_totalprice * 100) AS BIGINT)
               - sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   OVER (PARTITION BY o_custkey)
                 / CAST(count(*) OVER (PARTITION BY o_custkey) AS DOUBLE))
              / 100.0 AS price_dev
       FROM orders""",
)
def agg_grouped_map(spark, sf):
    """U4: batch grouped-map ``applyInPandas`` — the per-group regroup
    mechanism (whole group as one pandas frame in, transformed frame out).
    Demo semantics: each order's deviation from its customer's mean price.
    Scale shape: ONE shuffle on the group key; each group must fit in one
    executor's memory (fine for per-customer / per-doc groups — this is
    the same regroup the per-doc object pipeline uses). Prefer window
    functions when the computation is expressible JVM-side; grouped-map is
    for genuinely imperative per-group logic.

    Both sides aggregate exact integer cents and then apply the SAME
    sequence of correctly-rounded double ops (int-sum ÷ count, subtract,
    ÷100), so the doubles are bit-identical. A plain avg(double) differs
    in the last ulp between pandas and the oracle, and any explicit
    round(…, k) reintroduces half-way ties that numpy (half-even) and SQL
    engines (half-away) break differently."""
    import numpy as np

    def dev(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = np.rint(pdf["o_totalprice"].to_numpy() * 100).astype(np.int64)
        mean_cents = cents.sum() / len(cents)  # exact int sum, one fp divide
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "o_custkey": pdf["o_custkey"],
                "price_dev": (cents - mean_cents) / 100.0,
            }
        )

    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return o.groupBy("o_custkey").applyInPandas(
        dev, "o_orderkey bigint, o_custkey bigint, price_dev double"
    )


# ---------------------------------------------------------------------------
# B5 windows
# ---------------------------------------------------------------------------


@_q(
    "win_rank",
    """SELECT c_custkey, c_nationkey,
              CAST(row_number() OVER w AS INT) AS rn,
              CAST(rank()       OVER w AS INT) AS rk,
              CAST(dense_rank() OVER w AS INT) AS drk
       FROM customer
       WINDOW w AS (PARTITION BY c_nationkey
                    ORDER BY c_acctbal DESC, c_custkey)""",
)
def win_rank(spark, sf):
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    c = load(spark, sf, "customer")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
    )


@_q(
    "win_lag",
    """SELECT event_id, user_id,
              CAST(floor(epoch(ts)) AS BIGINT)
            - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id))) AS BIGINT)
              AS gap_s
       FROM events""",
)
def win_lag(spark, sf):
    # lag over per-user time order — the same shape as the C19 byte-hole
    # detection window (lag(hi) vs lo).
    e = load(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ → no direct long cast; go via session-TZ (UTC)
    # timestamp, which preserves the wall clock.
    sec = F.col("ts").cast("timestamp").cast("long")
    return e.select(
        "event_id",
        "user_id",
        (sec - F.lag(sec).over(w)).alias("gap_s"),
    )


@_q(
    "win_running",
    """SELECT o_orderkey, o_custkey,
              round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                                     AND CURRENT ROW), 4)
              AS running_spend
       FROM orders""",
)
def win_running(spark, sf):
    o = load(spark, sf, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 4).alias("running_spend"),
    )


@_q(
    "win_range",
    """SELECT event_id, user_id,
              CAST(count(*) OVER (PARTITION BY user_id
                                  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                                  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_last_hour
       FROM events""",
)
def win_range(spark, sf):
    # Value-range frame (sliding 1h window per user). Both engines order by
    # integral epoch-seconds so the frame boundaries agree exactly.
    e = load(spark, sf, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return e.select(
        "event_id", "user_id", F.count(F.lit(1)).over(w).alias("n_last_hour")
    )


@_q(
    "win_topk",
    """SELECT o_custkey, o_orderkey, o_totalprice
       FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                    row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
             FROM orders) WHERE rn <= 3""",
)
def win_topk(spark, sf):
    o = load(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# B6 sort / limit / set ops
# ---------------------------------------------------------------------------


@_q(
    "sort_multi",
    """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
       ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey""",
)
def sort_multi(spark, sf):
    # Global multi-key sort → range-partitioned exchange (sampled bounds);
    # the hash compare is order-insensitive, but the operator still runs.
    o = load(spark, sf, "orders")
    return o.select("o_orderkey", "o_orderpriority", "o_totalprice").orderBy(
        F.asc("o_orderpriority"), F.desc("o_totalprice"), F.asc("o_orderkey")
    )


@_q(
    "sort_topk",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def sort_topk(spark, sf):
    # orderBy().limit(k) compiles to TakeOrderedAndProject — per-partition
    # top-k then a k-row merge at the driver; never a global sort.
    o = load(spark, sf, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@_q(
    "set_union",
    """SELECT c_nationkey AS nk FROM customer
       UNION
       SELECT s_nationkey AS nk FROM supplier""",
)
def set_union(spark, sf):
    c = load(spark, sf, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load(spark, sf, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.unionByName(s).distinct()


@_q(
    "set_except",
    """SELECT o_custkey AS ck FROM orders
       EXCEPT
       SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 200000""",
)
def set_except(spark, sf):
    # Customers who ordered but never above 200k. subtract == SQL EXCEPT
    # (distinct semantics); exceptAll would keep multiplicities.
    o = load(spark, sf, "orders")
    a = o.select(F.col("o_custkey").alias("ck"))
    b = o.filter(F.col("o_totalprice") > 200000).select(
        F.col("o_custkey").alias("ck")
    )
    return a.subtract(b)


@_q(
    "set_intersect",
    """SELECT c_nationkey AS nk FROM customer
       INTERSECT
       SELECT s_nationkey AS nk FROM supplier""",
)
def set_intersect(spark, sf):
    c = load(spark, sf, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load(spark, sf, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


@_q(
    "set_except_all",
    """SELECT o_custkey AS ck FROM orders
       EXCEPT ALL
       SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 200000""",
)
def set_except_all(spark, sf):
    """O4 (ALL variant): bag difference — keeps multiplicities (a customer
    with 5 orders, 2 of them >200k, appears 3 times). Catalyst plans this
    as one shuffle on the value with per-key count arithmetic, not a
    distinct."""
    o = load(spark, sf, "orders")
    a = o.select(F.col("o_custkey").alias("ck"))
    b = o.filter(F.col("o_totalprice") > 200000).select(
        F.col("o_custkey").alias("ck")
    )
    return a.exceptAll(b)


@_q(
    "set_intersect_all",
    """SELECT o_custkey AS ck FROM orders
       INTERSECT ALL
       SELECT o_custkey AS ck FROM orders WHERE o_orderpriority = '1-URGENT'""",
)
def set_intersect_all(spark, sf):
    """O4 (ALL variant): bag intersection — multiplicity is min(count_a,
    count_b) per value."""
    o = load(spark, sf, "orders")
    a = o.select(F.col("o_custkey").alias("ck"))
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("ck")
    )
    return a.intersectAll(b)


# ---------------------------------------------------------------------------
# B7 scalar function families
# ---------------------------------------------------------------------------


@_q(
    "fn_string",
    """SELECT p_partkey,
              lower(p_name)                                   AS name_l,
              CAST(length(p_name) AS INT)                     AS name_len,
              trim(substring(p_name, 1, 8))                   AS name_head,
              split_part(p_name, ' ', 1)                      AS first_word,
              concat_ws('|', p_brand, p_type)                 AS brand_type,
              regexp_extract(p_name, '([a-z]+)', 1)           AS first_alpha,
              regexp_replace(p_name, '[aeiou]', '', 'g')      AS no_vowels,
              CAST(levenshtein(p_brand, 'Brand#00') AS INT)   AS lev,
              (p_name LIKE '%a%')                             AS has_a
       FROM part""",
)
def fn_string(spark, sf):
    p = load(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_l"),
        F.length("p_name").alias("name_len"),
        F.trim(F.substring("p_name", 1, 8)).alias("name_head"),
        F.element_at(F.split("p_name", " "), 1).alias("first_word"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_alpha"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("no_vowels"),
        F.levenshtein("p_brand", F.lit("Brand#00")).alias("lev"),
        F.col("p_name").like("%a%").alias("has_a"),
    )


@_q(
    "fn_date",
    """SELECT o_orderkey,
              CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
              CAST(year(o_orderdate)  AS INT)                  AS yr,
              CAST(month(o_orderdate) AS INT)                  AS mo,
              CAST(dayofweek(o_orderdate) + 1 AS INT)          AS dow,
              CAST(hour(o_orderdate) AS INT)                   AS hr,
              CAST(datediff('day', TIMESTAMP '2024-01-01 00:00:00',
                            o_orderdate) AS INT)               AS days_since,
              CAST(floor(epoch(o_orderdate)) AS BIGINT)        AS epoch_s
       FROM orders""",
)
def fn_date(spark, sf):
    # DuckDB dow: 0=Sunday; Spark dayofweek: 1=Sunday → oracle adds 1.
    o = load(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.hour("o_orderdate").alias("hr"),
        F.datediff(F.to_date("o_orderdate"), F.lit("2024-01-01").cast("date")).alias(
            "days_since"
        ),
        F.col("o_orderdate").cast("timestamp").cast("long").alias("epoch_s"),
    )


@_q(
    "fn_math",
    """SELECT l_orderkey, l_linenumber,
              round(l_extendedprice, 1)                        AS px_r,
              CAST(floor(l_extendedprice) AS BIGINT)           AS px_f,
              CAST(ceil(l_extendedprice)  AS BIGINT)           AS px_c,
              abs(l_discount - 0.05)                           AS d_abs,
              round(sqrt(l_quantity), 6)                       AS q_sqrt,
              round(ln(l_extendedprice + 1), 6)                AS px_ln,
              round(exp(l_discount), 6)                        AS d_exp,
              round(pow(l_quantity, 2), 4)                     AS q_sq,
              CAST(sign(l_quantity - 25) AS DOUBLE)            AS q_sign
       FROM lineitem""",
)
def fn_math(spark, sf):
    # DuckDB log() is log10 → oracle uses ln() to match Spark's F.log.
    li = load(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("px_r"),
        F.floor("l_extendedprice").alias("px_f"),
        F.ceil("l_extendedprice").alias("px_c"),
        F.abs(F.col("l_discount") - 0.05).alias("d_abs"),
        F.round(F.sqrt("l_quantity"), 6).alias("q_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("px_ln"),
        F.round(F.exp("l_discount"), 6).alias("d_exp"),
        F.round(F.pow("l_quantity", F.lit(2)), 4).alias("q_sq"),
        F.signum(F.col("l_quantity") - 25).alias("q_sign"),
    )


@_q(
    "fn_array",
    """SELECT vec_id,
              CAST(len(embedding) AS INT) AS dim,
              round(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE)), 'sum'), 4)  AS vsum,
              round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS vmax,
              CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos
       FROM embeddings""",
)
def fn_array(spark, sf):
    e = load(spark, sf, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("vsum"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("vmax"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_pos"),
    )


@_q(
    "fn_dot",
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              round(list_aggregate(list_transform(
                        list_zip(a.embedding, b.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                    'sum'), 4) AS dot
       FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""",
)
def fn_dot(spark, sf):
    # Dot product entirely in JVM expressions: zip_with + aggregate — no
    # Python in the loop, whole-stage-codegen'd.
    e = load(spark, sf, "embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    prod = F.zip_with(
        F.col("ea"), F.col("eb"), lambda x, y: x.cast("double") * y.cast("double")
    )
    return (
        a.join(b, b.id_b == a.id_a + 1)
        .select(
            "id_a",
            "id_b",
            F.round(F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x), 4).alias(
                "dot"
            ),
        )
    )


@_q(
    "fn_map",
    """SELECT user_id,
              string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_seen,
              CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
       FROM events GROUP BY user_id""",
)
def fn_map(spark, sf):
    # Build a real MapType (map_from_entries) then demonstrate map_keys /
    # element access; output flattened to strings for oracle comparison.
    e = load(spark, sf, "events")
    per_type = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    m = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("type_counts")
    )
    return m.select(
        "user_id",
        F.concat_ws(",", F.map_keys("type_counts")).alias("types_seen"),
        F.size(F.map_keys("type_counts")).cast("long").alias("n_types"),
    )


@_q(
    "fn_json",
    """SELECT event_id,
              CAST(json_extract_string(props, '$.k') AS INT) AS k_val
       FROM events""",
)
def fn_json(spark, sf):
    e = load(spark, sf, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


@_q(
    "fn_hash",
    """SELECT c_custkey,
              md5(c_name)                         AS name_md5,
              sha256(c_name)                      AS name_sha,
              to_base64(encode(c_name))           AS name_b64
       FROM customer""",
)
def fn_hash(spark, sf):
    c = load(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.md5(F.encode("c_name", "utf-8")).alias("name_md5"),
        F.sha2(F.encode("c_name", "utf-8"), 256).alias("name_sha"),
        F.base64(F.encode("c_name", "utf-8")).alias("name_b64"),
    )


# ---------------------------------------------------------------------------
# B10 subqueries & CTEs (Catalyst decorrelation — SURVEY.md §4.2 row 8)
# ---------------------------------------------------------------------------


def _sql_over_views(spark, sf, sql: str, tables: tuple[str, ...]) -> DataFrame:
    for t in tables:
        load(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(sql)


_SUB_SCALAR_SQL = """SELECT c_custkey, round(c_acctbal, 2) AS bal
       FROM customer
       WHERE c_acctbal > (SELECT avg(c_acctbal) * 1.5 FROM customer)"""


@_q("sub_scalar", _SUB_SCALAR_SQL)
def sub_scalar(spark, sf):
    # scalar subquery: Catalyst plans one extra aggregate + broadcast of
    # the single-row result — no per-row re-evaluation
    return _sql_over_views(spark, sf, _SUB_SCALAR_SQL, ("customer",))


_SUB_EXISTS_SQL = """SELECT s_suppkey, s_name
       FROM supplier s
       WHERE EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_suppkey = s.s_suppkey
                       AND l.l_quantity > 49)"""


@_q("sub_exists", _SUB_EXISTS_SQL)
def sub_exists(spark, sf):
    # correlated EXISTS decorrelates to a LEFT SEMI join on the
    # correlation key — the shuffle is on l_suppkey, never row-at-a-time
    return _sql_over_views(spark, sf, _SUB_EXISTS_SQL, ("supplier", "lineitem"))


_SUB_IN_SQL = """SELECT p_partkey, p_name
       FROM part
       WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem
                               WHERE l_partkey IS NOT NULL
                                 AND l_quantity > 45)"""


@_q("sub_in", _SUB_IN_SQL)
def sub_in(spark, sf):
    # NOT IN decorrelates to a null-aware anti join (C21 dangling-ref
    # shape expressed in SQL)
    return _sql_over_views(spark, sf, _SUB_IN_SQL, ("part", "lineitem"))


_CTE_SQL = """WITH rev AS (
           SELECT l_suppkey,
                  sum(l_extendedprice * (1 - l_discount)) AS total
           FROM lineitem GROUP BY l_suppkey
       )
       SELECT s.s_suppkey, s.s_name, round(rev.total, 2) AS revenue
       FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
       WHERE rev.total > (SELECT avg(total) FROM rev)"""


@_q("cte_basic", _CTE_SQL)
def cte_basic(spark, sf):
    # CTE referenced twice (join side + scalar subquery): Catalyst inlines
    # or reuses the subplan; either plan is one agg over lineitem + a join
    return _sql_over_views(spark, sf, _CTE_SQL, ("supplier", "lineitem"))


@_q(
    "win_ntile",
    """SELECT c_custkey,
              CAST(ntile(4) OVER w AS INT)        AS quartile,
              round(percent_rank() OVER w, 6)     AS pr,
              round(cume_dist() OVER w, 6)        AS cd
       FROM customer
       WINDOW w AS (PARTITION BY c_nationkey
                    ORDER BY c_acctbal DESC, c_custkey)""",
)
def win_ntile(spark, sf):
    # distribution-style window functions complete the W1 family; same
    # single hash-exchange on the partition key as every other window
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    c = load(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


_JOIN_SALT_N = 8


@_q(
    "join_salted",
    """WITH dim AS (SELECT DISTINCT user_id, user_id % 5 AS seg FROM events)
       SELECT seg,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                AS sum_cents,
              min(value) AS min_v,
              max(value) AS max_v
       FROM events e JOIN dim d USING (user_id)
       GROUP BY seg""",
)
def join_salted(spark, sf):
    """Explicitly salted equi-join for a skewed key (the join-side
    complement of ``agg_salted_distinct``): the fact side appends
    ``salt = pmod(event_id, 8)`` and the dim side is replicated once per
    salt value, so the join exchange partitions on (user_id, salt) — a
    hot user's rows spread over 8 reducers instead of funneling through
    one. Correct because each fact row carries exactly one salt and the
    replicated dim matches all of them; the result is provably the plain
    join (the oracle IS the unsalted join).

    At 100 TB this is the fact×dim shape where the dim is too big to
    broadcast and a few keys dominate (the `merge` hint here stands in
    for that regime — at sf0.01 Catalyst would otherwise broadcast the
    dim and hide the exchange being demonstrated). AQE skew-split
    handles moderate skew at runtime; explicit salting is the degree of
    freedom it lacks: replication factor chosen per-key up front, stable
    across reuses of the same exchange. The aggregates are exact-int
    cents + order-insensitive min/max, so partial-agg order cannot leak
    into the hash."""
    e = load(spark, sf, "events")
    dim = (
        e.select("user_id").distinct().withColumn("seg", F.col("user_id") % 5)
    )
    dim_rep = dim.select(
        "user_id",
        "seg",
        F.explode(F.sequence(F.lit(0), F.lit(_JOIN_SALT_N - 1))).alias("salt"),
    )
    fact = e.withColumn(
        "salt", F.pmod(F.col("event_id"), F.lit(_JOIN_SALT_N))
    )
    joined = fact.join(dim_rep.hint("merge"), ["user_id", "salt"])
    return joined.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100)).cast("long").alias("sum_cents"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


# ---------------------------------------------------------------------------
# Event analytics: sessionization, funnel, retention cohorts
# ---------------------------------------------------------------------------

_SESSION_GAP_S = 14_400  # 4h inactivity closes a session


@_q(
    "win_sessionize",
    f"""WITH e AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events
),
g AS (
  SELECT user_id, event_id, sec,
         CASE WHEN lag(sec) OVER w IS NULL
                OR sec - lag(sec) OVER w > {_SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
),
s AS (
  SELECT user_id, sec,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id)
           AS session_idx
  FROM g
)
SELECT user_id, CAST(session_idx AS INT) AS session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(sec) AS BIGINT) AS start_s,
       CAST(max(sec) AS BIGINT) AS end_s,
       CAST(max(sec) - min(sec) AS BIGINT) AS duration_s
FROM s GROUP BY user_id, session_idx""",
)
def win_sessionize(spark, sf):
    """Batch sessionization — the gaps-and-islands dual of the streaming
    ``stream_session`` window: a 4h inactivity gap closes a session, the
    cumulative new-session sum numbers them per user, and the rollup
    emits per-session extent and size. The window order is (sec,
    event_id) — a TOTAL order, so equal-timestamp events can't make the
    numbering partition-order dependent (the gap itself is 0 for ties,
    landing them in one session regardless).

    Scale shape: ONE (user_id) exchange feeds the lag window, the
    running sum, and the final (user_id, session_idx) groupBy —
    identical partitioning, so Catalyst reuses the exchange; everything
    shuffled is (ids, BIGINT seconds). Hot users bound the per-partition
    sort; a user hot enough to matter gets the salted-agg treatment
    (`agg_salted_distinct`) on the rollup half."""
    e = load(spark, sf, "events")
    sec = F.col("ts").cast("timestamp").cast("long")
    w = W.partitionBy("user_id").orderBy("sec", "event_id")
    g = e.select("user_id", "event_id", sec.alias("sec")).withColumn(
        "new_s",
        F.when(
            F.lag("sec").over(w).isNull()
            | (F.col("sec") - F.lag("sec").over(w) > _SESSION_GAP_S),
            1,
        ).otherwise(0),
    )
    s = g.withColumn("session_idx", F.sum("new_s").over(w))
    return s.groupBy("user_id", F.col("session_idx").cast("int").alias("session_idx")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("sec").alias("start_s"),
        F.max("sec").alias("end_s"),
        (F.max("sec") - F.min("sec")).alias("duration_s"),
    )


@_q(
    "events_funnel",
    """WITH e AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events
),
u AS (SELECT DISTINCT user_id FROM e),
v AS (SELECT user_id, min(sec) AS t_view FROM e
      WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.sec) AS t_click
      FROM e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.sec > v.t_view GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.sec) AS t_purchase
      FROM e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.sec > c.t_click
      GROUP BY e.user_id)
SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
       CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
                 WHEN c.t_click IS NOT NULL THEN 2
                 WHEN v.t_view IS NOT NULL THEN 1 ELSE 0 END AS INT)
         AS stage
FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
       LEFT JOIN p USING (user_id)""",
)
def events_funnel(spark, sf):
    """Ordered funnel analysis (view → click → purchase): each stage's
    timestamp is the EARLIEST event of that type strictly after the
    previous stage — the classic product-analytics sequence query. Ties
    at second granularity don't advance the funnel (strict >), the same
    rule in both engines.

    Scale shape: each stage is filter → (user_id) min-groupBy — partial
    aggregation combines map-side, so the exchanges carry one (user_id,
    BIGINT) row per user per stage, not events; the stage tables are
    user-cardinality and all joins are user-keyed on the same
    partitioning (one exchange reused), or broadcast when the funnel
    population is small relative to the corpus. Event rows themselves
    never shuffle twice."""
    e = load(spark, sf, "events").select(
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
    )
    u = e.select("user_id").distinct()
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("sec") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("sec") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_purchase"))
    )
    stage = (
        F.when(F.col("t_purchase").isNotNull(), 3)
        .when(F.col("t_click").isNotNull(), 2)
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        u.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id", "t_view", "t_click", "t_purchase",
            stage.cast("int").alias("stage"),
        )
    )


@_q(
    "retention_cohorts",
    """WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events
),
f AS (SELECT user_id, min(day) AS d0 FROM e GROUP BY user_id),
a AS (
  SELECT DISTINCT e.user_id, f.d0 // 7 AS cohort_week,
         (e.day - f.d0) // 7 AS week_offset
  FROM e JOIN f USING (user_id)
)
SELECT CAST(cohort_week AS INT) AS cohort_week,
       CAST(week_offset AS INT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM a GROUP BY cohort_week, week_offset""",
)
def retention_cohorts(spark, sf):
    """Cohort retention matrix: users grouped by first-activity week,
    counted once per (cohort, weeks-since-first) cell — the table every
    retention curve and triangle chart reads off. Day and week indices
    are integer floor-divisions of epoch seconds, exact on both engines.

    Scale shape: first-activity is a (user_id) min-groupBy (partial agg,
    (user_id, int) exchange); the activity join is user-keyed on the
    same partitioning; per-user weekly dedup happens BEFORE the census
    groupBy so the final exchange carries (week, offset) pairs at
    cohort-matrix cardinality — thousands of cells, independent of
    corpus size."""
    e = load(spark, sf, "events").select(
        "user_id",
        F.expr(
            "cast(cast(ts as timestamp) as long) div 86400"
        ).alias("day"),
    )
    f = e.groupBy("user_id").agg(F.min("day").alias("d0"))
    a = (
        e.join(f, "user_id")
        .select(
            "user_id",
            F.expr("d0 div 7").alias("cohort_week"),
            F.expr("(day - d0) div 7").alias("week_offset"),
        )
        .distinct()
    )
    return a.groupBy(
        F.col("cohort_week").cast("int").alias("cohort_week"),
        F.col("week_offset").cast("int").alias("week_offset"),
    ).agg(F.count(F.lit(1)).alias("n_users"))


@_q(
    "events_transitions",
    """WITH e AS (
  SELECT user_id, event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events
),
t AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY sec, event_id) AS prev,
         event_type AS cur
  FROM e
),
c AS (
  SELECT prev, cur, CAST(count(*) AS BIGINT) AS n
  FROM t WHERE prev IS NOT NULL GROUP BY prev, cur
)
SELECT prev, cur, n,
       CAST(1000 * n // SUM(n) OVER (PARTITION BY prev) AS BIGINT)
         AS permille
FROM c""",
)
def events_transitions(spark, sf):
    """First-order Markov transition census over per-user event streams —
    the next-action model behind sequence mining and UX-flow dashboards.
    Each (prev → cur) pair counted over the per-user (sec, event_id)
    total order; `permille` is the integer row-normalized transition
    share (1000·n // row total), so the whole matrix is integers.

    Scale shape: the lag window's (user_id) exchange carries (ids, small
    strings); the census groupBy contracts to |types|² rows, and the
    normalizing window runs on THAT tiny table — never on events. Same
    three-stage contraction at any corpus size."""
    e = load(spark, sf, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
    )
    w = W.partitionBy("user_id").orderBy("sec", "event_id")
    t = e.select(
        F.lag("event_type").over(w).alias("prev"),
        F.col("event_type").alias("cur"),
    ).filter(F.col("prev").isNotNull())
    c = t.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("n"))
    wn = W.partitionBy("prev")
    # integer floor-division (div), matching the oracle's `//` — a double
    # division + floor could round a near-integer quotient up first
    return c.withColumn("tot", F.sum("n").over(wn)).select(
        "prev",
        "cur",
        "n",
        F.expr("(1000 * n) div tot").cast("bigint").alias("permille"),
    )


@_q(
    "ts_downsample",
    """WITH e AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 60 AS minute,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id, value
  FROM events
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, minute
                            ORDER BY sec, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, minute
                            ORDER BY sec DESC, event_id DESC) AS rn_z
  FROM e
)
SELECT event_type, CAST(minute AS BIGINT) AS minute,
       CAST(count(*) AS BIGINT) AS n,
       min(value) AS low, max(value) AS high,
       min(CASE WHEN rn_a = 1 THEN value END) AS open,
       min(CASE WHEN rn_z = 1 THEN value END) AS close
FROM r GROUP BY event_type, minute""",
)
def ts_downsample(spark, sf):
    """Time-series downsampling to per-minute OHLC bars (open/high/low/
    close + count) per event type — the rollup every metrics store and
    market-data pipeline runs before charting. Open/close are the values
    at the (sec, event_id) total-order extremes of each bucket — row_
    number picks them deterministically; ties can't leak partition
    order. No arithmetic touches the doubles (pure selection), so both
    engines emit bit-identical values.

    Scale shape: both row_number windows and the final groupBy share the
    (event_type, minute) partitioning — one exchange; bucket cardinality
    is time-bounded (minutes × types), so the output contracts by the
    per-bucket event rate regardless of corpus size."""
    sec = F.col("ts").cast("timestamp").cast("long")
    e = load(spark, sf, "events").select(
        "event_type",
        F.expr("cast(cast(ts as timestamp) as long) div 60").alias(
            "minute"
        ),
        sec.alias("sec"),
        "event_id",
        "value",
    )
    wa = W.partitionBy("event_type", "minute").orderBy("sec", "event_id")
    wz = W.partitionBy("event_type", "minute").orderBy(
        F.desc("sec"), F.desc("event_id")
    )
    r = e.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_z", F.row_number().over(wz)
    )
    return r.groupBy("event_type", "minute").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("low"),
        F.max("value").alias("high"),
        F.min(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.min(F.when(F.col("rn_z") == 1, F.col("value"))).alias("close"),
    )


@_q(
    "agg_unpivot",
    """WITH p AS (
  SELECT user_id,
         CAST(count(*) FILTER (WHERE event_type = 'view')  AS BIGINT) AS n_view,
         CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
         CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error
  FROM events GROUP BY user_id
)
SELECT user_id, kind, n
FROM p UNPIVOT (n FOR kind IN (n_view, n_click, n_error))
WHERE n > 0""",
)
def agg_unpivot(spark, sf):
    """UNPIVOT/melt — the inverse of ``agg_pivot``: a wide per-user
    counts table back to tall (user_id, kind, n) rows, the reshape every
    metrics consumer downstream of a pivot eventually needs. Spark's
    native ``unpivot`` (4.x) against DuckDB's UNPIVOT clause; both drop
    rows via the same n > 0 filter (Spark's unpivot keeps zeros, DuckDB
    keeps NULLs-out — the explicit filter pins one semantics).

    Scale: the pivot is one (user_id) exchange; the melt itself is a
    zero-shuffle Expand projection (3 rows out per row in, same task)."""
    e = load(spark, sf, "events")
    p = e.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
            for t in ("view", "click", "error")
        ]
    )
    return p.unpivot(
        "user_id", ["n_view", "n_click", "n_error"], "kind", "n"
    ).filter(F.col("n") > 0)


@_q(
    "win_pctrank",
    """SELECT c_custkey, c_nationkey,
              round(percent_rank() OVER w, 6) AS pr,
              round(cume_dist() OVER w, 6)    AS cd
       FROM customer
       WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)""",
)
def win_pctrank(spark, sf):
    """percent_rank + cume_dist — the normalized-rank pair analysts use
    for within-group percentile positions. The (c_acctbal, c_custkey)
    order is TOTAL so ties can't shift ranks between engines; both
    functions are exact rationals ((rank−1)/(n−1), count≤/n) evaluated
    identically, rounded once.

    Scale: one (c_nationkey) exchange, one bounded per-partition sort —
    the same story as every rank window; a monster partition gets the
    two-pass distributed percentile treatment instead."""
    c = load(spark, sf, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@_q(
    "fn_bits",
    """SELECT l_orderkey, l_linenumber,
              CAST(l_orderkey & 255 AS BIGINT)        AS k_and,
              CAST(l_orderkey | 15 AS BIGINT)         AS k_or,
              CAST(xor(l_orderkey, l_linenumber) AS BIGINT) AS k_xor,
              CAST(l_linenumber << 4 AS BIGINT)       AS k_shl,
              CAST(l_orderkey >> 3 AS BIGINT)         AS k_shr,
              CAST(bit_count(l_orderkey) AS INT)      AS k_pop
       FROM lineitem""",
)
def fn_bits(spark, sf):
    # B7 bitwise family: and/or/xor/shifts/popcount — partition routing,
    # bloom lanes, and flag unpacking all live on these; pure scan-stage
    # codegen, zero shuffle.
    li = load(spark, sf, "lineitem")
    k, ln = F.col("l_orderkey"), F.col("l_linenumber")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        k.bitwiseAND(F.lit(255)).cast("bigint").alias("k_and"),
        k.bitwiseOR(F.lit(15)).cast("bigint").alias("k_or"),
        k.bitwiseXOR(ln).cast("bigint").alias("k_xor"),
        F.shiftleft(ln, 4).cast("bigint").alias("k_shl"),
        F.shiftright(k, 3).cast("bigint").alias("k_shr"),
        F.bit_count(k).cast("int").alias("k_pop"),
    )


_CUSUM_PLANT = 50_000  # cents injected on every 89th minute bucket
_CUSUM_H = 25_000      # alert threshold (cents of cumulative excess)


@_q(
    "ts_cusum",
    f"""WITH b AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 60 AS minute,
         CAST(floor(SUM(value) * 100) AS BIGINT)
         + CASE WHEN (CAST(floor(epoch(ts)) AS BIGINT) // 60) % 89 = 0
                THEN {_CUSUM_PLANT} ELSE 0 END AS cents
  FROM events GROUP BY 1, 2
),
k AS (
  SELECT event_type, SUM(cents) // COUNT(*) AS k FROM b GROUP BY event_type
),
p AS (
  -- allowance = one extra baseline (d = x - 2k): noise drifts NEGATIVE
  -- between bursts so the clamp resets the alarm; only sustained >2x
  -- baseline traffic accumulates
  SELECT b.event_type, b.minute,
         SUM(b.cents - 2 * k.k) OVER (PARTITION BY b.event_type
                                      ORDER BY b.minute) AS pfx
  FROM b JOIN k USING (event_type)
),
s AS (
  SELECT event_type, minute,
         pfx - LEAST(0, MIN(pfx) OVER (PARTITION BY event_type
                                       ORDER BY minute)) AS cusum
  FROM p
)
SELECT event_type, CAST(minute AS BIGINT) AS minute,
       CAST(cusum AS BIGINT) AS cusum_cents
FROM s WHERE cusum > {_CUSUM_H}""",
)
def ts_cusum(spark, sf):
    """CUSUM changepoint detection over the per-minute value series —
    the classic sequential drift alarm (Page '54), here with a planted
    burst every 89th minute so the alarm provably fires. The clamped
    recursion s_i = max(0, s_{{i-1}} + x_i − k) is NOT a window
    function — but it has an exact closed form: s_i = P_i − min(0,
    min_{{j≤i}} P_j) where P is the prefix sum of (x − k). That identity
    turns a sequential fold into two stock windows (cumulative sum +
    running min), which is what makes CUSUM a DATAFLOW op at all.

    Determinism: bucket sums floor to integer cents, the baseline k is
    an integer floor-mean per type (the CUSUM allowance is one further
    baseline, so noise drifts negative and the clamp resets the alarm
    between bursts), and both windows order by (minute) —
    unique within a type — so every value is an exact BIGINT on both
    engines.

    Scale shape: one (event_type, minute) partial-agg census (the same
    contraction as ``ts_downsample``), then two windows and the final
    filter all on the (event_type)-partitioned BUCKET table — corpus
    size never touches the window; a year of minutes is ~526k rows per
    type."""
    e = load(spark, sf, "events")
    b = (
        e.select(
            "event_type",
            F.expr("cast(cast(ts as timestamp) as long) div 60").alias(
                "minute"
            ),
            "value",
        )
        .groupBy("event_type", "minute")
        .agg(
            (
                F.floor(F.sum("value") * 100)
                + F.when(
                    F.col("minute") % 89 == 0, F.lit(_CUSUM_PLANT)
                ).otherwise(0)
            ).cast("long").alias("cents")
        )
    )
    k = b.groupBy("event_type").agg(
        F.expr("sum(cents) div count(*)").alias("k")
    )
    wo = W.partitionBy("event_type").orderBy("minute")
    p = b.join(k, "event_type").withColumn(
        "pfx", F.sum(F.col("cents") - 2 * F.col("k")).over(wo)
    )
    s = p.withColumn(
        "cusum", F.col("pfx") - F.least(F.lit(0), F.min("pfx").over(wo))
    )
    return s.filter(F.col("cusum") > _CUSUM_H).select(
        "event_type",
        F.col("minute").cast("bigint").alias("minute"),
        F.col("cusum").cast("bigint").alias("cusum_cents"),
    )


@_q(
    "events_attribution",
    """WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events
),
w AS (
  SELECT event_id, user_id, event_type, sec,
         first_value(CASE WHEN event_type IN ('view', 'click')
                          THEN event_id END IGNORE NULLS)
           OVER u AS first_touch_id,
         first_value(CASE WHEN event_type IN ('view', 'click')
                          THEN event_type END IGNORE NULLS)
           OVER u AS first_touch_type,
         last_value(CASE WHEN event_type IN ('view', 'click')
                         THEN event_id END IGNORE NULLS)
           OVER u AS last_touch_id,
         last_value(CASE WHEN event_type IN ('view', 'click')
                         THEN event_type END IGNORE NULLS)
           OVER u AS last_touch_type,
         sum(CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END)
           OVER u AS n_touches
  FROM e
  WINDOW u AS (PARTITION BY user_id ORDER BY sec, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id AS purchase_id, user_id,
       first_touch_id, first_touch_type, last_touch_id, last_touch_type,
       CAST(coalesce(n_touches, 0) AS BIGINT) AS n_touches
FROM w WHERE event_type = 'purchase'""",
)
def events_attribution(spark, sf):
    """First-touch / last-touch marketing attribution: every purchase is
    annotated with the FIRST and the MOST RECENT preceding touch event
    (view or click) of the same user, plus the touch count — the two
    canonical attribution models, computed in one pass.  Running
    conditional window aggregates with IGNORE NULLS do all the work; a
    purchase with no prior touch keeps NULLs and n_touches = 0 (the
    "direct conversion" row an attribution report must not drop).
    Ordering ties break on event_id, so both engines see one total
    order.

    Scale shape: ONE exchange keyed user_id, then a partition-local
    ordered scan — no self-join of the event stream against itself (the
    naive per-conversion lookback join is quadratic in events per
    user).  Per-user state in the window is four scalars; skewed power
    users cost sort time, not memory.  The same frame serves all five
    outputs, so Catalyst collapses them into a single Window operator."""
    e = load(spark, sf, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
    )
    u = (
        W.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin("view", "click")
    tid = F.when(is_touch, F.col("event_id"))
    tty = F.when(is_touch, F.col("event_type"))
    w = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.first(tid, ignorenulls=True).over(u).alias("first_touch_id"),
        F.first(tty, ignorenulls=True).over(u).alias("first_touch_type"),
        F.last(tid, ignorenulls=True).over(u).alias("last_touch_id"),
        F.last(tty, ignorenulls=True).over(u).alias("last_touch_type"),
        F.sum(F.when(is_touch, 1).otherwise(0)).over(u).alias("n_touches"),
    )
    return w.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "first_touch_id",
        "first_touch_type",
        "last_touch_id",
        "last_touch_type",
        F.coalesce("n_touches", F.lit(0)).cast("bigint").alias("n_touches"),
    )


# exact integer revenue: cents(extendedprice) * (100 - cents-discount)
# = price*discount-complement in 1e-4 dollar units, summable in any order
_REV_SQL = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
)


@_q(
    "tpch_q3",
    f"""WITH j AS (
  SELECT l.l_orderkey,
         CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS orderdate_s,
         o.o_orderpriority,
         {_REV_SQL} AS rev
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1999-06-01 00:00:00'
    AND l.l_shipdate > TIMESTAMP '1999-06-01 00:00:00'
),
g AS (
  SELECT l_orderkey, orderdate_s, o_orderpriority,
         CAST(sum(rev) AS BIGINT) AS revenue_e4
  FROM j GROUP BY l_orderkey, orderdate_s, o_orderpriority
),
r AS (
  SELECT *, row_number() OVER (ORDER BY revenue_e4 DESC, orderdate_s,
                               l_orderkey) AS rk
  FROM g
)
SELECT l_orderkey, revenue_e4, orderdate_s, o_orderpriority
FROM r WHERE rk <= 10""",
)
def tpch_q3(spark, sf):
    """TPC-H Q3 (shipping priority): top unshipped orders of one market
    segment by revenue — the canonical 3-way star join + aggregate +
    top-k.  Revenue sums EXACT 1e-4-dollar integers (cents(price) x
    discount-complement-in-cents), so the sum is order-insensitive and
    the top-10 cut (ties broken by date then key) is deterministic in
    both engines — the float-sum nondeterminism that makes naive Q3
    unhashable never arises.

    Scale shape: both filters are scan-stage (pushed to parquet row
    groups); the BUILDING customer table broadcasts onto orders, the
    surviving orders broadcast-or-SMJ onto lineitem keyed l_orderkey,
    and the rollup's partial aggregate combines map-side so the final
    exchange carries one row per qualifying order.  The global top-10
    window runs over that order-cardinality table — at 10^12 lineitems
    a rank-then-limit over qualifying ORDERS is ~10^6 rows, and AQE
    picks the broadcast side from runtime sizes."""
    c = (
        load(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = load(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-06-01 00:00:00").cast("timestamp")
    )
    li = load(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-06-01 00:00:00").cast("timestamp")
    )
    j = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .select(
            "l_orderkey",
            F.col("o_orderdate")
            .cast("timestamp")
            .cast("long")
            .alias("orderdate_s"),
            "o_orderpriority",
            F.expr(_REV_SQL).alias("rev"),
        )
    )
    g = j.groupBy("l_orderkey", "orderdate_s", "o_orderpriority").agg(
        F.sum("rev").cast("bigint").alias("revenue_e4")
    )
    rk = F.row_number().over(
        W.orderBy(
            F.col("revenue_e4").desc(), F.col("orderdate_s"), F.col("l_orderkey")
        )
    )
    return (
        g.withColumn("rk", rk)
        .filter(F.col("rk") <= 10)
        .select("l_orderkey", "revenue_e4", "orderdate_s", "o_orderpriority")
    )


@_q(
    "tpch_q5",
    f"""SELECT n.n_name,
       CAST(sum({_REV_SQL}) AS BIGINT) AS revenue_e4,
       CAST(count(*) AS BIGINT) AS n_items
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
               AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n.n_name""",
)
def tpch_q5(spark, sf):
    """TPC-H Q5 (local supplier volume): revenue by nation where the
    customer and the supplier share a nation inside one region — the
    canonical 6-way join with a cross-dimension equality (s_nationkey =
    c_nationkey) that defeats naive star-join planners.  Revenue uses
    the same exact 1e-4-dollar integers as Q3, so the per-nation sums
    hash-match bit-for-bit.

    Scale shape: region->nation->supplier is a broadcast chain (tiny
    dims); the customer-orders and orders-lineitem joins shuffle on
    their natural keys with scan-stage date pruning; the
    nation-equality lands as a join-side filter once supplier
    broadcasts, so no extra exchange appears for it.  Final aggregate
    is 25 groups — partial agg collapses everything map-side."""
    c = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf, "lineitem")
    s = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(
            F.broadcast(s),
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("n_name")
        .agg(
            F.sum(F.expr(_REV_SQL)).cast("bigint").alias("revenue_e4"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


@_q(
    "tpch_q8",
    f"""WITH allrev AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         n2.n_name AS supp_nation,
         {_REV_SQL} AS rev
  FROM part p
  JOIN lineitem l ON l.l_partkey = p.p_partkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n1.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
)
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN rev ELSE 0 END)
            AS BIGINT) AS nation_rev_e4,
       CAST(sum(rev) AS BIGINT) AS total_rev_e4,
       CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN rev ELSE 0 END)
            * 1000000 // sum(rev) AS BIGINT) AS share_ppm
FROM allrev GROUP BY o_year""",
)
def tpch_q8(spark, sf):
    """TPC-H Q8 (national market share): of the PROMO-part revenue sold
    into EUROPEAN customers over two years, what fraction came from
    NATION_7 suppliers, per year — the 8-way join whose two nation roles
    (customer's vs supplier's) force the same dimension in twice under
    different keys.  The share is exact integer parts-per-million
    (1e-4-dollar revenue units, integer floor division), so no float
    ratio ever orders or hashes differently.

    Scale shape: part is filtered then joined FIRST (the most selective
    reducer of the lineitem stream); region→nation→customer prunes the
    order side; supplier and both nation copies broadcast.  The only
    big exchanges are lineitem⋈part and orders⋈customer on natural
    keys; the yearly rollup is 2 groups, all partial map-side."""
    p = (
        load(spark, sf, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    li = load(spark, sf, "lineitem")
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = load(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n1 = load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_reg")
    )
    r = load(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    s = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n2 = load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n1_reg"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("s_nationkey"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            "supp_nation",
            F.expr(_REV_SQL).alias("rev"),
        )
    )
    nat = F.sum(F.when(F.col("supp_nation") == "NATION_7", F.col("rev")).otherwise(0))
    tot = F.sum("rev")
    return j.groupBy("o_year").agg(
        nat.cast("bigint").alias("nation_rev_e4"),
        tot.cast("bigint").alias("total_rev_e4"),
        F.expr(
            "CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN rev ELSE 0 END)"
            " * 1000000 DIV sum(rev) AS BIGINT)"
        ).alias("share_ppm"),
    )


@_q(
    "scd2_intervals",
    """WITH e AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events
),
runs AS (
  SELECT user_id, event_id, event_type, sec,
         sum(CASE WHEN event_type = prev_type THEN 0 ELSE 1 END)
           OVER (PARTITION BY user_id ORDER BY sec, event_id) AS run_id
  FROM (SELECT *, lag(event_type)
                    OVER (PARTITION BY user_id ORDER BY sec, event_id)
                  AS prev_type
        FROM e) x
),
collapsed AS (
  SELECT user_id, run_id, any_value(event_type) AS state,
         min(sec) AS valid_from_s, CAST(count(*) AS BIGINT) AS n_events
  FROM runs GROUP BY user_id, run_id
)
SELECT user_id, CAST(run_id AS BIGINT) AS run_id, state, valid_from_s,
       lead(valid_from_s)
         OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to_s,
       n_events,
       lead(valid_from_s)
         OVER (PARTITION BY user_id ORDER BY run_id) IS NULL AS is_current
FROM collapsed""",
)
def scd2_intervals(spark, sf):
    """Slowly-changing-dimension Type 2 build: turn each user's event
    stream into validity intervals — consecutive runs of the same state
    collapse to one row with [valid_from, valid_to) stamped from the
    NEXT run's start, and the open interval flags is_current — the
    standard lakehouse dimension-history shape (what a MERGE-based SCD2
    pipeline materializes incrementally; this is the batch rebuild).
    Ties order by event_id so both engines see one total order.

    Scale shape: one exchange keyed user_id serves everything — the
    run-detection window, the per-run collapse (map-side combinable
    after the window), and the interval-stamping lead() all reuse the
    same partitioning; nothing re-sorts globally and per-user state is a
    single row.  The collapsed table is runs-cardinality (<= events),
    so the second window is strictly cheaper than the first."""
    e = load(spark, sf, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
    )
    wu = W.partitionBy("user_id").orderBy("sec", "event_id")
    runs = e.withColumn("prev_type", F.lag("event_type").over(wu)).withColumn(
        "run_id",
        F.sum(
            F.when(F.col("event_type") == F.col("prev_type"), 0).otherwise(1)
        ).over(wu),
    )
    collapsed = runs.groupBy("user_id", "run_id").agg(
        F.any_value("event_type").alias("state"),
        F.min("sec").alias("valid_from_s"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    wr = W.partitionBy("user_id").orderBy("run_id")
    nxt = F.lead("valid_from_s").over(wr)
    return collapsed.select(
        "user_id",
        F.col("run_id").cast("bigint").alias("run_id"),
        "state",
        "valid_from_s",
        nxt.alias("valid_to_s"),
        "n_events",
        nxt.isNull().alias("is_current"),
    )


@_q(
    "ts_gapfill",
    """WITH e AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 600 AS bucket,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
obs AS (
  SELECT event_type, bucket,
         CAST(sum(cents) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS n
  FROM e GROUP BY event_type, bucket
),
bounds AS (
  SELECT event_type, min(bucket) AS mn, max(bucket) AS mx FROM obs
  GROUP BY event_type
),
grid AS (
  SELECT b.event_type, u.g AS bucket
  FROM bounds b, LATERAL (SELECT unnest(generate_series(b.mn, b.mx)) AS g) u
)
SELECT g.event_type, CAST(g.bucket AS BIGINT) AS bucket,
       CAST(coalesce(o.n, 0) AS BIGINT) AS n,
       o.cents IS NULL AS filled,
       last_value(o.cents IGNORE NULLS)
         OVER (PARTITION BY g.event_type ORDER BY g.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS cents_ff
FROM grid g
LEFT JOIN obs o ON o.event_type = g.event_type AND o.bucket = g.bucket""",
)
def ts_gapfill(spark, sf):
    """Time-series gap fill: densify each event type's 10-minute buckets
    to a complete calendar grid and FORWARD-FILL the last observed value
    into empty buckets (flagged) — the resample-then-ffill step every
    feature pipeline and monitoring rollup runs before joins that assume
    a dense time axis.  Values aggregate as exact integer cents; the
    grid is generated from each series' own [min, max] bucket range so
    no engine invents out-of-range rows.

    Scale shape: the observed table is the downsampled (type, bucket)
    aggregate — tiny vs events; the grid EXPLODES from a bounds row per
    type (sequence(), scan-stage, never a driver loop), the fill is one
    IGNORE-NULLS window per type over grid-cardinality rows, and the
    grid join is co-partitioned with the fill's own exchange.  Sparse
    series cost their gap count, not the corpus."""
    e = load(spark, sf, "events").select(
        "event_type",
        F.expr(
            "CAST(floor(CAST(CAST(ts AS TIMESTAMP) AS DOUBLE)) AS BIGINT)"
            " DIV 600"
        ).alias("bucket"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    obs = e.groupBy("event_type", "bucket").agg(
        F.sum("cents").cast("bigint").alias("cents"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    bounds = obs.groupBy("event_type").agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    grid = bounds.select(
        "event_type", F.explode(F.sequence("mn", "mx")).alias("bucket")
    )
    j = grid.join(obs, ["event_type", "bucket"], "left")
    wf = (
        W.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return j.select(
        "event_type",
        F.col("bucket").cast("bigint").alias("bucket"),
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        F.col("cents").isNull().alias("filled"),
        F.last("cents", ignorenulls=True).over(wf).alias("cents_ff"),
    )


@_q(
    "tpch_q17",
    """WITH li AS (
  SELECT l_partkey,
         CAST(round(l_quantity * 100) AS BIGINT) AS q_c,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
  FROM lineitem
),
pk AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#7'),
stats AS (
  SELECT l.l_partkey,
         CAST(sum(l.q_c) AS BIGINT) AS sum_q,
         CAST(count(*) AS BIGINT) AS cnt
  FROM li l JOIN pk ON pk.p_partkey = l.l_partkey
  GROUP BY l.l_partkey
)
SELECT CAST(count(*) AS BIGINT) AS n_small,
       CAST(coalesce(sum(l.price_c), 0) AS BIGINT) AS revenue_c,
       CAST(coalesce(sum(l.price_c), 0) // 7 AS BIGINT) AS yearly_c
FROM li l
JOIN stats s ON s.l_partkey = l.l_partkey
WHERE 5 * l.q_c * s.cnt < s.sum_q""",
)
def tpch_q17(spark, sf):
    """TPC-H Q17 (small-quantity-order revenue): lineitems of one brand
    whose quantity is below 20% of that PART's average quantity — the
    canonical correlated scalar subquery, implemented DECORRELATED (the
    rewrite every optimizer wants): per-part (sum, count) aggregate,
    joined back, with the avg comparison cross-multiplied into exact
    integers (5·q·cnt < Σq — no float average ever materializes, so
    both engines agree bit-for-bit).  The /7 "yearly" divisor is Q17's
    shape, integer floor.

    Scale shape: the brand filter broadcasts onto lineitem; the
    per-part stats table is the SAME (partkey)-keyed exchange the
    verify join then reuses (one shuffle serves both), and stats rows
    are part-cardinality.  The correlated form would re-scan lineitem
    per part; the decorrelated plan pays one aggregate."""
    li = load(spark, sf, "lineitem").select(
        "l_partkey",
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("q_c"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
    )
    pk = (
        load(spark, sf, "part")
        .filter(F.col("p_brand") == "Brand#7")
        .select("p_partkey")
    )
    lik = li.join(F.broadcast(pk), li.l_partkey == pk.p_partkey).select(
        "l_partkey", "q_c", "price_c"
    )
    stats = lik.groupBy("l_partkey").agg(
        F.sum("q_c").cast("bigint").alias("sum_q"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    small = lik.join(stats, "l_partkey").filter(
        5 * F.col("q_c") * F.col("cnt") < F.col("sum_q")
    )
    return small.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_small"),
        F.coalesce(F.sum("price_c"), F.lit(0))
        .cast("bigint")
        .alias("revenue_c"),
        F.expr("CAST(coalesce(sum(price_c), 0) DIV 7 AS BIGINT)").alias(
            "yearly_c"
        ),
    )


@_q(
    "fn_null",
    """SELECT doc_id,
       nullif(doc_id % 7, 0) AS nz,
       coalesce(nullif(doc_id % 7, 0), -1) AS co,
       CAST(doc_id % 5 AS BIGINT) IS DISTINCT FROM
         CAST(doc_id % 7 AS BIGINT) AS dist,
       nullif(doc_id % 3, 0) IS NOT DISTINCT FROM
         nullif(doc_id % 5, 0) AS same,
       CASE WHEN nullif(doc_id % 7, 0) IS NULL THEN 'none'
            ELSE 'some' END AS tag,
       CAST(count(nullif(doc_id % 7, 0))
              OVER (PARTITION BY doc_id % 10) AS BIGINT) AS grp_nonnull
FROM documents""",
)
def fn_null(spark, sf):
    """Null-semantics function family (B7 tail): NULLIF / COALESCE /
    IS [NOT] DISTINCT FROM / CASE-on-NULL / count-skips-nulls — the
    three-valued-logic corners where engines classically diverge
    (DISTINCT FROM treats NULL=NULL as true; count() ignores nulls;
    comparisons propagate) — pinned identical across both engines.

    Scale: pure scan-stage projections plus one window whose partition
    key has bounded cardinality; nothing here shuffles more than the
    10-group count."""
    d = load(spark, sf, "documents")
    nz = F.nullif(F.col("doc_id") % 7, F.lit(0))
    return d.select(
        "doc_id",
        nz.alias("nz"),
        F.coalesce(nz, F.lit(-1)).alias("co"),
        F.expr(
            "CAST(doc_id % 5 AS BIGINT) IS DISTINCT FROM"
            " CAST(doc_id % 7 AS BIGINT)"
        ).alias("dist"),
        F.expr(
            "nullif(doc_id % 3, 0) IS NOT DISTINCT FROM nullif(doc_id % 5, 0)"
        ).alias("same"),
        F.when(nz.isNull(), "none").otherwise("some").alias("tag"),
        F.count(nz)
        .over(W.partitionBy(F.col("doc_id") % 10))
        .cast("bigint")
        .alias("grp_nonnull"),
    )


@_q(
    "events_streaks",
    """WITH days AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events
),
grp AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day)
           AS anchor
  FROM days
),
streaks AS (
  SELECT user_id, anchor, CAST(count(*) AS BIGINT) AS len,
         CAST(min(day) AS BIGINT) AS start_day
  FROM grp GROUP BY user_id, anchor
)
SELECT user_id,
       CAST(sum(len) AS BIGINT) AS n_active_days,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(max(len) AS BIGINT) AS longest,
       CAST(min(start_day) AS BIGINT) AS first_day
FROM streaks GROUP BY user_id""",
)
def events_streaks(spark, sf):
    """Consecutive-active-day streaks per user — the retention metric
    engagement teams track, via the classic day − row_number() anchor
    (consecutive days share one anchor, so streaks fall out of a plain
    groupBy; no iterative logic, no self-join).  All integer day
    arithmetic; distinct-day dedup first so multi-event days count
    once.

    Scale shape: one exchange keyed user_id serves the distinct, the
    anchor window, and both rollups; per-user window state is one
    counter, and the streak table is strictly smaller than active-days.
    The same plan at 10^9 users is embarrassingly parallel — no global
    anything."""
    e = load(spark, sf, "events").select(
        "user_id",
        F.expr(
            "CAST(floor(CAST(CAST(ts AS TIMESTAMP) AS DOUBLE)) AS BIGINT)"
            " DIV 86400"
        ).alias("day"),
    ).distinct()
    wd = W.partitionBy("user_id").orderBy("day")
    grp = e.withColumn(
        "anchor", F.col("day") - F.row_number().over(wd)
    )
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).cast("bigint").alias("len"),
        F.min("day").cast("bigint").alias("start_day"),
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("len").cast("bigint").alias("longest"),
        F.min("start_day").cast("bigint").alias("first_day"),
    )


@_q(
    "tpch_q10",
    f"""WITH j AS (
  SELECT c.c_custkey, c.c_name, n.n_name,
         {_REV_SQL} AS rev
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
),
g AS (
  SELECT c_custkey, c_name, n_name,
         CAST(sum(rev) AS BIGINT) AS revenue_e4
  FROM j GROUP BY c_custkey, c_name, n_name
),
r AS (
  SELECT *, row_number() OVER (ORDER BY revenue_e4 DESC, c_custkey) AS rk
  FROM g
)
SELECT c_custkey, c_name, n_name, revenue_e4
FROM r WHERE rk <= 20""",
)
def tpch_q10(spark, sf):
    """TPC-H Q10 (returned-item reporting): the top customers by revenue
    lost to returns in one half-year — fact-fact join on natural keys
    with scan-stage date and returnflag pruning, a customer-grain
    rollup, and a deterministic top-20 (exact 1e-4-dollar integers;
    ties break on custkey, so the cut is stable in both engines).

    Scale shape: both filters reach parquet row groups; nation
    broadcasts; the per-customer aggregate partial-combines so the
    final exchange is customer-grain; the global top-20 ranks that
    aggregate only (at 10^12 lineitems this is ~10^7 rows, and a
    TakeOrdered would replace the window if only the rows — not the
    ranks — were needed)."""
    c = load(spark, sf, "customer").select("c_custkey", "c_name", "c_nationkey")
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf, "nation").select("n_nationkey", "n_name")
    g = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(F.expr(_REV_SQL)).cast("bigint").alias("revenue_e4"))
    )
    rk = F.row_number().over(
        W.orderBy(F.col("revenue_e4").desc(), F.col("c_custkey"))
    )
    return (
        g.withColumn("rk", rk)
        .filter(F.col("rk") <= 20)
        .select("c_custkey", "c_name", "n_name", "revenue_e4")
    )


@_q(
    "events_gap_hist",
    """WITH e AS (
  SELECT user_id, event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events
),
gaps AS (
  SELECT event_type,
         sec - lag(sec) OVER (PARTITION BY user_id, event_type
                              ORDER BY sec, event_id) AS gap
  FROM e
)
SELECT event_type,
       CAST(length(printf('%b', gap + 1)) - 1 AS BIGINT) AS log2_bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(gap) AS BIGINT) AS gap_min,
       CAST(max(gap) AS BIGINT) AS gap_max
FROM gaps WHERE gap IS NOT NULL
GROUP BY event_type, length(printf('%b', gap + 1)) - 1""",
)
def events_gap_hist(spark, sf):
    """Inter-arrival histogram per event type on a log2 axis: each gap
    between a user's consecutive same-type events lands in bucket
    floor(log2(gap+1)) via the exact integer bit-length trick
    (`text_surprisal`'s device — no float log), giving the
    power-of-two-bucketed cadence profile bot-detection and capacity
    models read (human cadences spread across buckets; scripted
    traffic spikes one).

    Scale shape: one exchange keyed (user, type) for the lag window —
    per-partition state is one row — then a map-side-combined census to
    |types| x ~40 bucket rows.  The histogram of 10^12 events is a few
    hundred output rows; nothing else moves."""
    e = load(spark, sf, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
    )
    wg = W.partitionBy("user_id", "event_type").orderBy("sec", "event_id")
    gaps = e.select(
        "event_type", (F.col("sec") - F.lag("sec").over(wg)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    bucket = (F.length(F.expr("bin(gap + 1)")) - 1).cast("bigint")
    return gaps.groupBy("event_type", bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("gap").cast("bigint").alias("gap_min"),
        F.max("gap").cast("bigint").alias("gap_max"),
    )


@_q(
    "win_sliding_median",
    """WITH m AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 600 AS bucket,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, bucket, cents,
         median(cents) OVER (PARTITION BY event_type ORDER BY bucket
                             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
           AS med,
         count(*) OVER (PARTITION BY event_type ORDER BY bucket
                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS wn
  FROM m
)
SELECT event_type, bucket, cents, CAST(med AS BIGINT) AS median_cents
FROM w WHERE wn = 5""",
)
def win_sliding_median(spark, sf):
    """Exact sliding median (5-bucket window) over each type's
    10-minute revenue stream — the robust smoother monitoring uses
    where a mean would chase single-bucket spikes.  Spark has no
    median-over-frame builtin, so the window collects its 5 frame
    values, SORTS the array (making the collect's internal order
    irrelevant — the standard determinism discipline for collect_list),
    and takes the middle element; DuckDB's native windowed median
    agrees because 5 BIGINTs have a unique middle.  Only full windows
    emit, so both engines see the same frame population.

    Scale: the stream is the minute-rollup (tiny vs events); the frame
    holds 5 BIGINTs of state per row and the sort is over 5 elements —
    constant work per row, one exchange keyed event_type (production
    partitions (type, day) so no single type serializes a year)."""
    e = load(spark, sf, "events").select(
        "event_type",
        F.expr(
            "CAST(floor(CAST(CAST(ts AS TIMESTAMP) AS DOUBLE)) AS BIGINT)"
            " DIV 600"
        ).alias("bucket"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    m = e.groupBy("event_type", "bucket").agg(
        F.sum("cents").cast("bigint").alias("cents")
    )
    w5 = (
        W.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-4, W.currentRow)
    )
    w = m.select(
        "event_type",
        "bucket",
        "cents",
        F.element_at(F.sort_array(F.collect_list("cents").over(w5)), 3).alias(
            "med"
        ),
        F.count(F.lit(1)).over(w5).alias("wn"),
    )
    return w.filter(F.col("wn") == 5).select(
        "event_type",
        "bucket",
        "cents",
        F.col("med").cast("bigint").alias("median_cents"),
    )


@_q(
    "join_nullsafe",
    """WITH a AS (
  SELECT doc_id, nullif(doc_id % 7, 0) AS k FROM documents
),
b AS (
  SELECT doc_id AS b_id, nullif(doc_id % 5, 0) AS k FROM documents
)
SELECT a.doc_id, b.b_id,
       a.k IS NULL AS null_key,
       CAST(coalesce(a.k, -1) AS BIGINT) AS k_norm
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
WHERE a.doc_id % 29 = 0 AND b.b_id % 31 = 0""",
)
def join_nullsafe(spark, sf):
    """Null-safe equi-join (the ``<=>`` operator): NULL keys MATCH each
    other instead of silently dropping — the semantics entity-resolution
    and SCD merge joins need when "key unknown" is itself a join class.
    Ordinary equality would return zero NULL-key rows; the null_key
    column makes the difference visible and hash-pinned.  Pre-filters
    bound the pair volume (NULL is a hot key by nature — the classic
    skew case the docstring below addresses).

    Scale: Catalyst plans ``<=>`` as a hash join on a
    null-distinguishing key, so it shuffles like any equi-join — BUT
    every NULL row lands in ONE partition; production salts the NULL
    class or routes it through a separate broadcast branch when nulls
    are abundant (the same giants discipline as everywhere)."""
    d = load(spark, sf, "documents")
    a = d.select("doc_id", F.nullif(F.col("doc_id") % 7, F.lit(0)).alias("k"))
    b = d.select(
        F.col("doc_id").alias("b_id"),
        F.nullif(F.col("doc_id") % 5, F.lit(0)).alias("bk"),
    )
    return (
        a.filter(F.col("doc_id") % 29 == 0)
        .join(b.filter(F.col("b_id") % 31 == 0), a.k.eqNullSafe(F.col("bk")))
        .select(
            "doc_id",
            "b_id",
            F.col("k").isNull().alias("null_key"),
            F.coalesce("k", F.lit(-1)).cast("bigint").alias("k_norm"),
        )
    )


@_q(
    "scan_mergeschema",
    """WITH m AS (
  SELECT * FROM read_parquet(
    ['/tmp/caraspark_scan_stage/mergeschema/v1/*.parquet',
     '/tmp/caraspark_scan_stage/mergeschema/v2/*.parquet'],
    union_by_name = true)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(a AS BIGINT) AS a,
       CAST(coalesce(b, -1) AS BIGINT) AS b_norm,
       b IS NULL AS from_v1
FROM m""",
)
def scan_mergeschema(spark, sf):
    """S-family: schema-evolution read — two parquet generations (v2
    adds column ``b``) read as ONE table with ``mergeSchema``, old files
    surfacing NULL for the new column (DuckDB's union_by_name agrees) —
    the additive-evolution contract every long-lived lake table relies
    on, demonstrated on actual heterogeneous footers rather than a
    single writer's output.  Rows normalize the evolved column so the
    hash pins NULL placement exactly.

    Scale: mergeSchema unions footer schemas at planning time (cost per
    FILE, not per row — production caches the merged schema in the
    manifest instead of re-reading footers); the scan itself stays
    pruned and pushdown-capable per file."""
    import os

    out = "/tmp/caraspark_scan_stage/mergeschema"
    if not os.path.exists(f"{out}/v2/_SUCCESS"):
        base = spark.range(0, 100, 1, 2).select(F.col("id").alias("doc_id"))
        base.filter("doc_id < 50").select(
            "doc_id", (F.col("doc_id") * 3).alias("a")
        ).coalesce(1).write.mode("overwrite").parquet(f"{out}/v1")
        base.filter("doc_id >= 50").select(
            "doc_id",
            (F.col("doc_id") * 3).alias("a"),
            (F.col("doc_id") % 11).alias("b"),
        ).coalesce(1).write.mode("overwrite").parquet(f"{out}/v2")
    m = spark.read.option("mergeSchema", "true").parquet(out + "/v1", out + "/v2")
    return m.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("a").cast("bigint").alias("a"),
        F.coalesce("b", F.lit(-1)).cast("bigint").alias("b_norm"),
        F.col("b").isNull().alias("from_v1"),
    )


@_q(
    "events_iqr_outliers",
    """WITH e AS (
  SELECT event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
r AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM e
),
q AS (
  SELECT event_type,
         min(CASE WHEN rn * 4 >= n THEN cents END) AS q1,
         min(CASE WHEN rn * 4 >= 3 * n THEN cents END) AS q3
  FROM r GROUP BY event_type
)
SELECT e.event_type, q.q1, q.q3,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN 2 * e.cents < 2 * q.q1 - 3 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       CAST(sum(CASE WHEN 2 * e.cents > 2 * q.q3 + 3 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM e JOIN q ON q.event_type = e.event_type
GROUP BY e.event_type, q.q1, q.q3""",
)
def events_iqr_outliers(spark, sf):
    """Tukey-fence outlier census per event type: exact rank-based
    quartiles (value thresholds — the smallest value whose rank reaches
    ⌈k·n/4⌉, the same integer device as `ppl_buckets`' terciles) and
    the 1.5·IQR fences applied by CROSS-MULTIPLICATION (2·x < 2·q1 −
    3·IQR), so no float quantile interpolation or division ever decides
    an outlier — the robust anomaly count monitoring dashboards track.

    Scale: the quartile window partitions by event type — at census
    granularity that is the intended contraction (for high-cardinality
    keys the histogram trick of `ppl_buckets` replaces the row_number
    sort); the fence pass is a broadcast join of a |types|-row quartile
    table onto a scan."""
    e = load(spark, sf, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    wt = W.partitionBy("event_type").orderBy("cents", "event_id")
    r = e.select(
        "event_type",
        "cents",
        F.row_number().over(wt).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("n"),
    )
    q = r.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") * 4 >= F.col("n"), F.col("cents"))).alias(
            "q1"
        ),
        F.min(
            F.when(F.col("rn") * 4 >= 3 * F.col("n"), F.col("cents"))
        ).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        e.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(
                F.when(2 * F.col("cents") < 2 * F.col("q1") - 3 * iqr, 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_low"),
            F.sum(
                F.when(2 * F.col("cents") > 2 * F.col("q3") + 3 * iqr, 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_high"),
        )
    )


@_q(
    "tpch_q6",
    f"""SELECT CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
         AS revenue_e4
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
  AND round(l_discount * 100) BETWEEN 4 AND 8
  AND l_quantity < 24""",
)
def tpch_q6(spark, sf):
    """TPC-H Q6 (forecasting revenue change): the canonical
    scan-filter-aggregate microbenchmark — no join at all; the entire
    query is how fast predicates prune parquet and how well the
    single-pass aggregate combines.  Revenue = price x discount in
    exact 1e-4-dollar integers; the discount band compares integer
    cents (round(d*100) BETWEEN 4 AND 8), so no float equality range
    ever decides a row.

    Scale shape: all three predicates reach the parquet row-group
    stats (PushedFilters), the projection prunes to four columns, and
    the aggregate ships ONE (count, sum) pair per task — Q6 at 10^12
    rows is bandwidth-bound by design, which is why engines benchmark
    scan efficiency with it."""
    li = load(spark, sf, "lineitem")
    rev = F.round(F.col("l_extendedprice") * 100).cast("bigint") * F.round(
        F.col("l_discount") * 100
    ).cast("bigint")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("2000-01-01 00:00:00").cast("timestamp"))
            & F.round(F.col("l_discount") * 100).between(4, 8)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(rev).cast("bigint").alias("revenue_e4"),
        )
    )


@_q(
    "tpch_q14",
    f"""SELECT
  CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN {_REV_SQL} ELSE 0 END)
       AS BIGINT) AS promo_rev_e4,
  CAST(sum({_REV_SQL}) AS BIGINT) AS total_rev_e4,
  CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN {_REV_SQL} ELSE 0 END)
       * 1000000 // sum({_REV_SQL}) AS BIGINT) AS promo_ppm
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1999-03-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1999-04-01 00:00:00'""",
)
def tpch_q14(spark, sf):
    """TPC-H Q14 (promotion effect): the share of one month's revenue
    from PROMO parts — fact⋈dimension join + conditional aggregate,
    with the share in integer parts-per-million (same discipline as
    Q8), so the single output row hashes bit-for-bit.

    Scale shape: the month predicate prunes lineitem at the scan; part
    broadcasts (or, partitioned by p_partkey at 10^9 parts, the join
    shuffles once on the natural key); both conditional sums fold in
    the same partial aggregate — one pass, one exchange of two
    BIGINTs."""
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-04-01 00:00:00").cast("timestamp"))
    )
    p = load(spark, sf, "part").select("p_partkey", "p_type")
    rev = F.expr(_REV_SQL)
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0))
    tot = F.sum(rev)
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            promo.cast("bigint").alias("promo_rev_e4"),
            tot.cast("bigint").alias("total_rev_e4"),
            F.expr(
                f"CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL}"
                f" ELSE 0 END) * 1000000 DIV sum({_REV_SQL}) AS BIGINT)"
            ).alias("promo_ppm"),
        )
    )


@_q(
    "tpch_q19",
    f"""SELECT CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum({_REV_SQL}) AS BIGINT) AS revenue_e4
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)""",
)
def tpch_q19(spark, sf):
    """TPC-H Q19 (discounted revenue, disjunctive form): an OR of three
    brand/size/quantity conjunctions across BOTH join sides — the
    classic test of disjunctive predicate handling (a naive planner
    evaluates the OR only after the join; a good one pushes the
    per-side residuals: part rows outside all three brand/size boxes
    and lineitems outside the quantity hull prune before joining).
    Revenue in the exact 1e-4-dollar integers of the Q-family.

    Scale shape: Catalyst derives the infeasible-row filters on each
    side from the OR (constraint propagation), part broadcasts, and
    the disjunction evaluates join-side on the survivors — one
    exchange, one partial+final aggregate of two BIGINTs."""
    li = load(spark, sf, "lineitem")
    p = load(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.expr(_REV_SQL)).cast("bigint").alias("revenue_e4"),
    )


@_q(
    "tpch_q4",
    """SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o.o_orderpriority""",
)
def tpch_q4(spark, sf):
    """TPC-H Q4 (order-priority checking), adapted to this schema's
    columns: orders of one quarter having AT LEAST ONE lineitem shipped
    more than 30 days after the order date (the original's
    commitdate/receiptdate lateness test, re-expressed with the columns
    the corpus carries) — the canonical EXISTS-at-fact-scale query,
    planned as a LEFT SEMI join so multiplicity on the lineitem side
    can never double-count an order.

    Scale shape: the date window prunes orders at the scan; the semi
    join shuffles on orderkey once and short-circuits per match; the
    priority rollup is 5 groups, all partial map-side."""
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-07-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )


@_q(
    "tpch_q22",
    """WITH pos AS (
  SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS cents, c_custkey,
         c_nationkey
  FROM customer
),
thr AS (
  SELECT CAST(sum(cents) // count(*) AS BIGINT) AS avg_cents
  FROM pos WHERE cents > 0
),
rich AS (
  SELECT p.c_custkey, p.c_nationkey % 5 AS cgroup, p.cents
  FROM pos p, thr WHERE p.cents > thr.avg_cents
),
noorder AS (
  SELECT r.cgroup, r.cents
  FROM rich r
  WHERE NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = r.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
)
SELECT CAST(cgroup AS BIGINT) AS cgroup,
       CAST(count(*) AS BIGINT) AS n_cust,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM noorder GROUP BY cgroup""",
)
def tpch_q22(spark, sf):
    """TPC-H Q22 (global sales opportunity), adapted: customers with an
    above-average positive balance who have NEVER ordered, counted by
    customer group (nationkey%5 standing in for the phone country
    code) — the canonical scalar-subquery threshold + ANTI join.  The
    average is an exact integer floor (Σcents DIV n), so the threshold
    comparison is float-free and both engines cut the same customers.

    Scale shape: the threshold is a 1-row broadcast from one aggregate;
    the anti join shuffles customer-cardinality keys against order
    custkeys (or uses a bloom-pruned shuffle at 10^9 customers); the
    rollup is 5 groups."""
    pos = load(spark, sf, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    thr = pos.filter(F.col("cents") > 0).agg(
        F.expr("CAST(sum(cents) DIV count(*) AS BIGINT)").alias("avg_cents")
    )
    rich = (
        pos.crossJoin(F.broadcast(thr))
        .filter(F.col("cents") > F.col("avg_cents"))
        .select(
            "c_custkey", (F.col("c_nationkey") % 5).alias("cgroup"), "cents"
        )
    )
    o = (
        load(spark, sf, "orders")
        .filter(
            F.col("o_orderdate")
            >= F.lit("2001-01-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    noorder = rich.join(
        o, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    )
    return noorder.groupBy(F.col("cgroup").cast("bigint").alias("cgroup")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


@_q(
    "events_wau",
    """WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
cover AS (
  SELECT DISTINCT ud.user_id, ud.day + k.k AS day
  FROM ud CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6]) AS k) k, bounds
  WHERE ud.day + k.k <= bounds.d1
),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
wau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS wau FROM cover GROUP BY day
)
SELECT w.day, coalesce(d.dau, 0) AS dau, w.wau,
       CAST(coalesce(d.dau, 0) * 1000 // w.wau AS BIGINT)
         AS stickiness_permille
FROM wau w LEFT JOIN dau d ON d.day = w.day, bounds b
WHERE w.day >= b.d0 + 6""",
)
def events_wau(spark, sf):
    """Rolling active users: exact DAU and trailing-7-day WAU per day,
    plus the DAU/WAU stickiness ratio — the engagement dashboard
    triple.  Windowed DISTINCT counts don't compose (WAU is not a sum
    of DAUs), so WAU uses the COVER-EXPLODE trick: each (user, active
    day) contributes to the 7 days it keeps the user active in, and a
    plain per-day distinct-free count of the deduped cover gives the
    exact trailing distinct — linear work, no day-range self-join.
    Days before a full window are dropped so both engines census the
    same frame population.

    Scale: the user-day dedup is the contraction (≤ users×days); the
    ×7 cover explode is scan-stage; both censuses are map-side
    combined.  At 10^9 users the cover table is the same order as the
    user-day table — nothing quadratic anywhere."""
    ud = (
        load(spark, sf, "events")
        .select(
            "user_id",
            F.expr(
                "CAST(floor(CAST(CAST(ts AS TIMESTAMP) AS DOUBLE)) AS BIGINT)"
                " DIV 86400"
            ).alias("day"),
        )
        .distinct()
    )
    b = ud.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    ks = spark.range(7).select(F.col("id").alias("k"))
    cover = (
        ud.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(b))
        .select("user_id", (F.col("day") + F.col("k")).alias("day"), "d1")
        .filter(F.col("day") <= F.col("d1"))
        .select("user_id", "day")
        .distinct()
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    wau = cover.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("wau")
    )
    return (
        wau.join(dau, "day", "left")
        .na.fill({"dau": 0})
        .crossJoin(F.broadcast(b))
        .filter(F.col("day") >= F.col("d0") + 6)
        .select(
            "day",
            "dau",
            "wau",
            F.expr("CAST(dau * 1000 DIV wau AS BIGINT)").alias(
                "stickiness_permille"
            ),
        )
    )


@_q(
    "tpch_q7",
    f"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       CAST(sum({_REV_SQL}) AS BIGINT) AS revenue_e4
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '2000-01-01 00:00:00'
GROUP BY n1.n_name, n2.n_name, CAST(year(l.l_shipdate) AS BIGINT)""",
)
def tpch_q7(spark, sf):
    """TPC-H Q7 (volume shipping): bilateral trade volume between two
    nations by ship year, both directions kept separate — the join
    whose filter spans BOTH dimension chains at once (supplier nation
    x customer nation), so neither side can be pruned alone.  Revenue
    uses the exact 1e-4-dollar integers of Q3/Q5.

    Scale shape: nation is tiny and broadcasts onto supplier and
    customer; the nation-pair disjunction survives only as a post-join
    residual on the (supp_nation, cust_nation) pair, exactly as the
    spec demands; lineitem->orders is the one big shuffle (keyed
    l_orderkey) with the shipdate range pruned at scan.  The rollup is
    2 nations x 2 directions x years — map-side combined to nothing."""
    n = load(spark, sf, "nation").select("n_nationkey", "n_name")
    s = (
        load(spark, sf, "supplier")
        .join(
            F.broadcast(n.filter(F.col("n_name").isin("NATION_1", "NATION_2"))),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load(spark, sf, "customer")
        .join(
            F.broadcast(n.filter(F.col("n_name").isin("NATION_1", "NATION_2"))),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01 00:00:00").cast("timestamp"))
    )
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    j = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("bigint").alias("l_year"),
    ).agg(F.sum(F.expr(_REV_SQL)).cast("bigint").alias("revenue_e4"))


@_q(
    "tpch_q13",
    """WITH co AS (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                    AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM co GROUP BY c_count""",
)
def tpch_q13(spark, sf):
    """TPC-H Q13 (customer distribution): histogram of customers by how
    many qualifying orders they placed, INCLUDING the zero-order
    customers — the query exists to exercise an outer join whose
    ON-clause filter must stay in the join condition (pushing
    o_orderpriority <> '1-URGENT' below the LEFT JOIN as a WHERE would
    silently delete the zero bucket).  Adaptation: the reduced orders
    schema has no o_comment, so the spec's NOT LIKE
    '%special%requests%' becomes the priority exclusion — same shape,
    same outer-join trap.

    Scale shape: the filter prunes orders at scan; the outer join
    shuffles on custkey; the first aggregate contracts to one row per
    customer and the histogram is a ~40-group map-side-combined
    rollup.  At 10^9 customers nothing exceeds customer
    cardinality."""
    c = load(spark, sf, "customer").select("c_custkey")
    o = (
        load(spark, sf, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    co = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return co.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


@_q(
    "tpch_q15",
    f"""WITH rev AS (
  SELECT l_suppkey, CAST(sum({_REV_SQL}) AS BIGINT) AS total_rev_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_rev_e4
FROM supplier s
JOIN rev r ON r.l_suppkey = s.s_suppkey
WHERE r.total_rev_e4 = (SELECT max(total_rev_e4) FROM rev)""",
)
def tpch_q15(spark, sf):
    """TPC-H Q15 (top supplier): the supplier(s) whose quarter revenue
    equals the global maximum — the spec's CREATE VIEW + scalar-max
    correlated filter, flattened to an aggregate-then-rejoin.  Exact
    integer revenue makes "equals the max" deterministic; ALL tied
    suppliers are returned (the spec's semantics), not an arbitrary
    first.

    Scale shape: the quarter filter prunes lineitem at scan; the
    per-supplier aggregate map-side combines into supplier
    cardinality; the max is a 1-row broadcast back onto that
    aggregate, and the supplier name join broadcasts the survivors.
    No window over the full table — the max never materializes a
    global sort."""
    rev = (
        load(spark, sf, "lineitem")
        .filter(
            (
                F.col("l_shipdate")
                >= F.lit("1996-01-01 00:00:00").cast("timestamp")
            )
            & (
                F.col("l_shipdate")
                < F.lit("1996-04-01 00:00:00").cast("timestamp")
            )
        )
        .groupBy("l_suppkey")
        .agg(F.sum(F.expr(_REV_SQL)).cast("bigint").alias("total_rev_e4"))
    )
    mx = rev.agg(F.max("total_rev_e4").alias("mx"))
    top = (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev_e4") == F.col("mx"))
        .select("l_suppkey", "total_rev_e4")
    )
    s = load(spark, sf, "supplier").select("s_suppkey", "s_name")
    return s.join(
        F.broadcast(top), s.s_suppkey == F.col("l_suppkey")
    ).select("s_suppkey", "s_name", "total_rev_e4")


@_q(
    "tpch_q16",
    """SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, CAST(p.p_size AS BIGINT)""",
)
def tpch_q16(spark, sf):
    """TPC-H Q16 (parts/supplier relationship): how many distinct
    suppliers can provide parts of each surviving (brand, type, size)
    combination, excluding a supplier blacklist.  Adaptation: the
    reduced schema has no partsupp table and no s_comment, so the
    part-supplier relation is DISTINCT (l_partkey, l_suppkey) observed
    in lineitem, and the spec's 'Customer Complaints' comment filter
    becomes the negative-balance exclusion — identical shape: NOT IN
    subquery + multi-attribute DISTINCT count.

    Scale shape: part filters push to the part scan and the join
    broadcasts the filtered part dim; the blacklist is a broadcast
    LEFT ANTI (NOT IN over a non-null key is anti-join semantics); the
    count(DISTINCT supplier) shuffles the deduped (brand,type,size,
    suppkey) quads — Spark expands distinct-agg into a two-phase
    plan, so the exchange carries deduped quads, never raw
    lineitems."""
    bad = (
        load(spark, sf, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    p = (
        load(spark, sf, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = load(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand", "p_type", F.col("p_size").cast("bigint").alias("p_size")
        )
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@_q(
    "tpch_q18",
    """WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 190
),
r AS (
  SELECT c.c_name, c.c_custkey, o.o_orderkey,
         CAST(floor(epoch(o.o_orderdate)) AS BIGINT) AS orderdate_s,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents,
         b.sum_qty,
         row_number() OVER (ORDER BY b.sum_qty DESC, o.o_orderkey) AS rk
  FROM big b
  JOIN orders o ON o.o_orderkey = b.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
)
SELECT c_name, c_custkey, o_orderkey, orderdate_s, totalprice_cents, sum_qty
FROM r WHERE rk <= 100""",
)
def tpch_q18(spark, sf):
    """TPC-H Q18 (large volume customers): the top-100 orders by total
    quantity above a HAVING threshold, with their customers — the
    canonical aggregate-then-semi-join-back pattern (the spec phrases
    it as IN (GROUP BY HAVING); joining the aggregate directly is the
    same relation with one less pass).  Quantities are integral in
    this corpus, summed as BIGINT, so the threshold cut and the
    top-100 rank (orderkey tiebreak) are exact in both engines.

    Scale shape: the per-order quantity rollup map-side combines
    before its orderkey exchange; the HAVING keeps ~2% of orders, and
    only those join back to orders/customer (broadcast once small).
    The global top-100 window ranks the filtered aggregate — order
    cardinality x selectivity, never lineitems."""
    qty = F.round("l_quantity").cast("bigint")
    big = (
        load(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(qty).cast("bigint").alias("sum_qty"))
        .filter(F.col("sum_qty") > 190)
    )
    o = load(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("timestamp").cast("long").alias("orderdate_s"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("totalprice_cents"),
    )
    c = load(spark, sf, "customer").select("c_custkey", "c_name")
    r = big.join(o, big.l_orderkey == o.o_orderkey).join(
        c, o.o_custkey == c.c_custkey
    )
    rk = F.row_number().over(
        W.orderBy(F.col("sum_qty").desc(), F.col("o_orderkey"))
    )
    return (
        r.withColumn("rk", rk)
        .filter(F.col("rk") <= 100)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "orderdate_s",
            "totalprice_cents",
            "sum_qty",
        )
    )


@_q(
    "tpch_q20",
    """WITH shipped AS (
  SELECT l.l_suppkey
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_type = 'PROMO'
    AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l.l_suppkey
  HAVING sum(CAST(round(l.l_quantity) AS BIGINT)) > 400
)
SELECT s.s_suppkey, s.s_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND s.s_suppkey IN (SELECT l_suppkey FROM shipped)""",
)
def tpch_q20(spark, sf):
    """TPC-H Q20 (potential part promotion): suppliers in one region who
    moved a large volume of one part family in one year — the nested
    semi-join tower (region -> supplier -> qualifying-volume
    subquery).  Adaptation: no partsupp/ps_availqty in the reduced
    schema, so the spec's 'availqty > half the year's shipments'
    becomes a fixed volume threshold over the same shipments
    aggregate, and the p_name LIKE family filter becomes the PROMO
    type — the join/semi-join topology is unchanged.

    Scale shape: part (filtered, tiny) broadcasts onto the
    scan-pruned year of lineitem; the HAVING aggregate contracts to
    supplier cardinality before the LEFT SEMI join; region/nation
    broadcast onto supplier.  Every exchange after the scan is
    supplier-sized."""
    p = (
        load(spark, sf, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    shipped = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.round("l_quantity").cast("bigint")).alias("q"))
        .filter(F.col("q") > 400)
        .select("l_suppkey")
    )
    n = load(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    r = (
        load(spark, sf, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    s = (
        load(spark, sf, "supplier")
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name")
    )
    return s.join(
        shipped, s.s_suppkey == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")


_CEP_WINDOW = 3600  # pattern must complete within one hour of its start


@_q(
    "events_cep",
    f"""WITH e AS (
  SELECT user_id, event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events
),
p1 AS (
  SELECT s.user_id, s.sec AS start_sec, s.event_id AS start_id,
         (SELECT min(c.sec) FROM e c
          WHERE c.user_id = s.user_id AND c.event_type = 'click'
            AND c.sec > s.sec) AS t1
  FROM e s WHERE s.event_type = 'view'
),
m1 AS (
  SELECT 'view-click-purchase' AS pattern, h.user_id, h.start_sec, h.start_id,
         (SELECT min(p.sec) FROM e p
          WHERE p.user_id = h.user_id AND p.event_type = 'purchase'
            AND p.sec > h.t1) AS end_sec
  FROM p1 h WHERE h.t1 IS NOT NULL
),
m2 AS (
  SELECT 'view-purchase' AS pattern, s.user_id, s.sec AS start_sec,
         s.event_id AS start_id,
         (SELECT min(p.sec) FROM e p
          WHERE p.user_id = s.user_id AND p.event_type = 'purchase'
            AND p.sec > s.sec) AS end_sec
  FROM e s WHERE s.event_type = 'view'
),
m3 AS (
  SELECT 'click-purchase' AS pattern, s.user_id, s.sec AS start_sec,
         s.event_id AS start_id,
         (SELECT min(p.sec) FROM e p
          WHERE p.user_id = s.user_id AND p.event_type = 'purchase'
            AND p.sec > s.sec) AS end_sec
  FROM e s WHERE s.event_type = 'click'
),
allm AS (
  SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL SELECT * FROM m3
)
SELECT pattern, user_id, start_id, start_sec, end_sec
FROM allm
WHERE end_sec IS NOT NULL AND end_sec - start_sec <= {_CEP_WINDOW}""",
)
def events_cep(spark, sf):
    """Multi-pattern sequence detection (CEP): every occurrence of
    view→click→purchase, view→purchase, and click→purchase per user
    within a 1-hour completion window — per-START matching (each
    qualifying event opens its own match, unlike ``events_funnel``'s
    one-per-user earliest chain), with each hop taking the EARLIEST
    strictly-later event of the next type.  The retrieved multi-pattern
    CEP literature's point (SIGMOD'19, PAPERS.md) is sharing one pass
    across concurrent patterns; here all three patterns read ONE
    windowed frame.

    Determinism: hops compare integer seconds with strict >, so every
    match span is exact; start_id disambiguates co-second starts.

    Scale shape: ONE windowed frame definition (user-keyed exchange +
    sort, conditional mins over a VALUE-range frame: sec+1 … ∞ ⟹
    strictly later) serves every pattern; both one-hop patterns are a
    single projection of it (a CASE picks the pattern label, so adding
    a one-hop pattern adds an expression, not a branch), and the
    two-hop pattern closes with a user-keyed join of start rows onto
    the DEDUPED (user, sec) click frame — user-cardinality ×
    distinct-seconds, never events × events.  Catalyst replays the
    window per consumer branch (3 branches here, every exchange
    user-keyed); at production scale the windowed frame is cached or
    checkpointed ONCE before the pattern fan-out, which is exactly the
    shared-scan execution the multi-pattern CEP literature argues
    for."""
    e = load(spark, sf, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(1, W.unboundedFollowing)
    )
    base = e.select(
        "user_id",
        "event_type",
        "event_id",
        "sec",
        F.min(F.when(F.col("event_type") == "click", F.col("sec")))
        .over(wf)
        .alias("next_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("sec")))
        .over(wf)
        .alias("next_purchase"),
    )
    views = base.filter(F.col("event_type") == "view")
    clicks = base.filter(F.col("event_type") == "click")

    # P1 view→click→purchase: hop 2 reads next_purchase AT the click's
    # second — the frame depends only on (user, sec), so the deduped
    # (user, sec) click frame carries it.
    cd = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("sec").alias("c_sec"),
        F.col("next_purchase").alias("c_next_purchase"),
    ).distinct()
    m1 = (
        views.filter(F.col("next_click").isNotNull())
        .join(
            cd,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("next_click") == F.col("c_sec")),
        )
        .select(
            F.lit("view-click-purchase").alias("pattern"),
            "user_id",
            F.col("event_id").alias("start_id"),
            F.col("sec").alias("start_sec"),
            F.col("c_next_purchase").alias("end_sec"),
        )
    )
    onehop = base.filter(
        F.col("event_type").isin("view", "click")
    ).select(
        F.when(F.col("event_type") == "view", "view-purchase")
        .otherwise("click-purchase")
        .alias("pattern"),
        "user_id",
        F.col("event_id").alias("start_id"),
        F.col("sec").alias("start_sec"),
        F.col("next_purchase").alias("end_sec"),
    )
    return (
        m1.unionByName(onehop)
        .filter(
            F.col("end_sec").isNotNull()
            & (F.col("end_sec") - F.col("start_sec") <= _CEP_WINDOW)
        )
    )


@_q(
    "agg_online",
    f"""WITH l AS (
  SELECT l_orderkey % 10 AS decile, {_REV_SQL} AS rev
  FROM lineitem
),
g AS (
  SELECT decile, CAST(sum(rev) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM l GROUP BY decile
),
c AS (
  SELECT decile,
         CAST(sum(n) OVER (ORDER BY decile) AS BIGINT) AS rows_seen,
         CAST(sum(s) OVER (ORDER BY decile) AS BIGINT) AS cum_rev_e4
  FROM g
),
t AS (SELECT CAST(sum(rev) AS BIGINT) AS total FROM l)
SELECT c.decile, c.rows_seen, c.cum_rev_e4,
       CAST(c.cum_rev_e4 * 10 // (c.decile + 1) AS BIGINT) AS est_total_e4,
       CAST(abs(c.cum_rev_e4 * 10 // (c.decile + 1) - t.total) * 1000000
            // t.total AS BIGINT) AS err_ppm
FROM c, t""",
)
def agg_online(spark, sf):
    """Online-aggregation refinement trace (DeepOLA, PAPERS.md): the
    running revenue estimate after each 10%-slice of the fact table,
    with its extrapolated total and exact error against the true
    answer — the convergence curve an online-aggregation UI draws while
    the scan progresses.  Slices are the deterministic l_orderkey % 10
    partitioning (not arrival order), so the trace is reproducible:
    every estimate is an exact integer (cum·10 DIV seen-slices) and the
    error column is integer ppm.

    Scale shape: ONE pass over lineitem into a 10-group map-side
    combined aggregate; the cumulative window sorts 10 rows; the true
    total re-aggregates the same 10 partials (Catalyst reuses the
    shuffle) and broadcasts one row.  The trace costs one aggregate
    regardless of table size — exactly the partial-merge property
    online aggregation exploits."""
    li = load(spark, sf, "lineitem").select(
        (F.col("l_orderkey") % 10).alias("decile"),
        F.expr(_REV_SQL).alias("rev"),
    )
    g = li.groupBy("decile").agg(
        F.sum("rev").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    c = g.select(
        "decile",
        F.sum("n").over(wc).cast("bigint").alias("rows_seen"),
        F.sum("s").over(wc).cast("bigint").alias("cum_rev_e4"),
    )
    t = g.agg(F.sum("s").cast("bigint").alias("total"))
    est = F.expr("CAST(cum_rev_e4 * 10 DIV (decile + 1) AS BIGINT)")
    return c.crossJoin(F.broadcast(t)).select(
        "decile",
        "rows_seen",
        "cum_rev_e4",
        est.alias("est_total_e4"),
        F.expr(
            "CAST(abs(cum_rev_e4 * 10 DIV (decile + 1) - total) * 1000000"
            " DIV total AS BIGINT)"
        ).alias("err_ppm"),
    )


# cost proxy for the absent partsupp.ps_supplycost: the part's list price
# in 1e-4-dollar units per unit quantity (quantities are integral here)
_COST_SQL = (
    "CAST(round(p_retailprice * 100) AS BIGINT) * 100"
    " * CAST(round(l_quantity) AS BIGINT)"
)


@_q(
    "tpch_q9",
    f"""SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(sum({_REV_SQL} - {_COST_SQL}) AS BIGINT) AS profit_e4
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%red%'
GROUP BY n.n_name, CAST(year(o.o_orderdate) AS BIGINT)""",
)
def tpch_q9(spark, sf):
    """TPC-H Q9 (product type profit measure): profit on a part family
    by supplier nation and order year — the 5-way join whose aggregate
    subtracts COST from revenue per lineitem.  Adaptation: no partsupp
    in the reduced schema, so ps_supplycost becomes the part's list
    price (p_retailprice) per unit — same expression shape (rev −
    cost·qty), exact in 1e-4-dollar integers, and the p_name LIKE
    family filter is faithful (the synthetic names carry color words).

    Scale shape: the name-filtered part dim broadcasts onto the
    lineitem scan; supplier+nation broadcast; lineitem→orders is the
    one big shuffle (keyed l_orderkey); the rollup is nations × years,
    map-side combined to nothing.  Profit sums are order-insensitive
    BIGINTs, so the per-group hash matches bit-for-bit."""
    p = (
        load(spark, sf, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    li = load(spark, sf, "lineitem")
    s = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf, "nation").select("n_nationkey", "n_name")
    o = load(spark, sf, "orders").select(
        "o_orderkey",
        F.year(F.col("o_orderdate").cast("timestamp"))
        .cast("bigint")
        .alias("o_year"),
    )
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
    )
    return j.groupBy(F.col("n_name").alias("nation"), "o_year").agg(
        F.sum(F.expr(f"{_REV_SQL} - {_COST_SQL}"))
        .cast("bigint")
        .alias("profit_e4")
    )


@_q(
    "tpch_q11",
    """WITH val AS (
  SELECT l.l_partkey,
         CAST(sum(CAST(round(l.l_quantity) AS BIGINT)
                  * CAST(round(p.p_retailprice * 100) AS BIGINT)) AS BIGINT)
             AS value_e2
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_3'
  GROUP BY l.l_partkey
),
tot AS (SELECT CAST(sum(value_e2) AS BIGINT) AS t FROM val)
SELECT val.l_partkey AS p_partkey, val.value_e2
FROM val, tot WHERE val.value_e2 * 1000 > tot.t""",
)
def tpch_q11(spark, sf):
    """TPC-H Q11 (important stock identification): the parts whose
    held value within one nation exceeds a fixed fraction of that
    nation's total — the scalar-subquery-threshold-over-aggregate
    shape.  Adaptation: no partsupp/ps_availqty, so 'stock' is the
    quantity the nation's suppliers shipped, valued at list price
    (quantity × p_retailprice in exact 1e-2-dollar integers); the
    fraction is 1/1000 (vs the spec's 0.0001/SF), cutting ~30% of
    parts at this corpus shape.

    Scale shape: supplier+nation broadcast onto the lineitem scan;
    the per-part value aggregate map-side combines into part
    cardinality; the threshold is a 1-row broadcast re-joined onto
    that aggregate (integer cross-multiplied — no float fraction).
    Nothing after the scan exceeds part cardinality."""
    li = load(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    p = load(spark, sf, "part").select("p_partkey", "p_retailprice")
    s = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = (
        load(spark, sf, "nation")
        .filter(F.col("n_name") == "NATION_3")
        .select("n_nationkey")
    )
    val = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(l_quantity) AS BIGINT)"
                    " * CAST(round(p_retailprice * 100) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("value_e2")
        )
    )
    tot = val.agg(F.sum("value_e2").cast("bigint").alias("t"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("value_e2") * 1000 > F.col("t"))
        .select(F.col("l_partkey").alias("p_partkey"), "value_e2")
    )


@_q(
    "fn_try",
    """SELECT o_orderkey,
       round(o_totalprice / NULLIF(o_custkey % 3, 0), 4) AS safe_div,
       TRY_CAST(CASE WHEN o_orderkey % 1000 = 0 THEN o_orderpriority
                     ELSE CAST(o_orderkey % 7 AS VARCHAR) END
                AS INTEGER) AS pri_int,
       CASE WHEN o_orderkey % 997 = 0
            THEN CASE WHEN o_orderkey <= 7
                      THEN o_orderkey + 9223372036854775800 END
            ELSE o_orderkey END AS near_max,
       TRY_CAST(CASE WHEN o_orderkey % 777 = 0 THEN o_orderstatus
                     ELSE CAST(o_orderkey % 9 AS VARCHAR) END
                AS DOUBLE) AS status_num
FROM orders""",
)
def fn_try(spark, sf):
    """ANSI-safe expression family: try_divide (NULL on /0, a cheap
    guard), try_cast (NULL on malformed input, both INT and DOUBLE
    directions), try_add (NULL on BIGINT overflow) — the errors-as-NULL
    contract that lets a 10^12-row pipeline survive dirty values
    without task retries, the per-row analogue of the extraction
    engine's total-on-garbage rule.  The malformed/overflow rows are a
    ~0.1% modulus slice (priority strings at keys %1000, status letters
    at %777, the +9.2e18 overflow at %997), so every NULL outcome is
    present and exactly predictable.

    Scale/perf shape: pure scan-stage projection, zero shuffle.  The
    slice matters for PERFORMANCE, not just realism: a failing
    try_cast/try_add costs a caught JVM exception (~35 µs/row measured
    — an always-malformed 150k-row column ran 5.5 s), so try_* belongs
    on rare-dirty columns; an always-failing column should be CASE-
    routed around the cast entirely.  The DuckDB oracle mirrors each
    try_* with its explicit NULLIF/CASE guard, pinning the exact null
    semantics."""
    o = load(spark, sf, "orders")
    dirty_pri = (
        "CASE WHEN o_orderkey % 1000 = 0 THEN o_orderpriority"
        " ELSE CAST(o_orderkey % 7 AS STRING) END"
    )
    dirty_status = (
        "CASE WHEN o_orderkey % 777 = 0 THEN o_orderstatus"
        " ELSE CAST(o_orderkey % 9 AS STRING) END"
    )
    return o.select(
        "o_orderkey",
        F.round(
            F.try_divide("o_totalprice", F.col("o_custkey") % 3), 4
        ).alias("safe_div"),
        F.expr(f"try_cast({dirty_pri} AS INT)").alias("pri_int"),
        F.expr(
            "CASE WHEN o_orderkey % 997 = 0"
            " THEN try_add(o_orderkey, 9223372036854775800)"
            " ELSE o_orderkey END"
        ).alias("near_max"),
        F.expr(f"try_cast({dirty_status} AS DOUBLE)").alias("status_num"),
    )


@_q(
    "events_rfm",
    """WITH ref AS (SELECT max(o_orderdate) AS d1 FROM orders),
cust AS (
  SELECT o.o_custkey AS c_custkey,
         CAST(date_diff('day', max(o.o_orderdate), ref.d1) AS BIGINT)
             AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS monetary_cents
  FROM orders o, ref GROUP BY o.o_custkey, ref.d1
)
SELECT c_custkey, recency_days, frequency, monetary_cents,
       CAST(ntile(5) OVER (ORDER BY recency_days, c_custkey) AS INT) AS r_q,
       CAST(ntile(5) OVER (ORDER BY frequency DESC, c_custkey) AS INT) AS f_q,
       CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, c_custkey) AS INT)
           AS m_q
FROM cust""",
)
def events_rfm(spark, sf):
    """RFM customer segmentation — recency (days since last order,
    against the corpus max date), frequency, monetary, each quintiled
    by ntile(5): the classic lifecycle-marketing scoring table.  Every
    ntile ordering carries the custkey tiebreak, so bucket assignment
    is a total order and both engines cut identical quintiles; money
    is exact cents, recency exact day counts.

    Scale shape: the reference date is a 1-row broadcast; the per-
    customer rollup map-side combines into customer cardinality; the
    three ntiles share one global sort each over that contracted table
    (at 10^9 customers production swaps ntile for a two-pass
    percentile-cut — same output contract, no global sort)."""
    o = load(spark, sf, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("timestamp").alias("od"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    ref = o.agg(F.max("od").alias("d1"))
    cust = (
        o.crossJoin(F.broadcast(ref))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.datediff(F.first("d1"), F.max("od"))
            .cast("bigint")
            .alias("recency_days"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum("cents").cast("bigint").alias("monetary_cents"),
        )
    )
    return cust.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(5)
        .over(W.orderBy("recency_days", "c_custkey"))
        .cast("int")
        .alias("r_q"),
        F.ntile(5)
        .over(W.orderBy(F.col("frequency").desc(), "c_custkey"))
        .cast("int")
        .alias("f_q"),
        F.ntile(5)
        .over(W.orderBy(F.col("monetary_cents").desc(), "c_custkey"))
        .cast("int")
        .alias("m_q"),
    )


@_q(
    "basket_pairs",
    """WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n
             FROM items),
part_n AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_part
  FROM items GROUP BY l_partkey
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
)
SELECT p.part_a, p.part_b, p.n_ab,
       pa.n_part AS n_a, pb.n_part AS n_b,
       CAST(p.n_ab * o.n * 1000000 // (pa.n_part * pb.n_part) AS BIGINT)
           AS lift_ppm,
       p.n_ab * o.n > pa.n_part * pb.n_part AS positive_lift
FROM pairs p
JOIN part_n pa ON pa.l_partkey = p.part_a
JOIN part_n pb ON pb.l_partkey = p.part_b, n_orders o
WHERE p.n_ab >= 3""",
)
def basket_pairs(spark, sf):
    """Market-basket association pairs — co-occurrence counts, exact
    integer lift (ppm), and the cross-multiplied positive-lift gate
    (lift > 1 ⟺ n_ab·N > n_a·n_b — no float ever gates), support floor
    n_ab ≥ 3.  The association-rule layer (Apriori's pair stage) over
    the order→part bipartite table.

    Scale shape: baskets dedup to DISTINCT (order, part) first; the
    pair generator is an orderkey-keyed SELF-JOIN, so fanout is
    Σ k²/2 per basket — bounded by basket size (≈4 here; production
    caps giant baskets the way the extract path salts giant docs);
    the pair rollup and the two part-frequency lookups exchange only
    part-id pairs with BIGINT counts, and the order-count is a 1-row
    broadcast."""
    items = (
        load(spark, sf, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = items.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n")
    )
    part_n = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_part")
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    pa = part_n.select(
        F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a")
    )
    pb = part_n.select(
        F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(pa), "part_a")
        .join(F.broadcast(pb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(
                "CAST(n_ab * n * 1000000 DIV (n_a * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
            (F.col("n_ab") * F.col("n") > F.col("n_a") * F.col("n_b")).alias(
                "positive_lift"
            ),
        )
    )


@_q(
    "events_abtest",
    """WITH users AS (
  SELECT user_id,
         CAST(user_id % 2 AS INT) AS variant,
         CAST((user_id // 2) % 5 AS INT) AS cohort,
         CASE WHEN sum(CASE WHEN event_type = 'purchase'
                       THEN 1 ELSE 0 END) >= 14
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
),
cells AS (
  SELECT cohort,
         CAST(sum(CASE WHEN variant = 0 AND converted = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(sum(CASE WHEN variant = 0 AND converted = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(sum(CASE WHEN variant = 1 AND converted = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(sum(CASE WHEN variant = 1 AND converted = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM users GROUP BY cohort
)
SELECT cohort, a, b, c, d,
       CAST(100 * (a + b + c + d) * (a * d - b * c) * (a * d - b * c)
            // ((a + b) * (c + d) * (a + c) * (b + d)) AS BIGINT)
           AS chi2_centi,
       100 * (a + b + c + d) * (a * d - b * c) * (a * d - b * c)
           > 384 * (a + b) * (c + d) * (a + c) * (b + d) AS significant
FROM cells
WHERE (a + b) > 0 AND (c + d) > 0 AND (a + c) > 0 AND (b + d) > 0""",
)
def events_abtest(spark, sf):
    """A/B experiment readout with an EXACT significance gate: users
    split by id parity into variants, converted = a heavy purchaser (≥14 purchase events —
    the corpus median is 13, so both outcomes are populated),
    2×2 contingency per (orthogonal) cohort, and the χ² statistic in
    centi-units with the p<0.05 cut cross-multiplied to pure integers
    (χ² > 3.84 ⟺ 100·N·(ad−bc)² > 384·row/col-margin product) — no
    float ever gates a launch decision, so both engines flag the same
    cohorts.  Degenerate margins (empty row/column) are excluded, the
    same rule both sides.

    Scale shape: the per-user contraction is one map-side-combined
    aggregate (events → users); the contingency rollup is |cohorts|
    fixed-width rows.  The integer cross-multiplication holds to ~10^4
    users per cell in BIGINT; beyond that production moves the product
    to DECIMAL(38) — the gate inequality is unchanged."""
    return abtest_cells(converted_users(load(spark, sf, "events")))


def converted_users(events: DataFrame) -> DataFrame:
    """``(user_id, converted)`` of an events table: 1 for a user with at
    least 14 purchase events, else 0."""
    purchases = F.sum(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    )
    return events.groupBy("user_id").agg(
        (purchases >= 14).cast("int").alias("converted")
    )


def abtest_cells(users: DataFrame) -> DataFrame:
    """The per-cohort 2×2 contingency of ``converted_users`` rows —
    a/b converted/not in variant 0, c/d in variant 1 — with its χ² in
    centi-units and the integer p<0.05 gate; cohorts with an empty
    margin are left out."""
    u = users.select(
        (F.col("user_id") % 2).cast("int").alias("variant"),
        F.expr("CAST((user_id DIV 2) % 5 AS INT)").alias("cohort"),
        "converted",
    )
    cells = u.groupBy("cohort").agg(
        *(
            F.sum(
                F.when((F.col("variant") == v) & (F.col("converted") == c), 1)
                .otherwise(0)
            ).cast("bigint").alias(name)
            for name, v, c in
            (("a", 0, 1), ("b", 0, 0), ("c", 1, 1), ("d", 1, 0))
        )
    )
    chi_num = F.expr(
        "100 * (a + b + c + d) * (a * d - b * c) * (a * d - b * c)"
    )
    denom = F.expr("(a + b) * (c + d) * (a + c) * (b + d)")
    return (
        cells.filter(
            (F.expr("a + b") > 0)
            & (F.expr("c + d") > 0)
            & (F.expr("a + c") > 0)
            & (F.expr("b + d") > 0)
        )
        .select(
            "cohort",
            "a",
            "b",
            "c",
            "d",
            F.expr(
                "CAST(100 * (a + b + c + d) * (a * d - b * c)"
                " * (a * d - b * c)"
                " DIV ((a + b) * (c + d) * (a + c) * (b + d)) AS BIGINT)"
            ).alias("chi2_centi"),
            (chi_num > 384 * denom).alias("significant"),
        )
    )


@_q(
    "sales_ols",
    """WITH pts AS (
  SELECT p.p_type,
         CAST(round(l.l_extendedprice * 100) AS BIGINT)
              // CAST(round(l.l_quantity) AS BIGINT) // 100 AS x,
         CAST(round(l.l_quantity) AS BIGINT) AS y
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE round(l.l_quantity) > 0
),
suff AS (
  SELECT p_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM pts GROUP BY p_type
)
SELECT p_type, n, sx, sy, sxy, sxx,
       CAST((n::HUGEINT * sxy - sx::HUGEINT * sy) * 1000000
            // NULLIF(n::HUGEINT * sxx - sx::HUGEINT * sx, 0) AS BIGINT)
           AS slope_ppm
FROM suff""",
)
def sales_ols(spark, sf):
    """Distributed EXACT least squares by sufficient statistics: per
    part type, regress quantity on unit price (whole dollars) through the
    closed-form OLS slope = (NΣxy − ΣxΣy)/(NΣx² − (Σx)²) in exact
    integer ppm, so the regression is bit-reproducible (no float
    accumulation anywhere).  The five BIGINT moments are what the
    cluster exchanges; the solve widens to DECIMAL(38) (HUGEINT on
    the oracle side) because the derived cross-products exceed BIGINT
    beyond ~10^4 rows/group — sf0.1 already does, which the first cut
    of this query learned the hard way (ANSI overflow, caught by the
    bench, fixed by widening only the O(groups) solve, never the
    exchanged stats).
    This is how regression runs at 10^12 rows: the five sufficient
    statistics (n, Σx, Σy, Σxy, Σx²) are map-side-combinable partial
    aggregates; the solve is O(groups) driver-free arithmetic.

    Scale shape: part broadcasts onto the lineitem scan; one
    partial+final aggregate into |types| rows; zero further exchanges.
    The exchanged moments themselves stay BIGINT to ~10^9 rows/group
    at this price range; only the solve is wide."""
    li = load(spark, sf, "lineitem").filter(F.round("l_quantity") > 0)
    p = load(spark, sf, "part").select("p_partkey", "p_type")
    pts = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_type",
        F.expr(
            "CAST(CAST(round(l_extendedprice * 100) AS BIGINT)"
            " DIV CAST(round(l_quantity) AS BIGINT) DIV 100 AS BIGINT)"
        ).alias("x"),
        F.round("l_quantity").cast("bigint").alias("y"),
    )
    suff = pts.groupBy("p_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    wide = "CAST(n AS DECIMAL(38,0))"
    wsx = "CAST(sx AS DECIMAL(38,0))"
    return suff.select(
        "p_type",
        "n",
        "sx",
        "sy",
        "sxy",
        "sxx",
        F.expr(
            f"CAST(({wide} * sxy - {wsx} * sy) * 1000000"
            f" DIV NULLIF({wide} * sxx - {wsx} * sx, 0) AS BIGINT)"
        ).alias("slope_ppm"),
    )


# floor(log10(1 + 1/d) * 1e6) for d = 1..9 — Benford's law in exact ppm
_BENFORD_PPM = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}


@_q(
    "audit_benford",
    f"""WITH digits AS (
  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                             AS VARCHAR), 1, 1) AS INT) AS d
  FROM orders WHERE round(o_totalprice * 100) >= 1
),
counts AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY d
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts),
exp_ AS (
  SELECT * FROM (VALUES {", ".join(f"({d}, {p})" for d, p in sorted(_BENFORD_PPM.items()))})
  AS e(d, benford_ppm)
)
SELECT e.d, coalesce(c.n, 0) AS n,
       CAST(coalesce(c.n, 0) * 1000000 // t.t AS BIGINT) AS share_ppm,
       CAST(e.benford_ppm AS BIGINT) AS benford_ppm,
       CAST(coalesce(c.n, 0) * 1000000 // t.t - e.benford_ppm AS BIGINT)
           AS dev_ppm,
       abs(coalesce(c.n, 0) * 1000000 // t.t - e.benford_ppm) > 10000
           AS flagged
FROM exp_ e LEFT JOIN counts c ON c.d = e.d, tot t""",
)
def audit_benford(spark, sf):
    """Benford's-law first-digit audit — the classic fraud / synthetic-
    data screen: observed first-digit shares of the money column vs the
    log10(1+1/d) expectation, deviation in exact ppm, flagged beyond a
    1-percentage-point gate.  All integer arithmetic (the Benford
    expectations are frozen floor(log10·1e6) constants), so both
    engines flag identical digits; every digit row appears even at
    count 0 (LEFT JOIN against the expectation table).  On this
    corpus the audit correctly FIRES — the synthetic prices are
    uniform-ish, exactly the non-Benford shape the screen exists to
    catch.

    Scale shape: a 9-group map-side-combined count off ONE scan; the
    total is an all-partition window over those 9 rows (a second
    fact-scan aggregate would double the read), and the final join is a
    broadcast of the 9-row COUNT side (the expectation side is the
    preserved side of the outer join, which Spark can never build-
    broadcast — so the hint goes on the aggregated counts, the only
    side eligible) — nothing after the scan exceeds 9 rows."""
    d = (
        load(spark, sf, "orders")
        .filter(F.round(F.col("o_totalprice") * 100) >= 1)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100)
                .cast("bigint")
                .cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("d")
        )
    )
    counts = d.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    exp_ = spark.createDataFrame(
        sorted(_BENFORD_PPM.items()), "d int, benford_ppm bigint"
    )
    # the total rides an all-partition window over the 9-row count table
    # instead of a second aggregate — orders is scanned exactly once
    share = F.expr("CAST(coalesce(n, 0) * 1000000 DIV t AS BIGINT)")
    return (
        exp_
        .join(F.broadcast(counts), "d", "left")
        .withColumn(
            "t", F.sum(F.coalesce("n", F.lit(0))).over(W.partitionBy())
        )
        .select(
            "d",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            share.alias("share_ppm"),
            "benford_ppm",
            (share - F.col("benford_ppm")).cast("bigint").alias("dev_ppm"),
            (F.abs(share - F.col("benford_ppm")) > 10000).alias("flagged"),
        )
    )


@_q(
    "agg_winsorized",
    """WITH vals AS (
  SELECT c.c_mktsegment AS segment,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY round(o.o_totalprice * 100),
                                     o.o_orderkey) AS rn,
         count(*) OVER (PARTITION BY c.c_mktsegment) AS n
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
bounds AS (
  SELECT segment, cents, rn, n,
         n // 10 AS k_lo, n - n // 10 AS k_hi
  FROM vals
),
clamped AS (
  SELECT segment, n, k_lo,
         CASE WHEN rn <= k_lo
              THEN (SELECT v.cents FROM bounds v
                    WHERE v.segment = b.segment AND v.rn = b.k_lo + 1)
              WHEN rn > k_hi
              THEN (SELECT v.cents FROM bounds v
                    WHERE v.segment = b.segment AND v.rn = b.k_hi)
              ELSE cents END AS w_cents,
         CASE WHEN rn > k_lo AND rn <= k_hi THEN cents END AS t_cents
  FROM bounds b
)
SELECT segment,
       CAST(max(n) AS BIGINT) AS n,
       CAST(sum(w_cents) // max(n) AS BIGINT) AS winsorized_mean_cents,
       CAST(sum(t_cents) // NULLIF(count(t_cents), 0) AS BIGINT)
           AS trimmed_mean_cents
FROM clamped GROUP BY segment""",
)
def agg_winsorized(spark, sf):
    """Robust location estimates, EXACT: the 10%-winsorized mean (tail
    ranks clamped to the P10/P90 boundary VALUES) and the 10%-trimmed
    mean (tails dropped) of order value per market segment — the
    outlier-resistant aggregates a metrics pipeline publishes where a
    plain mean is one fat-finger away from garbage.  Ranks come from
    row_number with an orderkey tiebreak (total order → both engines
    clamp identical rows), boundary values are picked BY RANK (no
    float percentile interpolation anywhere), and the means are exact
    integer-cents floor divisions.

    Scale shape: one segment-keyed exchange; ranks, counts, and both
    boundary values ride a single Window partitioning (the boundary
    lookup is a window max over the rank-filtered value, not a
    self-join); the rollup is |segments| rows."""
    o = load(spark, sf, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    c = load(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    vals = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), "cents", "o_orderkey"
    )
    wseg = W.partitionBy("segment")
    worder = wseg.orderBy("cents", "o_orderkey")
    ranked = vals.select(
        "segment",
        "cents",
        F.row_number().over(worder).alias("rn"),
        F.count(F.lit(1)).over(wseg).alias("n"),
    ).withColumn("k_lo", F.expr("n DIV 10")).withColumn(
        "k_hi", F.expr("n - n DIV 10")
    )
    # boundary VALUES via conditional window aggregates on the same
    # partitioning — no self-join back into the ranked table
    lo_val = F.max(
        F.when(F.col("rn") == F.col("k_lo") + 1, F.col("cents"))
    ).over(wseg)
    hi_val = F.max(F.when(F.col("rn") == F.col("k_hi"), F.col("cents"))).over(
        wseg
    )
    clamped = ranked.select(
        "segment",
        "n",
        F.when(F.col("rn") <= F.col("k_lo"), lo_val)
        .when(F.col("rn") > F.col("k_hi"), hi_val)
        .otherwise(F.col("cents"))
        .alias("w_cents"),
        F.when(
            (F.col("rn") > F.col("k_lo")) & (F.col("rn") <= F.col("k_hi")),
            F.col("cents"),
        ).alias("t_cents"),
    )
    return clamped.groupBy("segment").agg(
        F.max("n").cast("bigint").alias("n"),
        F.expr("CAST(sum(w_cents) DIV max(n) AS BIGINT)").alias(
            "winsorized_mean_cents"
        ),
        F.expr(
            "CAST(sum(t_cents) DIV NULLIF(count(t_cents), 0) AS BIGINT)"
        ).alias("trimmed_mean_cents"),
    )


@_q(
    "join_range_bucketed",
    """WITH pts AS (
  SELECT user_id, event_id, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events
),
iv AS (
  SELECT user_id, sec // 86400 AS day,
         min(sec) AS lo, min(sec) + 14400 AS hi
  FROM pts GROUP BY user_id, sec // 86400
)
SELECT i.user_id, CAST(i.day AS BIGINT) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(p.value), 4) AS sum_v
FROM iv i JOIN pts p
  ON p.user_id = i.user_id AND p.sec >= i.lo AND p.sec < i.hi
GROUP BY i.user_id, i.day""",
)
def join_range_bucketed(spark, sf):
    """BIG×BIG range join by BUCKET DECOMPOSITION — the 100 TB
    alternative to a nested-loop range join: each interval (per-user
    per-day 4-hour activity window) EXPLODES to the hour buckets it
    covers (≤ 5), each point maps to its single hour bucket, the join
    becomes a plain (user, bucket) EQUI-join, and the range predicate
    survives only as a cheap residual filter.  A point's one bucket
    meets an interval at most once, so no dedup step is needed.  The
    DuckDB oracle runs the DIRECT theta join — the hash equality is
    the proof that the decomposition loses and invents nothing.

    Scale shape: both sides shuffle once on (user_id, bucket) into a
    sort-merge/hash EQUI join — work is O(points + intervals ×
    buckets-per-interval), vs the nested-loop's O(points × intervals
    per user) which power-law users make quadratic.  The plan pin
    asserts no BroadcastNestedLoopJoin/CartesianProduct survives."""
    pts = load(spark, sf, "events").select(
        "user_id",
        "event_id",
        "value",
        F.expr(
            "CAST(floor(CAST(CAST(ts AS TIMESTAMP) AS DOUBLE)) AS BIGINT)"
        ).alias("sec"),
    )
    iv = (
        pts.groupBy("user_id", F.expr("sec DIV 86400").alias("day"))
        .agg(F.min("sec").alias("lo"))
        .withColumn("hi", F.col("lo") + 14400)
    )
    ivb = iv.select(
        F.col("user_id").alias("i_user"),
        "day",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.expr("lo DIV 3600"), F.expr("(hi - 1) DIV 3600")
            )
        ).alias("i_bucket"),
    )
    ptb = pts.withColumn("bucket", F.expr("sec DIV 3600"))
    j = ptb.join(
        ivb,
        (F.col("user_id") == F.col("i_user"))
        & (F.col("bucket") == F.col("i_bucket")),
    ).filter((F.col("sec") >= F.col("lo")) & (F.col("sec") < F.col("hi")))
    return j.groupBy("user_id", F.col("day").cast("bigint").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_v"),
    )


@_q(
    "agg_bitmap",
    """SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type""",
)
def agg_bitmap(spark, sf):
    """EXACT distinct counting via bitmap aggregation (Spark 3.5+
    bitmap functions): each user_id sets one bit in a bucketed bitmap
    (bitmap_bucket_number / bitmap_bit_position), bitmap_construct_agg
    builds per-(group, bucket) bitmaps, and bitmap_count sums the
    bits.  Same answer as count(DISTINCT) — the oracle IS
    count(DISTINCT) — but the bitmap state is MERGEABLE: partial
    bitmaps OR together (bitmap_or_agg), which is what makes exact
    distinct incrementally maintainable (per-partition, per-day, or
    streaming) where a naive distinct must re-shuffle history.

    Scale shape: the exchange carries (group, bucket, fixed 4 KiB
    bitmap) rows — at 10^9 users per group that is ~32 MB of bitmap
    per group spread over thousands of buckets, each partial built
    map-side; the final count is a per-group sum of popcounts."""
    e = load(spark, sf, "events").select("event_type", "user_id")
    per_bucket = e.groupBy(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
    ).agg(
        F.expr(
            "bitmap_construct_agg(bitmap_bit_position(user_id))"
        ).alias("bm")
    )
    return per_bucket.groupBy("event_type").agg(
        F.expr("CAST(sum(bitmap_count(bm)) AS BIGINT)").alias("n_users")
    )

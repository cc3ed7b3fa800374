"""Operator inventory: SURVEY.md §2 families expressed as DataFrame plans.

Each entry is one operator family from the reference's query surface
(citations into /root/reference in each docstring), demonstrated on the
driver's TPC-H-ish testdata, paired with an ANSI-SQL oracle that DuckDB
runs over the same parquet.  The driver hash-compares rows, so every
computed column is aliased identically on both sides and floating-point
aggregates are made deterministic (exact decimal summation, or explicit
sequential-fold summation for vector math).

Scale notes (the 100 TB design intent) are in each docstring: which side
broadcasts, where the shuffle lands, why the plan survives 1000
executors.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from graphd_spark.jexpr import _c, _l
from graphd_spark.session import load_tables

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        fn.__inventory_name__ = name
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    tables = load_tables(spark, sf_dir)
    return [tables[n] for n in names]


# exact money sum: per-value cast to decimal(18,2) (deterministic for
# doubles not astride a .005 boundary), exact decimal addition (order-
# independent), one final cast back to double.  This removes the
# last-ulp dependence on partial-aggregation order that a plain
# sum(double) has on a cluster.
def _money_sum(col):
    return F.sum(col.cast("decimal(18,2)")).cast("double")


# ---------------------------------------------------------------------------
# §2.2 scans / sources
# ---------------------------------------------------------------------------


@q(
    "scan_project_filter",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
      AND l_quantity > 45
    """,
)
def scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-scan + intrinsic predicates + projection pruning.

    Ref: libpdb/pdb-iterator-all.c (all-scan); graphd/graphd-match.c:269
    (intrinsics).  Scale: filter + column pruning push to the parquet
    scan (PushedFilters in explain), so a 100 TB scan reads only 4
    columns of the matching row groups.
    """
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (_c("l_shipdate") >= "1995-01-01")
        & (_c("l_shipdate") < "1996-01-01")
        & (_c("l_quantity") > 45)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


@q(
    "fixed_guid_set",
    """
    SELECT n_nationkey, n_name FROM nation
    WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_14')
    """,
)
def fixed_guid_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed literal id-set scan: guid=(G1 G2 ...).

    Ref: graphd/graphd-iterator-fixed.c (literal GUID arrays).  An IN
    over a literal set compiles to an in-set predicate pushed to the
    scan — no join, no shuffle.
    """
    (nation,) = _t(spark, sf_dir, "nation")
    return nation.filter(
        _c("n_name").isin("NATION_3", "NATION_7", "NATION_14")
    ).select("n_nationkey", "n_name")


# ---------------------------------------------------------------------------
# §2.4 joins (the constraint-tree nesting family)
# ---------------------------------------------------------------------------


@q(
    "linkage_join_2hop",
    """
    SELECT c.c_custkey, c.c_name,
           count(o.o_orderkey) AS order_cnt,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey   = c.c_custkey
    WHERE r.r_name = 'ASIA'
    GROUP BY c.c_custkey, c.c_name
    """,
)
def linkage_join_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graphd "simple template query": nested linkage constraints.

    read (type="customer" (<-left type="in_nation" right->(...)))
    compiles to a chain of equi-joins parent.guid == child.linkage.
    Ref: doc/a-brief-tour-of-graphd.md:149-189 (nesting = join),
    graphd/graphd.h:1197-1211 (linkage encoding).

    Scale: region and nation are tiny -> broadcast joins (no shuffle);
    customer⋈orders shuffles on custkey once, and the groupBy reuses
    that partitioning (no second shuffle).
    """
    region, nation, customer, orders = _t(
        spark, sf_dir, "region", "nation", "customer", "orders"
    )
    dims = (
        region.filter(_c("r_name") == "ASIA")
        .join(nation, nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey")
    )
    return (
        customer.join(F.broadcast(dims), customer.c_nationkey == dims.n_nationkey)
        .join(orders, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            _money_sum(_c("o_totalprice")).alias("total_spend"),
        )
    )


@q(
    "semi_join_exists",
    """
    SELECT s_suppkey, s_name FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey
                  AND l.l_quantity >= 49)
    """,
)
def semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit semi-join: a subconstraint that only filters its parent.

    Ref: graphd/graphd.h:1281-1283 (pframe wants nothing -> existence
    only).  Scale: left_semi lets Spark stop per key on first match and
    never materializes the child payload.
    """
    supplier, lineitem = _t(spark, sf_dir, "supplier", "lineitem")
    children = lineitem.filter(_c("l_quantity") >= 49)
    return supplier.join(
        children, supplier.s_suppkey == children.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@q(
    "anti_join_count0",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 60000)
    """,
)
def anti_join_count0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count=0 subconstraint: parent matches only when no child does.

    Ref: graphd/graphd.h:1230,1235-1238 (count=0 with con_false is
    true).  Maps to left_anti; the child carries an intrinsic
    predicate (the common reference shape: `(<-left value>... count=0)`).
    """
    customer, orders = _t(spark, sf_dir, "customer", "orders")
    children = orders.filter(_c("o_totalprice") > 60000)
    return customer.join(
        children, customer.c_custkey == children.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@q(
    "optional_left_outer",
    """
    SELECT n.n_name, count(c.c_custkey) AS n_customers
    FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def optional_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`optional` subconstraint: parent survives with zero children.

    Ref: libgdp/gdp-parse.c:2017, graphd/graphd.h:474-485.  left_outer +
    count(non-null child key) keeps the zero groups.
    """
    nation, customer = _t(spark, sf_dir, "nation", "customer")
    return (
        nation.join(customer, customer.c_nationkey == nation.n_nationkey, "left_outer")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


@q(
    "cardinality_atleast",
    """
    SELECT o_custkey, count(*) AS order_cnt
    FROM orders GROUP BY o_custkey HAVING count(*) >= 15
    """,
)
def cardinality_atleast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count>=n / atleast=n cardinality constraint on a subconstraint.

    Ref: libgdp/gdp-parse.c:1983,1989 (atleast/count parse), enforcement
    graphd/graphd-read-set.c.  groupBy + HAVING; partial aggregation
    makes the shuffle carry one row per (partition, key).
    """
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("order_cnt"))
        .filter(_c("order_cnt") >= 15)
    )


@q(
    "isa_distinct_expand",
    """
    SELECT p.p_partkey, p.p_name, p.p_brand
    FROM part p
    WHERE p.p_partkey IN (
      SELECT DISTINCT l_partkey FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-06-01'
        AND l_shipdate <  TIMESTAMP '1995-07-01')
    """,
)
def isa_distinct_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is-a expansion: ids pointed *to* through a linkage, deduplicated.

    Ref: graphd/graphd-iterator-isa.c:17-27 (projection through a
    linkage requires dedup).  distinct() then join; at scale the
    distinct side shrinks enough to broadcast.
    """
    part, lineitem = _t(spark, sf_dir, "part", "lineitem")
    pointed = (
        lineitem.filter(
            (_c("l_shipdate") >= "1995-06-01") & (_c("l_shipdate") < "1995-07-01")
        )
        .select("l_partkey")
        .distinct()
    )
    return part.join(pointed, part.p_partkey == pointed.l_partkey, "left_semi").select(
        "p_partkey", "p_name", "p_brand"
    )


# ---------------------------------------------------------------------------
# §2.7 set operations
# ---------------------------------------------------------------------------


@q(
    "or_union_dedup",
    """
    SELECT p_partkey, p_brand, p_size FROM part
    WHERE p_size < 10 OR p_brand = 'Brand#3'
    """,
)
def or_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR of constraint branches with dedup across branch results.

    Ref: libgdp/gdp-parse.c:2056-2134 (or-chains),
    graphd/graphd-iterator-or.c.  Evaluated the graphd way: each branch
    is its own candidate set, union'd then deduplicated.  (Catalyst
    could also fuse this to one disjunctive filter; we keep the branch
    structure to mirror or-branch evaluation, and dropDuplicates on the
    key keeps it correct.)
    """
    (part,) = _t(spark, sf_dir, "part")
    proj = ["p_partkey", "p_brand", "p_size"]
    b1 = part.filter(_c("p_size") < 10).select(*proj)
    b2 = part.filter(_c("p_brand") == "Brand#3").select(*proj)
    return b1.unionByName(b2).dropDuplicates(["p_partkey"])


@q(
    "without_except",
    """
    SELECT DISTINCT o_custkey FROM orders
    EXCEPT
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def without_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHOUT: subtract one candidate set from another.

    Ref: graphd/graphd-iterator-without.c:15-18 (used for guid!= and
    excluders).  DataFrame subtract == EXCEPT DISTINCT.
    """
    (orders,) = _t(spark, sf_dir, "orders")
    all_cust = orders.select("o_custkey").distinct()
    open_cust = orders.filter(_c("o_orderstatus") == "O").select("o_custkey").distinct()
    return all_cust.subtract(open_cust)


# ---------------------------------------------------------------------------
# §2.5 aggregation family
# ---------------------------------------------------------------------------


@q(
    "count_per_parent",
    """
    SELECT o_custkey, count(*) AS order_cnt FROM orders GROUP BY o_custkey
    """,
)
def count_per_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """result=count per parent primitive (grouping is implicit per
    parent in graphd).  Ref: graphd/graphd.h:648,
    graphd/graphd-read-set-count.c:31-140."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(F.count("*").alias("order_cnt"))


@q(
    "countlimit",
    """
    SELECT count(*) AS cnt FROM (SELECT 1 FROM lineitem LIMIT 5000) t
    """,
)
def countlimit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """countlimit=N: stop counting at N.  Ref: libgdp/gdp-parse.c:1988,
    graphd/graphd.h:1305-1306.  limit(N).count() lets Spark stop the
    scan early (CollectLimit); the resulting count is min(N, |rows|),
    deterministic regardless of which rows were seen."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.limit(5000).agg(F.count("*").alias("cnt"))


@q(
    "sample_first_per_group",
    """
    SELECT o_custkey, o_orderkey AS first_orderkey FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders) t WHERE rn = 1
    """,
)
def sample_first_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pat_sample: the first child value in sort order wins.

    Ref: graphd/graphd.h:811-814.  Expressed as min(struct(sortkeys))
    — a plain aggregate, so it map-side-combines instead of running a
    window (cheaper than row_number at scale: one shuffle, no sort of
    full partitions)."""
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.min(F.struct("o_orderdate", "o_orderkey"))["o_orderkey"].alias("first_orderkey")
    )


@q(
    "collect_contents",
    """
    SELECT l_orderkey,
           string_agg(l_linenumber::VARCHAR, ',' ORDER BY l_linenumber) AS lines
    FROM lineitem GROUP BY l_orderkey
    """,
)
def collect_contents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pat_collect + result shaping: nested contents as an ordered list.

    Ref: graphd/graphd.h:816-819 (collection),
    graphd/graphd-pattern.c:38-59 (contents shaping).  collect_list into
    a sorted, joined string so the value is order-canonical for the
    hash compare."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(_c("l_linenumber"))),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("lines")
    )


# ---------------------------------------------------------------------------
# §2.6 sort / page / top-k / cursors
# ---------------------------------------------------------------------------


@q(
    "sort_multikey_topk",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def sort_multikey_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sort=(-value ...) with pagesize: incremental top-k.

    Ref: graphd/graphd-sort.c:36-75 (2·pagesize working set).  orderBy +
    limit compiles to TakeOrderedAndProject: each task keeps a k-heap,
    driver merges — no global sort at any scale.  Sort keys include a
    unique tiebreak (orderkey, linenumber) so the page is deterministic.
    """
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.orderBy(_c("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(100)
    )


def _after_predicate(key_cols, last):
    """Row-value comparison ``(k1,k2,...) > (v1,v2,...)`` as a Column.

    Expanded to the standard nested form so every comparison pushes
    down (Parquet min/max pruning sees the leading key's ``>=``).
    """
    assert len(key_cols) == len(last)
    pred = None
    for i in range(len(key_cols)):
        clause = None
        for j in range(i):
            eq = F.col(key_cols[j]) == F.lit(last[j])
            clause = eq if clause is None else (clause & eq)
        gt = F.col(key_cols[i]) > F.lit(last[i])
        clause = gt if clause is None else (clause & gt)
        pred = clause if pred is None else (pred | clause)
    return pred


@q(
    "page_offset",
    """
    SELECT o_orderkey, rn FROM (
      SELECT o_orderkey,
             row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders) t
    WHERE rn > 1000 AND rn <= 1100
    """,
)
def page_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pagesize=/start= pagination over a total order, keyset-planned.

    Ref: libgdp/gdp-parse.c:2020,2032, graphd/graphd-sort.c:21-22;
    cursor continuation graphd/graphd-read-set-cursor.c:33-87.

    Scale: an OFFSET plan funnels every row through one task (global
    window).  Instead the page boundary key is found with a distributed
    top-k (TakeOrderedAndProject of the first 1000 keys), and the page
    itself is a key-set continuation ``WHERE (k) > (boundary) ORDER BY
    k LIMIT 100`` (_after_predicate) — both phases stay
    distributed at any depth.  The row_number runs over the 100
    collected page rows only.
    """
    (orders,) = _t(spark, sf_dir, "orders")
    keys = ["o_orderdate", "o_orderkey"]
    boundary = (
        orders.select(*keys).orderBy(*keys).limit(1000).orderBy(
            *[_c(c).desc() for c in keys]
        ).limit(1)
    ).collect()
    page = orders.select(*keys)
    if boundary:
        last = [boundary[0][c] for c in keys]
        page = page.filter(_after_predicate(keys, last))
    w = W.orderBy(*keys)
    return (
        page.orderBy(*keys)
        .limit(100)
        .select("o_orderkey", (F.row_number().over(w) + 1000).alias("rn"))
    )


@q(
    "topk_per_group",
    """
    SELECT o_custkey, o_orderkey, rk FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders) t WHERE rk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resultpagesize: per-parent limit on returned contents.

    Ref: libgdp/gdp-parse.c:2025 (resultpagesize), SURVEY §7 hard part
    "per-parent correlated limits".  row_number over (parent) window;
    AQE handles skewed parents."""
    (orders,) = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(_c("o_totalprice").desc(), "o_orderkey")
    return (
        orders.select("o_custkey", "o_orderkey", F.row_number().over(w).alias("rk"))
        .filter(_c("rk") <= 3)
    )


# ---------------------------------------------------------------------------
# §1.2 versioning / newest-dedup / time-travel analogs
# ---------------------------------------------------------------------------


@q(
    "newest_version_dedup",
    """
    SELECT user_id, event_id AS latest_event FROM (
      SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t WHERE rn = 1
    """,
)
def newest_version_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """newest=0: only the current version of each lineage matches.

    Ref: graphd/graphd.h:458-472 (generations), SURVEY §1.4 (`current`
    view = row_number over lineage by id desc).  Identical shape: latest
    event per user with a total tiebreak."""
    (events,) = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(_c("ts").desc(), _c("event_id").desc())
    return (
        events.select("user_id", "event_id", F.row_number().over(w).alias("rn"))
        .filter(_c("rn") == 1)
        .select("user_id", _c("event_id").alias("latest_event"))
    )


@q(
    "timestamp_range_agg",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           count(*) AS order_cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1996-01-01'
    GROUP BY 1
    """,
)
def timestamp_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timestamp range predicates (dateline/asof horizon analog).

    Ref: libgdp/gdp-parse.c:1696-1760 (timestamp constraints),
    graphd/graphd-read.c:203-486 (asof -> id bounds).  The range
    predicate prunes parquet row groups via min/max stats — the same
    "id horizon" effect the reference gets from dense ids."""
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.filter(
            (_c("o_orderdate") >= "1995-01-01") & (_c("o_orderdate") < "1996-01-01")
        )
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            F.count("*").alias("order_cnt"),
            _money_sum(_c("o_totalprice")).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# §2.8 comparators
# ---------------------------------------------------------------------------


@q(
    "comparator_number_sort",
    """
    SELECT p_partkey, printf('%.2f', p_retailprice) AS price_str FROM part
    ORDER BY CAST(printf('%.2f', p_retailprice) AS DOUBLE) DESC, p_partkey
    LIMIT 50
    """,
)
def comparator_number_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """number comparator: numeric ordering of number-strings.

    Ref: graphd/graphd-comparator-number.c:545 (values are stored as
    strings; the number comparator orders them numerically).  The
    engine's comparator translation (graphd_spark.comparators) emits
    order-preserving binary sort keys; this demo uses a plain cast
    since the strings are uniform."""
    (part,) = _t(spark, sf_dir, "part")
    priced = part.select(
        "p_partkey", F.format_string("%.2f", _c("p_retailprice")).alias("price_str")
    )
    return priced.orderBy(
        _c("price_str").cast("double").desc(), "p_partkey"
    ).limit(50)


@q(
    "comparator_datetime_filter",
    """
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS date_str
    FROM orders
    WHERE CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE)
          BETWEEN DATE '1996-03-01' AND DATE '1996-03-15'
    """,
)
def comparator_datetime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """datetime comparator: chronological ordering of date-strings.

    Ref: graphd/graphd-comparator-datetime.c:854.  Date-strings are
    parsed (to_date) and compared chronologically."""
    (orders,) = _t(spark, sf_dir, "orders")
    dated = orders.select(
        "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_str")
    )
    return dated.filter(
        F.to_date("date_str").between("1996-03-01", "1996-03-15")
    )


# ---------------------------------------------------------------------------
# §2.11 streaming analog: windowed aggregation over the event stream
# ---------------------------------------------------------------------------


@q(
    "events_window_agg",
    """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation over the change stream.

    The reference's only stream is replication (doc/gr-replication.txt);
    this is the batch form of the event-time window plan (the
    Structured Streaming form is readStream + watermark over the same
    groupBy; batch is what the driver can oracle-check)."""
    (events,) = _t(spark, sf_dir, "events")
    return events.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(_c("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
    )


def _restore_bulk_primitives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed dump restore (SURVEY §2.1 restore, bulk path).

    Synthesizes a version-6 dump — two primitives per lineitem row,
    >=1M tuples at sf0.1, GUIDs composed in SQL — and replays it through
    :func:`graphd_spark.dump.bulk_restore`: executors parse the tuple
    text, version chains resolve with joins, and the result is the
    full primitives DataFrame.  The driver-side protocol ``restore``
    replays one tuple at a time; this is the path a 121M-primitive
    production dump takes (ref doc/a-brief-tour-of-graphd.md:203,
    graphd/graphd-restore.c).

    The returned frame is a one-row summary (count, id sum, guid and
    value md5 checksums) of the *restored* primitives, which the
    DuckDB oracle recomputes independently from ``lineitem`` — so the
    whole executor-side parse + guid round-trip is value-checked, not
    just row-counted.  Byte-exact per-field round-trips are separately
    covered by tests/test_bulk_restore.py.

    Scale note: serials are minted map-side from the natural key
    (orderkey, linenumber, copy) — no global ordering pass anywhere
    in setup or restore, so the whole path is embarrassingly
    parallel; a real dump already carries its GUIDs.  The summary is
    a single partial-aggregable pass over the restored frame.
    """
    from graphd_spark.dump import bulk_restore
    from graphd_spark.model import PREDICTABLE_DB_ID, guid_compose

    from graphd_spark.session import scan_bytes

    (li,) = _t(spark, sf_dir, "lineitem")
    # spread the narrow source before synthesizing tuple text: the
    # chain probe and the Python parse then both run cluster-wide,
    # and the wide text rows are never shuffled.  Width decided from
    # file metadata (scan_bytes), not df.rdd.getNumPartitions(), which
    # compiles the physical plan just to count partitions.
    par = spark.sparkContext.defaultParallelism
    nbytes = scan_bytes(li)
    scanned_wide = nbytes is not None and nbytes >= par * (128 << 20)
    if not scanned_wide:
        # hash-repartition on a deterministic key: a keyless
        # repartition(n) first pays a local sort of its input
        # (sortBeforeRepartition, for retry determinism); hashing on
        # the natural key skips the sort and is retry-safe by
        # construction
        li = li.repartition(par, "l_orderkey")
    # every piece of the value text formats identically in Spark and
    # DuckDB (strings, a floored bigint, an explicit yyyy-MM-dd) so the
    # oracle can rebuild it byte-for-byte
    src = li.select(
        F.concat_ws(
            " ",
            "l_returnflag",
            F.floor("l_quantity").cast("long"),
            F.date_format("l_shipdate", "yyyy-MM-dd"),
            "l_linestatus",
        ).alias("text"),
        "l_orderkey",
        "l_linenumber",
        # two primitives per source row: a plain per-row explode of a
        # 2-literal array (was crossJoin(range(2)), which planned as a
        # BroadcastNestedLoopJoin — an extra broadcast exchange + join
        # node for what is a projection)
        F.explode(F.array(_l(0).cast("long"), _l(1).cast("long")))
        .alias("copy"),
    )
    prefix = guid_compose(PREDICTABLE_DB_ID, 0)[:16]
    serial = (
        _c("l_orderkey").cast("long") * 16
        + _c("l_linenumber").cast("long") * 2
        + _c("copy")
    )
    # literal (non-regex) replaces: same escaping, no regex engine in
    # the 2x-per-row hot projection
    esc = F.replace(
        F.replace(_c("text"), _l("\\"), _l("\\\\")),
        _l('"'),
        _l('\\"'),
    )
    # guid low half = 0x8000... | serial (the graph-guid layout);
    # bitwiseOR, not addition — ANSI mode rejects the overflow trick.
    # One format_string renders prefix + %016x + the value directly:
    # Java's %016x prints the two's-complement long lowercase and
    # zero-padded, replacing the old hex->lpad->lower->concat chain
    # (4 string expressions per synthesized row) with a single pass.
    line = F.format_string(
        '(%s%016x null null string "%s" 0 true true false '
        "1970-01-01T00:00:00.0000Z 0 0 0)",
        _l(prefix),
        _l(-(2 ** 63)).bitwiseOR(serial),
        esc,
    )
    # chains=False: every synthesized tuple is generation 0 (prev="0"),
    # so the chain probe's extra full evaluation of the line source is
    # skipped — the whole restore is then ONE pass over the text.
    # spread=False: the source was widened above; skip the partition
    # probe (it would compile this plan a second time).
    return bulk_restore(
        spark, src.select(line.alias("value")), PREDICTABLE_DB_ID,
        chains=False, spread=False,
    )


@q(
    "restore_bulk",
    """
    WITH src AS (
      SELECT concat_ws(' ', l_returnflag,
                       CAST(floor(l_quantity) AS BIGINT),
                       strftime(l_shipdate, '%Y-%m-%d'),
                       l_linestatus) AS value,
             l_orderkey * 16 + l_linenumber * 2 + copy AS id
      FROM lineitem, (SELECT 0 AS copy UNION ALL SELECT 1) copies),
    g AS (
      SELECT id, value,
             concat('0000001240003456',
                    printf('%016x',
                           (-9223372036854775808)::BIGINT | id)) AS guid
      FROM src)
    SELECT CAST(count(*) AS BIGINT) AS n_primitives,
           CAST(sum(id) AS BIGINT) AS id_sum,
           CAST(count(DISTINCT guid) AS BIGINT) AS n_guids,
           CAST(sum(CAST(concat('0x', substring(md5(guid), 1, 8))
                         AS BIGINT)) AS BIGINT) AS guid_checksum,
           CAST(sum(CAST(concat('0x', substring(md5(value), 1, 8))
                         AS BIGINT)) AS BIGINT) AS value_checksum,
           CAST(sum(length(value)) AS BIGINT) AS value_len_sum
    FROM g
    """,
)
def restore_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    restored = _restore_bulk_primitives(spark, sf_dir)
    # 8 hex digits of md5 -> <2^32 per row; the bigint sum is overflow-
    # safe to ~2^31 rows, far past any sf this runs at
    def _ck(col):
        return F.sum(
            F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
        )

    return restored.agg(
        F.count("*").alias("n_primitives"),
        F.sum("id").alias("id_sum"),
        F.countDistinct("guid").alias("n_guids"),
        _ck("guid").alias("guid_checksum"),
        _ck("value").alias("value_checksum"),
        F.sum(F.length("value")).alias("value_len_sum"),
    )

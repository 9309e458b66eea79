"""Set-operation + sort family (SURVEY.md §2.7 U1-U4, §2.8 O1-O4)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register


def _u1_oracle() -> str:
    from ..views.events import EVENTS_ALL_SQL

    return f"""
    SELECT event_type, YEAR(ts) AS yr, COUNT(*) AS n,
           CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
    FROM ({EVENTS_ALL_SQL})
    WHERE ts IS NOT NULL
    GROUP BY event_type, YEAR(ts)
    ORDER BY event_type, yr
    """


@register(
    "u1_union_event_log",
    oracle=_u1_oracle(),
    tags=("U1", "R1", "S1"),
    bench=True,
)
def u1_union_event_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events_all() union — the reference's 10-way rbind
    (R/events.R:929-988, U1) as ONE Catalyst plan over twelve
    extractors (projection, filter, classifier-merge, window-parsed,
    NA-propagating relabel+patch, paired from/to unpivot, labeled
    date-column gather, child-min aggregate with and without a parent
    flag gate, and gather+relabel+dedup shapes — the window/agg
    extractors shuffle; the rest stay narrow until the groupBy)."""
    from ..views.events import events_all

    ev = events_all(spark, sf_dir)
    return (
        ev.groupBy("event_type", F.year("ts").alias("yr"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("amount").cast("decimal(18,2)")).cast("double").alias("total_amount"),
        )
        .orderBy("event_type", "yr")
    )


@register(
    "u2_union_dedup",
    oracle="""
    SELECT YEAR(o_orderdate) AS yr, COUNT(*) AS n
    FROM (
      SELECT o_orderkey, o_orderdate FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      UNION
      SELECT o_orderkey, o_orderdate FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '2000-01-01'
    )
    GROUP BY 1
    ORDER BY yr
    """,
    tags=("U2", "A4"),
)
def u2_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union + dedup of overlapping slices (events.R:546-549, U2).
    dropDuplicates on the full row == SQL UNION DISTINCT."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s1 = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
    )
    s2 = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp_ntz"))
    )
    return (
        s1.unionByName(s2)
        .dropDuplicates()
        .groupBy(F.year("o_orderdate").alias("yr"))
        .agg(F.count("*").alias("n"))
        .orderBy("yr")
    )


@register(
    "u3_array_intersect_sources",
    oracle="""
    WITH sl AS (SELECT DISTINCT source, lang FROM documents)
    SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common_langs
    FROM sl a JOIN sl b ON a.lang = b.lang AND a.source < b.source
    WHERE a.source IN ('src0','src1','src2') AND b.source IN ('src0','src1','src2')
    GROUP BY 1, 2
    ORDER BY source_a, source_b
    """,
    tags=("U3",),
)
def u3_array_intersect_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection via array_intersect on collect_set arrays — the
    reference's issue-category overlap matching
    (unified-appeal-streams.R:108-116, U3)."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1", "src2")
    )
    sets_df = d.groupBy("source").agg(F.collect_set("lang").alias("langs"))
    a, b = sets_df.alias("a"), sets_df.alias("b")
    return (
        a.join(b, F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.size(F.array_intersect(F.col("a.langs"), F.col("b.langs"))).alias(
                "n_common_langs"
            ),
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "o1_multikey_sort_head",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_shipdate
    FROM lineitem
    ORDER BY l_returnflag, l_shipdate DESC, l_orderkey, l_linenumber
    LIMIT 50
    """,
    tags=("O1", "O2"),
)
def o1_multikey_sort_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort + head (events.R:96,988 arrange; O1/O2).
    TakeOrderedAndProject: per-partition top-N + merge, never a global
    sort."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate")
        .orderBy(
            F.asc("l_returnflag"),
            F.desc("l_shipdate"),
            F.asc("l_orderkey"),
            F.asc("l_linenumber"),
        )
        .limit(50)
    )


@register(
    "o4_complete_weeks_only",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS month, COUNT(*) AS n
      FROM events GROUP BY 1
    ), bounds AS (
      SELECT MIN(month) AS first_m, MAX(month) AS last_m FROM monthly
    )
    SELECT month AS week, n
    FROM monthly, bounds
    WHERE month > first_m AND month < last_m
    ORDER BY week
    """,
    tags=("O4",),
)
def o4_complete_weeks_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-period truncation (impact.R:65-66,296 drops the
    incomplete trailing period before reporting): keep only interior
    weeks of the data extent — the batch form of a watermark."""
    e = load_table(spark, sf_dir, "events")
    monthly = e.groupBy(F.date_trunc("week", "ts").cast("date").alias("month")).agg(
        F.count("*").alias("n")
    )
    bounds = monthly.agg(
        F.min("month").alias("first_m"), F.max("month").alias("last_m")
    )
    return (
        monthly.crossJoin(F.broadcast(bounds))
        .filter((F.col("month") > F.col("first_m")) & (F.col("month") < F.col("last_m")))
        .select(F.col("month").alias("week"), "n")
        .orderBy("week")
    )


def _u5_oracle() -> str:
    from ..views.events import EVENTS_ALL_SQL

    return f"""
    SELECT entity_id, COUNT(*) AS n, MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM ({EVENTS_ALL_SQL})
    WHERE event_type LIKE 'order%' AND ts >= TIMESTAMP '1995-01-01'
    GROUP BY entity_id
    ORDER BY entity_id
    LIMIT 40
    """


@register(
    "u5_event_where_hook",
    oracle=_u5_oracle(),
    tags=("U1", "S8", "P7"),
)
def u5_event_where_hook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``event_all(con, join, where)`` composability
    hook (events.R:923-991): a caller-supplied predicate over the
    unified event log. Catalyst pushes the predicate through the union
    into every extractor branch — `.explain` shows the LIKE+date filter
    at each source scan, so a selective `where` prunes a 100 TB log to
    the matching branches instead of materializing the union first
    (the reference interpolates the WHERE string into each per-source
    SQL; predicate pushdown is the engine-native equivalent)."""
    from ..views.events import events_all

    ev = events_all(
        spark,
        sf_dir,
        where="event_type LIKE 'order%' AND ts >= TIMESTAMP_NTZ '1995-01-01'",
    )
    return (
        ev.groupBy("entity_id")
        .agg(
            F.count("*").alias("n"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("entity_id")
        .limit(40)
    )

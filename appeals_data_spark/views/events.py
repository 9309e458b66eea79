"""The derived event-log view — the reference's core abstraction.

`R/events.R` converts wide tables into a long
(entity, event_type, ts) stream via ~10 per-source extractors unioned
at the end (events.R:923-991, SURVEY §1.4, R1, U1). Here each
extractor is a lazy DataFrame built from one SQL text; `events_all`
is a single union so Catalyst sees ONE plan covering extraction +
union — scan sharing and pushdown happen across extractors, unlike
the reference's 10 separate Oracle round trips (SURVEY §3.1).

Canonical schema: (entity_id long, event_type string, ts timestamp_ntz,
amount double nullable). Unpivot-style extractors use SQL ``UNPIVOT``
— the direct analog of tidyr `gather`.
"""

from __future__ import annotations

from functools import reduce, wraps
from string import Formatter
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import literal_dim, load_table, sized_for_compute


def _union_sql(
    spark: SparkSession, sf_dir: str, branches: list[str], where: str = "TRUE"
) -> DataFrame:
    """Conformed union of extractor SELECTs, issued as ONE ``spark.sql``.

    Each branch is a SELECT whose output names are the canonical
    columns (any order); each ``{table}`` it names is read through the
    catalog. The canonical casts and the non-null ts filter wrap every
    branch, so all branches agree on schema and union by position.
    ``spark.sql`` binds the tables as temporary views and drops them
    again before it returns; one statement is analysed once, where a
    DataFrame union pays an analysis per branch and per union step."""
    names = {name for b in branches for _, name, _, _ in Formatter().parse(b)}
    frames = {name: load_table(spark, sf_dir, name) for name in names if name}
    union = "\nUNION ALL\n".join(
        "SELECT CAST(entity_id AS BIGINT) AS entity_id,"
        " CAST(event_type AS STRING) AS event_type,"
        " CAST(ts AS TIMESTAMP_NTZ) AS ts, CAST(amount AS DOUBLE) AS amount"
        f" FROM ({b}) WHERE ts IS NOT NULL"
        for b in branches
    )
    return spark.sql(f"SELECT * FROM ({union}) WHERE {where}", **frames)


def _sql_extractor(select: Callable[[], str]):
    """Extractor ``(spark, sf_dir) -> DataFrame`` from a function that
    returns its SELECT text; the text stays on ``.sql`` so events_all
    can union every branch in one statement."""
    sql = select()

    @wraps(select)
    def extractor(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _union_sql(spark, sf_dir, [sql])

    extractor.sql = sql
    return extractor


@_sql_extractor
def order_events() -> str:
    """Each order placement is an event on the customer."""
    return """
        SELECT o_custkey AS entity_id, 'order_placed' AS event_type,
               o_orderdate AS ts, o_totalprice AS amount
        FROM {orders}"""


@_sql_extractor
def shipment_events() -> str:
    """Each line shipment is an event on the supplier."""
    return """
        SELECT l_suppkey AS entity_id, 'line_shipped' AS event_type,
               l_shipdate AS ts, l_extendedprice AS amount
        FROM {lineitem}"""


@_sql_extractor
def user_events() -> str:
    """The raw clickstream table, conformed."""
    return """
        SELECT user_id AS entity_id, event_type, ts, value AS amount
        FROM {events}"""


@_sql_extractor
def return_events() -> str:
    """Returned lines are events on the supplier (filter-extractor
    shape: most of the reference's extractors are base table + WHERE,
    events.R:38-43)."""
    return """
        SELECT l_suppkey AS entity_id, 'line_returned' AS event_type,
               l_shipdate AS ts, l_extendedprice AS amount
        FROM {lineitem} WHERE l_returnflag = 'R'"""


# End-state classifier: code -> event label, inner join => also filters
# (the reference's EventEndStateClassifier merge, R/events.R:863-865 +
# constants.R:15-18 — J14). A literal broadcast dim, not a when-chain,
# so adding end states is data, not code.
END_STATE_CLASSIFIER = (("F", "order_finished"), ("P", "order_in_process"))


_END_STATE_ROWS = ", ".join(f"('{c}', '{t}')" for c, t in END_STATE_CLASSIFIER)


@_sql_extractor
def end_state_events() -> str:
    return f"""
        SELECT /*+ broadcast(c) */ o_custkey AS entity_id, c.event_type,
               o_orderdate AS ts, o_totalprice AS amount
        FROM {{orders}}
        JOIN (VALUES {_END_STATE_ROWS}) AS c(o_orderstatus, event_type)
          USING (o_orderstatus)"""


@_sql_extractor
def session_start_events() -> str:
    """Window-parsed extractor: a 'session_started' event wherever a
    user's gap from the previous raw event exceeds 30 minutes (or the
    stream begins). Mirrors the reference's derived extractors, which
    parse the PRIORLOC history with lag/lead windows rather than
    projecting stored columns (events.R:106-268, W1-W2).

    Null-ts rows are dropped BEFORE the window (the event-log contract
    excludes undated rows, so they must not act as run/gap neighbors —
    and Spark's nulls-first vs DuckDB's nulls-last ordering would
    otherwise diverge)."""
    return """
        SELECT user_id AS entity_id, 'session_started' AS event_type, ts,
               CAST(NULL AS DOUBLE) AS amount
        FROM (SELECT user_id, ts, LAG(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id) AS _prev
              FROM {events} WHERE ts IS NOT NULL)
        WHERE _prev IS NULL OR ts >= _prev + INTERVAL 30 MINUTES"""


@_sql_extractor
def hearing_events() -> str:
    """Relabel+patch extractor (events.R:540-549):
    ``EVENT_TYPE = ifelse(HEARING_DISP == "H", "HEARING",
    "HEARING_EXCEPTION")`` with R's NA-PROPAGATING ifelse — a NULL
    disposition yields a NULL label, never the else branch (the
    when/otherwise trap; see functions.scalars.r_ifelse) — then the
    CLSDATE patch: exceptions with a non-null close date take it as
    their event date. NULL-labelled rows are NOT patched (R's
    ``EVENT_TYPE == "HEARING_EXCEPTION"`` is NA for them; dplyr-style
    NA-as-false — the literal base-R subscript-assignment would error
    on NA subscripts, so the reference implicitly never sees NULL
    dispositions with close dates; we pin the defined behavior).

    The synthetic tables have no nullable disposition column, so one is
    derived deterministically from the clickstream: 'signup' rows act
    as hearing records, disp = H/X/NULL banded on value, close date =
    ts+3d for value>10.
    """
    from ..functions.scalars import SQL_R_IFELSE

    label = SQL_R_IFELSE.format(
        cond="disp = 'H'", yes="'HEARING'", no="'HEARING_EXCEPTION'"
    )
    return f"""
        SELECT user_id AS entity_id, event_type,
               CASE WHEN event_type = 'HEARING_EXCEPTION' AND clsdate IS NOT NULL
                    THEN clsdate ELSE ts END AS ts,
               value AS amount
        FROM (SELECT user_id, ts, value, clsdate, {label} AS event_type
              FROM (SELECT user_id, ts, value,
                           CASE WHEN value > 30 THEN 'H'
                                WHEN value > 20 THEN 'X' END AS disp,
                           CASE WHEN value > 10 THEN ts + INTERVAL 3 DAYS
                                END AS clsdate
                    FROM {{events}} WHERE event_type = 'signup'))"""


@_sql_extractor
def transcription_events() -> str:
    """Paired from/to location extractor (events.R:116-126 abeyance
    gather; also .parseAbeyanceLocs:164-180): one location-log row
    emits TWO events — TO_X at the check-out date and FROM_X at the
    check-in date — via ``UNPIVOT`` (tidyr ``gather``). 'error' rows
    stand in for transcription-loc rows; the check-in date is derived
    as ts + floor(value) minutes.
    """
    return """
        SELECT * FROM (
          SELECT user_id AS entity_id, value AS amount, ts AS to_transcript,
                 ts + make_interval(0, 0, 0, 0, 0, CAST(FLOOR(value) AS INT), 0)
                   AS from_transcript
          FROM {events} WHERE event_type = 'error'
        ) UNPIVOT INCLUDE NULLS
          (ts FOR event_type IN (to_transcript, from_transcript))"""


@_sql_extractor
def milestone_events() -> str:
    """The reference's workhorse extractor shape: N wide date columns
    gathered into labeled events with a column->label map and a
    non-null filter (event_getDateCols, events.R:22-53; used for
    NOD/SOC/FORM9/CERTIFICATION/DOCKET and six more types,
    events.R:934-946,960-971). ``o_orderstatus <> 'P'`` mirrors the
    ``BFAC = '1'`` original-action gate.

    The synthetic orders table has one date column, so the extra
    milestone dates are derived deterministically (as hearing_events
    does for dispositions): DOCKET always at +7d, SOC at +30d for
    orders over 50k, CERTIFICATION at +60d for finished orders — the
    NULL branches exercise getDateCols' is-not-null drop."""
    return """
        SELECT * FROM (
          SELECT o_custkey AS entity_id, o_totalprice AS amount,
                 o_orderdate + INTERVAL 7 DAYS AS DOCKET,
                 CASE WHEN o_totalprice > 50000
                      THEN o_orderdate + INTERVAL 30 DAYS END AS SOC,
                 CASE WHEN o_orderstatus = 'F'
                      THEN o_orderdate + INTERVAL 60 DAYS END AS CERTIFICATION
          FROM {orders} WHERE o_orderstatus <> 'P'
        ) UNPIVOT INCLUDE NULLS
          (ts FOR event_type IN (DOCKET, SOC, CERTIFICATION))"""


# (entity_id, ts) of each user's first raw event. Shared by the
# creation and substitution extractors so the two branches of the
# events_all union canonicalize to the SAME aggregate subtree and
# Spark's ReuseExchange runs the shuffle once. Undated rows are
# excluded up front (same contract as the window extractors).
_FIRST_EVENT_MINS = """
          SELECT user_id AS entity_id, MIN(ts) AS ts
          FROM {events} WHERE ts IS NOT NULL GROUP BY user_id"""


@_sql_extractor
def creation_events() -> str:
    """Min-child-timestamp shape (event_vacolsCreation, events.R:
    310-316: ``min(LOCDOUT) per LOCKEY`` subquery joined to the
    parent): a user's first raw event becomes 'account_created'.
    Map-side-combinable min, no join needed for the unfiltered form."""
    return f"""
        SELECT entity_id, 'account_created' AS event_type, ts,
               CAST(NULL AS DOUBLE) AS amount
        FROM ({_FIRST_EVENT_MINS})"""


@_sql_extractor
def substitution_events() -> str:
    """The same child-min aggregate gated on a parent flag
    (event_substitution, events.R:331-340: ``BFSUB = 'S'``): users
    whose customer row sits in the BUILDING segment. The flag filter
    is a broadcast semi-join against the filtered parent — pushdown
    keeps the parent scan two columns wide."""
    return f"""
        SELECT /*+ broadcast(c) */ m.entity_id,
               'segment_substitution' AS event_type, m.ts,
               CAST(NULL AS DOUBLE) AS amount
        FROM ({_FIRST_EVENT_MINS}) m
        LEFT SEMI JOIN (SELECT c_custkey AS entity_id FROM {{customer}}
                        WHERE c_mktsegment = 'BUILDING') c
          ON m.entity_id = c.entity_id"""


@_sql_extractor
def ssoc_events() -> str:
    """Gather + uniform relabel + per-(entity, date) dedup
    (event_ssoc, events.R:397-409: five SSOC date columns gathered,
    EVENT_TYPE overwritten to one label, uniqued by BFCORLID+DATE).
    Follow-up statement dates are derived at +90d/+120d tiers; the
    dedup is a single shuffle on (entity_id, ts)."""
    return """
        SELECT entity_id, 'SSOC' AS event_type, ts, CAST(NULL AS DOUBLE) AS amount
        FROM (
          SELECT DISTINCT entity_id, ts FROM (
            SELECT o_custkey AS entity_id,
                   CASE WHEN o_totalprice > 100000
                        THEN o_orderdate + INTERVAL 90 DAYS END AS ssoc1,
                   CASE WHEN o_totalprice > 150000
                        THEN o_orderdate + INTERVAL 120 DAYS END AS ssoc2
            FROM {orders}
          ) UNPIVOT INCLUDE NULLS (ts FOR _src IN (ssoc1, ssoc2)))"""


@_sql_extractor
def assignment_events() -> str:
    """Join-attributed date gather — the reference's DECASS shape
    (events.R:963-971: ``event_getDateCols(con, c("DEASSIGN",
    "DERECEIVE"), c("ASSIGNMENT", "DRAFT_DECISION"), join = "DECASS on
    BFKEY = DEFOLDER")``): the date columns live on a CHILD table and
    the entity id on the parent, so the gather rides a join. Synthetic
    analog: line-level dates attributed to the order's customer —
    ASSIGNMENT a week before ship, DRAFT_DECISION two days after for
    large lines (the NULL branch exercises getDateCols' non-null drop).

    At 100 TB this is the fact-fact join of the union — co-partitioned
    sort-merge on the order key (bucket both tables on it and the
    shuffle disappears; see tests/test_bucketing.py)."""
    return """
        SELECT * FROM (
          SELECT o_custkey AS entity_id, l_extendedprice AS amount,
                 l_shipdate - INTERVAL 7 DAYS AS ASSIGNMENT,
                 CASE WHEN l_quantity > 25
                      THEN l_shipdate + INTERVAL 2 DAYS END AS DRAFT_DECISION
          FROM {lineitem}
          JOIN (SELECT o_orderkey, o_custkey FROM {orders})
            ON l_orderkey = o_orderkey
        ) UNPIVOT INCLUDE NULLS
          (ts FOR event_type IN (ASSIGNMENT, DRAFT_DECISION))"""


@_sql_extractor
def review_window_events() -> str:
    """Location-run parser emitting paired TO/FROM events — the
    reference's .parseVSOLocs / .parseQRLocs / .parseOMOLocs shape
    (events.R:127-161, 244-268): segment each entity's history into
    runs of consecutive same-typed rows; a run of the tracked type
    yields TO_X at its first row and FROM_X at its last. Synthetic
    analog: runs of 'view' rows in the clickstream become
    to_review/from_review (a length-1 run emits both at the same ts,
    exactly like a same-day checkout/checkin).

    lag/lead over one (user, ts) window find run boundaries without a
    per-run aggregation — one shuffle, no second pass. Null-ts rows
    are dropped BEFORE the window (event-log contract: undated rows
    neither emit events nor split runs)."""
    runs = """
          SELECT user_id, ts, event_type,
                 LAG(event_type) OVER w AS _prev_t,
                 LEAD(event_type) OVER w AS _next_t
          FROM {events} WHERE ts IS NOT NULL
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""
    return f"""
        SELECT user_id AS entity_id, 'to_review' AS event_type, ts,
               CAST(NULL AS DOUBLE) AS amount
        FROM ({runs})
        WHERE event_type = 'view' AND (_prev_t IS NULL OR _prev_t <> 'view')
        UNION ALL
        SELECT user_id, 'from_review', ts, CAST(NULL AS DOUBLE)
        FROM ({runs})
        WHERE event_type = 'view' AND (_next_t IS NULL OR _next_t <> 'view')"""


EXTRACTORS = (
    order_events,
    shipment_events,
    user_events,
    return_events,
    end_state_events,
    session_start_events,
    hearing_events,
    transcription_events,
    milestone_events,
    creation_events,
    substitution_events,
    ssoc_events,
    assignment_events,
    review_window_events,
)


# ---------------------------------------------------------------------------
# Fused per-table extraction. unionByName of the granular extractors
# re-scans each source once per branch (15 scans for the 14-extractor
# log); the narrow per-row extractors that share a table are instead
# computed from ONE scan as an array of conditional event structs,
# exploded and null-filtered — the same multiset from 6 scans. At 100 TB
# the duplicate fact-table scans are the dominant cost of the union,
# so events_all() uses this path when no caller predicate needs
# per-branch pushdown. Parity with the granular union is pinned in
# tests (and the shared EVENTS_ALL_SQL oracle checks both).
# ---------------------------------------------------------------------------


def _ev(entity: Column, event_type: Column, ts: Column, amount: Column) -> Column:
    """One event-candidate struct with the canonical field types, so
    every element of the conditional array agrees on shape. The entity
    rides in the struct because fused branches of one scan can
    attribute events to different entities (supplier for shipments,
    customer for assignments)."""
    return F.struct(
        entity.cast("long").alias("entity_id"),
        event_type.cast("string").alias("event_type"),
        ts.cast("timestamp_ntz").alias("ts"),
        amount.cast("double").alias("amount"),
    )


def _explode_events(base: DataFrame) -> DataFrame:
    """(_evs) -> conformed long events. Null slots (branch gate false)
    and null-ts events drop AFTER the generate — explode emits null
    elements as rows, and both predicates stay inside whole-stage
    codegen."""
    return (
        base.select(F.explode("_evs").alias("_e"))
        .where(F.col("_e").isNotNull() & F.col("_e.ts").isNotNull())
        .select("_e.entity_id", "_e.event_type", "_e.ts", "_e.amount")
    )


def _orders_narrow_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order_events + end_state_events + milestone_events from one
    orders scan. The end-state classifier stays a broadcast literal dim
    (J14's merge-as-data design) — joined left so unmatched statuses
    just contribute a null slot."""
    # sized_for_compute: the 5-slot conditional explode is per-row
    # compute that must not be serialized onto one task when the export
    # arrives as a single split; no-op on a properly-split layout.
    o = sized_for_compute(load_table(spark, sf_dir, "orders"))
    classifier = literal_dim(
        spark, END_STATE_CLASSIFIER, "o_orderstatus string, event_type string"
    )
    oc = o.join(F.broadcast(classifier), "o_orderstatus", "left")
    ent = F.col("o_custkey")
    od, tp, st = F.col("o_orderdate"), F.col("o_totalprice"), F.col("o_orderstatus")
    not_p = st != "P"
    evs = F.array(
        _ev(ent, F.lit("order_placed"), od, tp),
        F.when(
            F.col("event_type").isNotNull(), _ev(ent, F.col("event_type"), od, tp)
        ),
        F.when(
            not_p, _ev(ent, F.lit("DOCKET"), od + F.expr("interval 7 days"), tp)
        ),
        F.when(
            not_p,
            _ev(
                ent,
                F.lit("SOC"),
                F.when(tp > 50000, od + F.expr("interval 30 days")),
                tp,
            ),
        ),
        F.when(
            not_p,
            _ev(
                ent,
                F.lit("CERTIFICATION"),
                F.when(st == "F", od + F.expr("interval 60 days")),
                tp,
            ),
        ),
    )
    return _explode_events(oc.select(evs.alias("_evs")))


def _lineitem_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shipment_events + return_events + assignment_events from one
    lineitem scan. The assignment gather needs the order's customer, so
    the scan rides a LEFT join to orders (left, not inner, so the
    supplier-attributed branches keep every line even if a dangling
    order key ever appeared); the customer-attributed structs gate on
    the join matching. Bucket both tables on the order key and this
    join shuffles nothing."""
    # sized_for_compute: the probe side carries the 4-slot explode and
    # the interval arithmetic; a single-split export would run all of
    # it on one task (measured 3x the branch cost at sf0.1). No-op when
    # the lake layout already gives the scan enough splits.
    li = sized_for_compute(load_table(spark, sf_dir, "lineitem"))
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"], "left")
    supp, cust = F.col("l_suppkey"), F.col("o_custkey")
    sd, ep = F.col("l_shipdate"), F.col("l_extendedprice")
    evs = F.array(
        _ev(supp, F.lit("line_shipped"), sd, ep),
        F.when(
            F.col("l_returnflag") == "R",
            _ev(supp, F.lit("line_returned"), sd, ep),
        ),
        F.when(
            cust.isNotNull(),
            _ev(cust, F.lit("ASSIGNMENT"), sd - F.expr("interval 7 days"), ep),
        ),
        F.when(
            cust.isNotNull(),
            _ev(
                cust,
                F.lit("DRAFT_DECISION"),
                F.when(
                    F.col("l_quantity") > 25, sd + F.expr("interval 2 days")
                ),
                ep,
            ),
        ),
    )
    return _explode_events(j.select(evs.alias("_evs")))


def _clickstream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL seven clickstream extractors (user, hearing, transcription,
    session_start, creation, substitution, review run-parser) from ONE
    events scan and ONE shuffle.

    The per-row shapes (raw projection, NA-propagating relabel+patch,
    from/to fan-out) are conditional struct slots. The window shapes
    ride the same lag: `prev IS NULL | gap > 30min` marks a session
    start, and because the window orders by (ts, event_id), the
    first-row-per-user condition `prev IS NULL` lands exactly on
    min(ts) — so the creation/substitution aggregates become two more
    conditional slots on the first row instead of two scans + two
    groupBy shuffles. The substitution gate (customer BUILDING
    segment) joins broadcast before the window.

    The ts-not-null pre-filter is exactly _union_sql's postcondition
    hoisted to the scan (every granular branch drops null-ts rows),
    and it keeps the nulls-first window ordering from electing a
    null-ts row as a user's first event."""
    from pyspark.sql.window import Window

    from ..functions.scalars import r_ifelse

    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    bld = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("user_id"), F.lit(True).alias("_bld"))
    )
    e = e.join(F.broadcast(bld), "user_id", "left")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = (
        e.withColumn("_prev", F.lag("ts").over(w))
        .withColumn("_prev_t", F.lag("event_type").over(w))
        .withColumn("_next_t", F.lead("event_type").over(w))
    )

    ts, v = F.col("ts"), F.col("value")
    is_signup = F.col("event_type") == "signup"
    is_error = F.col("event_type") == "error"
    is_view = F.col("event_type") == "view"
    is_first = F.col("_prev").isNull()
    new_sess = is_first | (
        ts >= F.col("_prev") + F.expr("interval 30 minutes")
    )
    run_start = is_view & (F.col("_prev_t").isNull() | (F.col("_prev_t") != "view"))
    run_end = is_view & (F.col("_next_t").isNull() | (F.col("_next_t") != "view"))
    disp = F.when(v > 30, "H").when(v > 20, "X")
    clsdate = F.when(v > 10, ts + F.expr("interval 3 days"))
    label = r_ifelse(disp == "H", F.lit("HEARING"), F.lit("HEARING_EXCEPTION"))
    patched = F.when(
        (label == "HEARING_EXCEPTION") & clsdate.isNotNull(), clsdate
    ).otherwise(ts)
    null_amt = F.lit(None).cast("double")
    ent = F.col("user_id")
    evs = F.array(
        _ev(ent, F.col("event_type"), ts, v),
        F.when(is_signup, _ev(ent, label, patched, v)),
        F.when(is_error, _ev(ent, F.lit("to_transcript"), ts, v)),
        F.when(
            is_error,
            _ev(
                ent,
                F.lit("from_transcript"),
                ts + F.make_interval(mins=F.floor(v).cast("int")),
                v,
            ),
        ),
        F.when(new_sess, _ev(ent, F.lit("session_started"), ts, null_amt)),
        F.when(is_first, _ev(ent, F.lit("account_created"), ts, null_amt)),
        F.when(
            is_first & F.col("_bld").isNotNull(),
            _ev(ent, F.lit("segment_substitution"), ts, null_amt),
        ),
        F.when(run_start, _ev(ent, F.lit("to_review"), ts, null_amt)),
        F.when(run_end, _ev(ent, F.lit("from_review"), ts, null_amt)),
    )
    return _explode_events(base.select(evs.alias("_evs")))


# Same multiset as EXTRACTORS from 6 source scans (orders x2 narrow+
# ssoc, orders-for-assignment x1 inside the lineitem join, lineitem,
# events, customer) and ONE events-table shuffle instead of three.
# Only ssoc keeps its own branch: its (entity_id, ts) dedup shuffles a
# small conditional subset, which fusing would inflate to the full
# orders event set.
FUSED_EXTRACTORS = (
    _orders_narrow_events,
    _lineitem_events,
    _clickstream_events,
    ssoc_events,
)

# DuckDB twin of events_all(): one branch per extractor, same order,
# columns (entity_id, event_type, ts, amount). Interpolated into every
# oracle that consumes the event view (u1_union_event_log,
# comp_backlog_reconstruction) so extractor changes can't silently
# diverge from a hand-copied union.
EVENTS_ALL_SQL = """
      SELECT o_custkey AS entity_id, 'order_placed' AS event_type,
             o_orderdate AS ts, o_totalprice AS amount FROM orders
      UNION ALL
      SELECT l_suppkey, 'line_shipped', l_shipdate, l_extendedprice FROM lineitem
      UNION ALL
      SELECT user_id, event_type, ts, value FROM events
      UNION ALL
      SELECT l_suppkey, 'line_returned', l_shipdate, l_extendedprice
      FROM lineitem WHERE l_returnflag = 'R'
      UNION ALL
      SELECT o_custkey,
             CASE o_orderstatus WHEN 'F' THEN 'order_finished'
                                WHEN 'P' THEN 'order_in_process' END,
             o_orderdate, o_totalprice
      FROM orders WHERE o_orderstatus IN ('F', 'P')
      UNION ALL
      SELECT user_id, 'session_started', ts, CAST(NULL AS DOUBLE)
      FROM (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events WHERE ts IS NOT NULL
      ) WHERE prev_ts IS NULL
           OR ts >= prev_ts + INTERVAL 30 MINUTE
      UNION ALL
      SELECT user_id,
             CASE WHEN disp = 'H' THEN 'HEARING'
                  WHEN disp <> 'H' THEN 'HEARING_EXCEPTION' END,
             CASE WHEN disp IS NOT NULL AND disp <> 'H'
                       AND clsdate IS NOT NULL THEN clsdate ELSE ts END,
             value
      FROM (
        SELECT user_id, ts, value,
               CASE WHEN value > 30 THEN 'H'
                    WHEN value > 20 THEN 'X' END AS disp,
               CASE WHEN value > 10 THEN ts + INTERVAL 3 DAY END AS clsdate
        FROM events WHERE event_type = 'signup'
      )
      UNION ALL
      SELECT user_id, 'to_transcript', ts, value
      FROM events WHERE event_type = 'error'
      UNION ALL
      SELECT user_id, 'from_transcript',
             ts + to_minutes(CAST(FLOOR(value) AS BIGINT)), value
      FROM events WHERE event_type = 'error'
      UNION ALL
      SELECT o_custkey, lab, d, o_totalprice
      FROM (
        SELECT o_custkey, o_totalprice, lab,
               CASE lab
                 WHEN 'DOCKET' THEN o_orderdate + INTERVAL 7 DAY
                 WHEN 'SOC' THEN CASE WHEN o_totalprice > 50000
                      THEN o_orderdate + INTERVAL 30 DAY END
                 ELSE CASE WHEN o_orderstatus = 'F'
                      THEN o_orderdate + INTERVAL 60 DAY END
               END AS d
        FROM orders
        CROSS JOIN (SELECT UNNEST(['DOCKET', 'SOC', 'CERTIFICATION']) AS lab)
        WHERE o_orderstatus <> 'P'
      )
      UNION ALL
      SELECT user_id, 'account_created', MIN(ts), CAST(NULL AS DOUBLE)
      FROM events WHERE ts IS NOT NULL GROUP BY user_id
      UNION ALL
      SELECT user_id, 'segment_substitution', MIN(ts), CAST(NULL AS DOUBLE)
      FROM events
      WHERE ts IS NOT NULL AND user_id IN (SELECT c_custkey FROM customer
                        WHERE c_mktsegment = 'BUILDING')
      GROUP BY user_id
      UNION ALL
      SELECT DISTINCT o_custkey, 'SSOC', d, CAST(NULL AS DOUBLE)
      FROM (
        SELECT o_custkey, CASE WHEN o_totalprice > 100000
               THEN o_orderdate + INTERVAL 90 DAY END AS d FROM orders
        UNION ALL
        SELECT o_custkey, CASE WHEN o_totalprice > 150000
               THEN o_orderdate + INTERVAL 120 DAY END FROM orders
      ) WHERE d IS NOT NULL
      UNION ALL
      SELECT o_custkey, lab, d, l_extendedprice
      FROM (
        SELECT o_custkey, l_extendedprice, lab,
               CASE lab
                 WHEN 'ASSIGNMENT' THEN l_shipdate - INTERVAL 7 DAY
                 ELSE CASE WHEN l_quantity > 25
                      THEN l_shipdate + INTERVAL 2 DAY END
               END AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        CROSS JOIN (SELECT UNNEST(['ASSIGNMENT', 'DRAFT_DECISION']) AS lab)
      ) WHERE d IS NOT NULL
      UNION ALL
      SELECT user_id, 'to_review', ts, CAST(NULL AS DOUBLE)
      FROM (
        SELECT user_id, ts, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_t
        FROM events WHERE ts IS NOT NULL
      ) WHERE event_type = 'view' AND (prev_t IS NULL OR prev_t <> 'view')
      UNION ALL
      SELECT user_id, 'from_review', ts, CAST(NULL AS DOUBLE)
      FROM (
        SELECT user_id, ts, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_t
        FROM events WHERE ts IS NOT NULL
      ) WHERE event_type = 'view' AND (next_t IS NULL OR next_t <> 'view')
"""

# Global case exclusions (constants.R:1-7: the reference prepends a
# WHERE clause dropping two dummy-data BFKEYs and merged cases to EVERY
# event log). The synthetic analog drops two designated dummy entities;
# the merged-case predicate rides the same hook. Applied by events_all
# and interpolated into EVENTS_ALL_SQL, so every consumer — Spark and
# oracle — stays in lockstep.
EXCLUDED_ENTITIES = (13, 77)

_EXCL = ", ".join(str(e) for e in EXCLUDED_ENTITIES)
# ts IS NOT NULL is part of events_all's contract (_union_sql drops
# null-ts rows in every extractor), so the shared SQL twin must apply
# it too — otherwise a consumer that forgets its own ts filter
# silently diverges for branches whose gathered date can be NULL.
EVENTS_ALL_SQL = f"""
      SELECT * FROM ({EVENTS_ALL_SQL})
      WHERE entity_id NOT IN ({_EXCL}) AND ts IS NOT NULL
"""


def events_all(spark: SparkSession, sf_dir: str, where: str | None = None) -> DataFrame:
    """Union of all extractors — one Catalyst plan, one pass.

    ``where`` mirrors the reference's ``event_all(con, join, where)``
    composability hook (events.R:923-991): an optional SQL predicate
    over the unified log. Catalyst pushes it into every union branch,
    so a selective predicate prunes each source scan. The global
    dummy-entity exclusions (constants.R:1-7) are always applied.

    Physical strategy: with a caller ``where`` the granular
    per-extractor union is used, as one SQL statement — Catalyst
    pushes the predicate into every branch, so a selective filter
    prunes each scan (u5's documented behavior). Without one, the
    full log is being materialized anyway, and the fused per-table
    form (6 scans, not 15) wins; an event_type/ts predicate cannot be
    pushed below a generate, but an entity_id one still reaches the
    fused scans (entity_id passes through the explode untouched).
    Every branch of either form has the canonical schema, so they
    union by position.
    """
    excl = f"entity_id NOT IN ({_EXCL})"
    if where is None:
        return reduce(
            DataFrame.union, (ex(spark, sf_dir) for ex in FUSED_EXTRACTORS)
        ).where(excl)
    return _union_sql(
        spark, sf_dir, [ex.sql for ex in EXTRACTORS], f"{excl} AND ({where})"
    )

"""The derived event log, the reference's core abstraction.

`R/events.R` turns wide tables into a long (entity, event_type, ts)
stream with per-source extractors unioned at the end (events.R:923-991,
SURVEY §1.4, R1, U1). Here every extractor is one SQL text, and
:func:`union_sql` conforms and unions any set of them in ONE
``spark.sql``, so Catalyst sees one plan covering extraction and union.

Canonical schema: (entity_id long, event_type string, ts timestamp_ntz,
amount double nullable); over a stream ``ts`` stays the zoned
timestamp its watermark needs. Unpivot-style extractors use SQL
``UNPIVOT``, the direct analog of tidyr `gather`.

The same SQL builds two plan shapes of the full log (see events_all):
the granular union of the 14 per-extractor texts, and a fused union
of one text per source table that emits all of that table's narrow
events from a single scan.
"""

from __future__ import annotations

from functools import partial, wraps
from string import Formatter
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table, sized_for_compute
from ..functions.scalars import SQL_R_IFELSE


def union_sql(
    spark: SparkSession,
    branches: list[str],
    frame: Callable[[str], DataFrame],
    where: str = "TRUE",
) -> DataFrame:
    """Conformed union of extractor SELECTs, issued as ONE ``spark.sql``.

    Each branch is a SELECT whose output names are the canonical
    columns (any order); ``frame(name)`` is the DataFrame bound to each
    ``{name}`` it reads (a catalog table, or a live stream). The
    canonical casts and the non-null ts filter wrap every branch, so
    all branches agree on schema and union by position. ``ts`` keeps
    its sources' type: catalog.load_table reads every timestamp column
    as TIMESTAMP_NTZ, and a stream's ts is a zoned TIMESTAMP, which its
    watermark needs. ``spark.sql`` binds the frames as temporary
    views and drops them again before it returns; one statement is
    analysed once, where a DataFrame union pays an analysis per branch
    and per union step."""
    names = {name for b in branches for _, name, _, _ in Formatter().parse(b) if name}
    frames = {name: frame(name) for name in names}
    union = "\nUNION ALL\n".join(
        "SELECT CAST(entity_id AS BIGINT) AS entity_id,"
        " CAST(event_type AS STRING) AS event_type,"
        " ts, CAST(amount AS DOUBLE) AS amount"
        f" FROM ({b}) WHERE ts IS NOT NULL"
        for b in branches
    )
    return spark.sql(f"SELECT * FROM ({union}) WHERE {where}", **frames)


def _catalog(spark: SparkSession, sf_dir: str) -> Callable[[str], DataFrame]:
    """Binds ``{table}`` to the catalog read of ``table`` and
    ``{sized_table}`` to that read split for per-row compute
    (catalog.sized_for_compute): a fused branch evaluates several event
    slots per row, which must not run on one task when the export
    arrives as a single split."""

    def frame(name: str) -> DataFrame:
        table = name.removeprefix("sized_")
        df = load_table(spark, sf_dir, table)
        return df if table == name else sized_for_compute(df)

    return frame


def _sql_extractor(select: Callable[[], str]):
    """Extractor ``(spark, sf_dir) -> DataFrame`` from a function that
    returns its SELECT text; the text stays on ``.sql`` so events_all
    and the event stream can union many branches in one statement."""
    sql = select()

    @wraps(select)
    def extractor(spark: SparkSession, sf_dir: str) -> DataFrame:
        return union_sql(spark, [sql], _catalog(spark, sf_dir))

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


# End-state classifier: code -> event label; a code it does not list
# emits no event (the reference's EventEndStateClassifier merge,
# R/events.R:863-865 + constants.R:15-18 — J14). The one definition of
# the end states, read by the granular and the fused orders branch as
# a generated CASE, so adding end states is data, not code.
END_STATE_CLASSIFIER = (("F", "order_finished"), ("P", "order_in_process"))

_END_STATE_CASE = (
    "CASE o_orderstatus "
    + " ".join(f"WHEN '{c}' THEN '{t}'" for c, t in END_STATE_CLASSIFIER)
    + " END"
)


@_sql_extractor
def end_state_events() -> str:
    return f"""
        SELECT o_custkey AS entity_id, {_END_STATE_CASE} AS event_type,
               o_orderdate AS ts, o_totalprice AS amount
        FROM {{orders}} WHERE {_END_STATE_CASE} IS NOT NULL"""


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


# The hearing relabel+patch over a signup row's (ts, value), shared by
# hearing_events and the fused clickstream branch (events.R:540-549).
# The disposition is derived deterministically, because the synthetic
# tables have no nullable disposition column: H/X/NULL banded on
# value, close date ts+3d for value>10.
_HEARING_DISP = "CASE WHEN value > 30 THEN 'H' WHEN value > 20 THEN 'X' END"
_HEARING_CLSDATE = "CASE WHEN value > 10 THEN ts + INTERVAL 3 DAYS END"
_HEARING_LABEL = SQL_R_IFELSE.format(
    cond=f"({_HEARING_DISP}) = 'H'", yes="'HEARING'", no="'HEARING_EXCEPTION'"
)
_HEARING_TS = (
    f"CASE WHEN ({_HEARING_LABEL}) = 'HEARING_EXCEPTION'"
    f" AND ({_HEARING_CLSDATE}) IS NOT NULL THEN {_HEARING_CLSDATE} ELSE ts END"
)

# Check-in date of a transcription-loc row: ts + floor(value) minutes.
_FROM_TRANSCRIPT_TS = "ts + make_interval(0, 0, 0, 0, 0, CAST(FLOOR(value) AS INT), 0)"


@_sql_extractor
def hearing_events() -> str:
    """Relabel+patch extractor (events.R:540-549):
    ``EVENT_TYPE = ifelse(HEARING_DISP == "H", "HEARING",
    "HEARING_EXCEPTION")`` with R's NA-PROPAGATING ifelse — a NULL
    disposition yields a NULL label, never the else branch (the
    when/otherwise trap; see functions.scalars.SQL_R_IFELSE) — then the
    CLSDATE patch: exceptions with a non-null close date take it as
    their event date. NULL-labelled rows are NOT patched (R's
    ``EVENT_TYPE == "HEARING_EXCEPTION"`` is NA for them; dplyr-style
    NA-as-false — the literal base-R subscript-assignment would error
    on NA subscripts, so the reference implicitly never sees NULL
    dispositions with close dates; we pin the defined behavior).
    'signup' rows of the clickstream act as hearing records.
    """
    return f"""
        SELECT user_id AS entity_id, {_HEARING_LABEL} AS event_type,
               {_HEARING_TS} AS ts, value AS amount
        FROM {{events}} WHERE event_type = 'signup'"""


@_sql_extractor
def transcription_events() -> str:
    """Paired from/to location extractor (events.R:116-126 abeyance
    gather; also .parseAbeyanceLocs:164-180): one location-log row
    emits TWO events — TO_X at the check-out date and FROM_X at the
    check-in date — via ``UNPIVOT`` (tidyr ``gather``). 'error' rows
    stand in for transcription-loc rows.
    """
    return f"""
        SELECT * FROM (
          SELECT user_id AS entity_id, value AS amount, ts AS to_transcript,
                 {_FROM_TRANSCRIPT_TS} AS from_transcript
          FROM {{events}} WHERE event_type = 'error'
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
# Fused per-table extraction. The granular union scans each source once
# per branch (15 scans for the 14 extractors). A fused branch reads its
# table ONCE and emits an array of conditional event slots, one per
# granular extractor it replaces: ``inline`` turns the array into rows,
# and union_sql's non-null ts filter drops the slots whose gate was
# false (a NULL slot inlines as an all-NULL row). Same multiset from 6
# scans. Parity with the granular union is pinned in tests, and the
# shared EVENTS_ALL_SQL oracle checks both.
# ---------------------------------------------------------------------------


def _slot(entity: str, amount: str, event_type: str, ts: str, gate: str = "") -> str:
    """One event slot of a fused branch: a struct with the canonical
    field names, NULL where ``gate`` is not true. The entity rides in
    the struct because slots of one scan can attribute events to
    different entities (supplier for shipments, customer for
    assignments)."""
    ev = (
        f"named_struct('entity_id', {entity}, 'event_type', {event_type},"
        f" 'ts', {ts}, 'amount', {amount})"
    )
    return f"IF({gate}, {ev}, NULL)" if gate else ev


def _fused(source: str, *slots: str) -> str:
    """A fused branch: every slot of each ``source`` row, inlined."""
    return f"SELECT inline(array({', '.join(slots)})) FROM {source}"


@_sql_extractor
def fused_order_events() -> str:
    """order_events + end_state_events + milestone_events from one
    orders scan; an unmatched status leaves its end-state slot NULL."""
    order = partial(_slot, "o_custkey", "o_totalprice")
    od, not_p = "o_orderdate", "o_orderstatus <> 'P'"
    return _fused(
        "{sized_orders}",
        order("'order_placed'", od),
        order(_END_STATE_CASE, od, f"{_END_STATE_CASE} IS NOT NULL"),
        order("'DOCKET'", f"{od} + INTERVAL 7 DAYS", not_p),
        order(
            "'SOC'", f"CASE WHEN o_totalprice > 50000 THEN {od} + INTERVAL 30 DAYS END",
            not_p,
        ),
        order(
            "'CERTIFICATION'",
            f"CASE WHEN o_orderstatus = 'F' THEN {od} + INTERVAL 60 DAYS END", not_p,
        ),
    )


@_sql_extractor
def fused_lineitem_events() -> str:
    """shipment_events + return_events + assignment_events from one
    lineitem scan. The assignment gather needs the order's customer, so
    the scan rides a LEFT join to orders (left, not inner, so the
    supplier-attributed slots keep every line even if a dangling order
    key ever appeared); the customer-attributed slots gate on the join
    matching. Bucket both tables on the order key and this join
    shuffles nothing."""
    supplier = partial(_slot, "l_suppkey", "l_extendedprice")
    customer = partial(_slot, "o_custkey", "l_extendedprice")
    matched = "o_custkey IS NOT NULL"
    return _fused(
        "{sized_lineitem} LEFT JOIN (SELECT o_orderkey, o_custkey FROM {orders})"
        " ON l_orderkey = o_orderkey",
        supplier("'line_shipped'", "l_shipdate"),
        supplier("'line_returned'", "l_shipdate", "l_returnflag = 'R'"),
        customer("'ASSIGNMENT'", "l_shipdate - INTERVAL 7 DAYS", matched),
        customer(
            "'DRAFT_DECISION'",
            "CASE WHEN l_quantity > 25 THEN l_shipdate + INTERVAL 2 DAYS END", matched,
        ),
    )


@_sql_extractor
def fused_clickstream_events() -> str:
    """ALL seven clickstream extractors (user, hearing, transcription,
    session_start, creation, substitution, review run-parser) from ONE
    events scan and ONE shuffle.

    The per-row shapes (raw projection, NA-propagating relabel+patch,
    from/to fan-out) are gated slots. The window shapes ride the same
    lag: ``_prev IS NULL OR gap >= 30min`` marks a session start, and
    because the window orders by (ts, event_id), the first-row-per-user
    condition ``_prev IS NULL`` lands exactly on min(ts), so the
    creation and substitution aggregates become two more slots on the
    first row instead of two scans and two groupBy shuffles. The
    substitution gate (customer BUILDING segment) joins broadcast
    before the window.

    The ts-not-null pre-filter is union_sql's postcondition hoisted to
    the scan (every granular branch drops null-ts rows), and it keeps
    the nulls-first window ordering from electing a null-ts row as a
    user's first event."""
    valued = partial(_slot, "user_id", "value")
    marker = partial(_slot, "user_id", "CAST(NULL AS DOUBLE)")
    first, view = "_prev IS NULL", "event_type = 'view'"
    return _fused(
        """(
          SELECT /*+ broadcast(b) */ user_id, event_type, ts, value, _bld,
                 LAG(ts) OVER w AS _prev,
                 LAG(event_type) OVER w AS _prev_t,
                 LEAD(event_type) OVER w AS _next_t
          FROM {events}
          LEFT JOIN (SELECT c_custkey AS user_id, TRUE AS _bld FROM {customer}
                     WHERE c_mktsegment = 'BUILDING') b USING (user_id)
          WHERE ts IS NOT NULL
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""",
        valued("event_type", "ts"),
        valued(_HEARING_LABEL, _HEARING_TS, "event_type = 'signup'"),
        valued("'to_transcript'", "ts", "event_type = 'error'"),
        valued("'from_transcript'", _FROM_TRANSCRIPT_TS, "event_type = 'error'"),
        marker("'session_started'", "ts", f"{first} OR ts >= _prev + INTERVAL 30 MINUTES"),
        marker("'account_created'", "ts", first),
        marker("'segment_substitution'", "ts", f"{first} AND _bld"),
        marker("'to_review'", "ts", f"{view} AND (_prev_t IS NULL OR _prev_t <> 'view')"),
        marker("'from_review'", "ts", f"{view} AND (_next_t IS NULL OR _next_t <> 'view')"),
    )


# Same multiset as EXTRACTORS from 6 source scans (orders x2 narrow+
# ssoc, orders-for-assignment x1 inside the lineitem join, lineitem,
# events, customer) and ONE events-table shuffle instead of three.
# Only ssoc keeps its own branch: its (entity_id, ts) dedup shuffles a
# small conditional subset, which fusing would inflate to the full
# orders event set.
FUSED_EXTRACTORS = (
    fused_order_events,
    fused_lineitem_events,
    fused_clickstream_events,
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
    """Union of all extractors: one SQL statement, one Catalyst plan.

    ``where`` mirrors the reference's ``event_all(con, join, where)``
    composability hook (events.R:923-991): an optional SQL predicate
    over the unified log. The global dummy-entity exclusions
    (constants.R:1-7) are always applied.

    Plan shape: with a caller ``where`` the granular union is used,
    because Catalyst pushes the predicate into every branch and a
    selective filter prunes each source scan; an event_type or ts
    predicate cannot reach below a fused branch's ``inline``, so there
    the fused form scans and explodes every row first (u5 at sf0.1:
    0.46 s granular, 0.97 s fused). Without one the whole log is
    materialized anyway, and the fused form's 6 scans beat the
    granular 15 (a 10x probe of sf0.1, 4 cores: 5.9 s against 6.2 s).
    Both shapes union the same canonical branches in one statement.
    """
    extractors, pred = FUSED_EXTRACTORS, f"entity_id NOT IN ({_EXCL})"
    if where is not None:
        extractors, pred = EXTRACTORS, f"{pred} AND ({where})"
    return union_sql(
        spark, [ex.sql for ex in extractors], _catalog(spark, sf_dir), pred
    )

"""Structured Streaming mode (SURVEY.md §2.10).

The reference is pure batch; its event log (R/events.R:923-991) is an
append-only stream in all but name, and its manual late-data hygiene
(dropping incomplete trailing months, impact.R:65-66) is a hand-rolled
watermark. This package re-expresses that model natively: a file-based
``readStream`` over the events table, watermarked tumbling/session
window aggregations, and an ``applyInPandasWithState`` example for
stateful logic the built-ins can't express.

Every streaming computation here has a batch twin registered in
``queries/streaming_q.py`` with a DuckDB oracle; pytest
(tests/test_streaming.py) proves stream-vs-batch parity on the same
files. The stream defines no operator of its own where a batch one
fits: the extracted event stream is the batch extractors' SQL with the
stream bound as ``{events}`` (views.events.union_sql), and the
centroid scorer folds with the batch assigners'
``similarity.nearest_centroid_best``.
"""

from .doc_stream import curate_docs, document_stream  # noqa: F401
from .vec_stream import (  # noqa: F401
    centroid_occupancy,
    embedding_stream,
    scored_stream,
)
from .event_stream import (  # noqa: F401
    deduped_stream,
    event_stream,
    purchase_attribution,
    running_user_totals_stateful,
    session_window_stats,
    tumbling_counts,
)

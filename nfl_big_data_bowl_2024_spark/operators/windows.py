"""Ordered-sequence operators (SURVEY §2.5 W1-W2).

These are the heart of the reference: everything it does per play is "find an
event-bounded frame window, find the first threshold crossing inside it,
aggregate over the bounded slice". The reference implements them with
positional numpy index arithmetic inside a per-play Python loop
(reference optimal_pursuit.py:112-121,222-236); here each is a window
expression over an unbounded group window, so every group is processed in
one pass with no Python in the hot path.

Both are WINDOW EXPRESSIONS attached to every row of the group rather than
aggregates joined back: the aggregate+join-back composition evaluates the
source subtree once PER CONSUMER (Catalyst does not CSE DataFrame subtrees),
while stacked window expressions over one partitioning keep it to a single
scan and a single exchange. The bounded max (A1) is then a filter on
[start, crossing) plus a groupBy, or a conditional aggregate, in the caller.

Both are generic over the group window and ``order_col``, so they serve the
NFL tracking table (group=(gameId,playId[,nflId]), order=frameId) and any
ordered log like the testdata ``events`` table (group=user_id, order=ts).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec


def event_window_exprs(
    w: WindowSpec,
    order_col: str,
    event_col: Column | str,
    start_events: Sequence[str],
    stop_events: Sequence[str],
    fallback_start_event: str | None = None,
) -> tuple[Column, Column]:
    """W1 — (start_ord, stop_ord) of the group, on every row (reference
    identify_events, optimal_pursuit.py:112-121).

    start = first ``order_col`` whose event is in ``start_events``, else first
    ``fallback_start_event``; stop = first ``order_col`` whose event is in
    ``stop_events``. A group with no such event gets NULL (the reference
    raises there; callers turn NULL into an error-status row). ``event_col``
    may be a Column, e.g. the event masked to NULL on rows that must not
    set the window.
    """
    event = F.col(event_col) if isinstance(event_col, str) else event_col
    start_primary = F.min(
        F.when(event.isin(list(start_events)), F.col(order_col))
    ).over(w)
    stop_ord = F.min(
        F.when(event.isin(list(stop_events)), F.col(order_col))
    ).over(w)
    if fallback_start_event is not None:
        start_fallback = F.min(
            F.when(event == fallback_start_event, F.col(order_col))
        ).over(w)
        return F.coalesce(start_primary, start_fallback), stop_ord
    return start_primary, stop_ord


def first_crossing_expr(
    w: WindowSpec,
    order_col: str,
    condition: Column,
    after: Column,
    strict: bool = True,
) -> Column:
    """W2 — first ``order_col`` of the group where ``condition`` holds and
    the order value is after ``after``, on every row (reference
    optimal_pursuit.py:222-226: first frame with delta_dist < R_t strictly
    after the start frame). NULL = never crosses, the reference's NaN
    branch."""
    cmp = F.col(order_col) > after if strict else F.col(order_col) >= after
    return F.min(F.when(condition & cmp, F.col(order_col))).over(w)

"""Unit tests for the ordered-sequence operators (SURVEY §2.5 W1-W2/A1)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nfl_big_data_bowl_2024_spark.operators.windows import (
    event_window_exprs,
    first_crossing_expr,
)

ROWS = [
    # (grp, ord, event, val)
    ("a", 1, None, 1.0),
    ("a", 2, "ball_snap", 2.0),
    ("a", 3, "handoff", 3.0),
    ("a", 4, None, 9.0),
    ("a", 5, "tackle", 4.0),
    ("a", 6, None, 5.0),
    ("b", 1, "ball_snap", 1.0),
    ("b", 2, None, 7.0),
    ("b", 3, "tackle", 2.0),
    ("c", 1, None, 1.0),  # no events at all
]


def _df(spark):
    return spark.createDataFrame(ROWS, "grp string, ord int, event string, val double")


def _window(df, event_col="event", **kw):
    start, stop = event_window_exprs(
        Window.partitionBy("grp"), "ord", event_col,
        start_events=["handoff"], stop_events=["tackle"], **kw,
    )
    rows = df.select("grp", start.alias("start_ord"), stop.alias("stop_ord")).collect()
    got = {}
    for r in rows:  # every row of a group carries the group's window
        assert got.setdefault(r["grp"], (r["start_ord"], r["stop_ord"])) == (
            r["start_ord"], r["stop_ord"]
        )
    return got


def test_event_window_with_fallback(spark):
    got = _window(_df(spark), fallback_start_event="ball_snap")
    assert got == {"a": (3, 5), "b": (1, 3), "c": (None, None)}


def test_event_window_no_fallback(spark):
    got = _window(_df(spark))
    assert got["b"][0] is None  # b only has the fallback event


def test_event_window_masked_event_sets_no_stop(spark):
    """A Column event masked to NULL off the carrier rows: b's tackle sits on
    a non-carrier row, so it must not set b's stop_ord."""
    df = _df(spark).withColumn("carrier", ~((F.col("grp") == "b") & (F.col("ord") == 3)))
    masked = F.when(F.col("carrier"), F.col("event"))
    got = _window(df, masked, fallback_start_event="ball_snap")
    assert got == {"a": (3, 5), "b": (1, None), "c": (None, None)}


def test_first_crossing_strict_after(spark):
    w = Window.partitionBy("grp")
    rows = _df(spark).select(
        "grp", first_crossing_expr(w, "ord", F.col("val") > 3.0, F.lit(3)).alias("c")
    ).collect()
    got = {r["grp"]: r["c"] for r in rows}
    # grp a: val>3 at ord 4(9.0),5(4.0),6(5.0) -> first after 3 is 4
    # grp b: val>3 at ord 2 only, not > start 3 -> NULL
    assert got == {"a": 4, "b": None, "c": None}

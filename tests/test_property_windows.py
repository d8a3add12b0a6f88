"""Property tests (hypothesis): the W1/W2/A1 window-expression stack agrees
with a pure-Python reference model on arbitrary ordered event logs."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from nfl_big_data_bowl_2024_spark.operators.windows import (
    event_window_exprs,
    first_crossing_expr,
)

EVENTS = [None, "start", "go", "stop", "noise"]

row_st = st.tuples(
    st.integers(min_value=0, max_value=3),          # group
    st.sampled_from(EVENTS),                        # event
    st.floats(min_value=-50, max_value=50, allow_nan=False),  # value
)
rows_st = st.lists(row_st, min_size=1, max_size=60)


def _model(rows):
    """Reference semantics in plain Python: per group ordered by ord,
    start = first 'start' else first 'go'; stop = first 'stop';
    crossing = first ord with value > 10 strictly after start;
    bounded max = max(value) over [start, crossing)."""
    by_group: dict[int, list] = {}
    for i, (g, e, v) in enumerate(rows):
        by_group.setdefault(g, []).append((i, e, v))
    out = {}
    for g, items in by_group.items():
        start = next((i for i, e, _ in items if e == "start"), None)
        if start is None:
            start = next((i for i, e, _ in items if e == "go"), None)
        stop = next((i for i, e, _ in items if e == "stop"), None)
        crossing = None
        if start is not None:
            crossing = next(
                (i for i, _, v in items if v > 10 and i > start), None
            )
        bmax = None
        if start is not None and crossing is not None:
            vals = [v for i, _, v in items if start <= i < crossing]
            bmax = max(vals) if vals else None
        out[g] = (start, stop, crossing, bmax)
    return out


@settings(max_examples=12, deadline=None)
@given(rows_st)
def test_window_stack_matches_python_model(spark, rows):
    df = spark.createDataFrame(
        [(g, i, e, v) for i, (g, e, v) in enumerate(rows)],
        "grp int, ord int, event string, value double",
    )
    expect = _model(rows)

    w = Window.partitionBy("grp")
    start_c, stop_c = event_window_exprs(
        w, "ord", "event",
        start_events=["start"], stop_events=["stop"], fallback_start_event="go",
    )
    ev_w = df.select(
        "*", start_c.alias("start_ord"), stop_c.alias("stop_ord")
    ).withColumn(
        "crossing_ord",
        first_crossing_expr(w, "ord", F.col("value") > 10, F.col("start_ord")),
    )
    rows_w = (
        ev_w.select("grp", "start_ord", "stop_ord", "crossing_ord").distinct().collect()
    )
    assert len(rows_w) == len(expect), "window columns differ within a group"
    got = {r["grp"]: (r["start_ord"], r["stop_ord"], r["crossing_ord"]) for r in rows_w}
    for g, (s, p, c, _) in expect.items():
        assert got[g] == (s, p, c), f"window/crossing mismatch for group {g}"

    # A1 the way flagship_bounded_max computes it: filter [start, crossing)
    bounded = (
        ev_w.filter(
            (F.col("ord") >= F.col("start_ord")) & (F.col("ord") < F.col("crossing_ord"))
        )
        .groupBy("grp")
        .agg(F.max("value").alias("max_val"))
    )
    got_max = {r["grp"]: r["max_val"] for r in bounded.collect()}
    for g, (_, _, _, m) in expect.items():
        if m is not None:
            assert got_max[g] == m, f"bounded max mismatch for group {g}"
        else:
            assert g not in got_max or got_max[g] is None


# ---------------------------------------------------------------------------
# Dedup property: exact n-gram Jaccard vs a pure-Python model
# ---------------------------------------------------------------------------

doc_st = st.text(alphabet="abcX ", min_size=0, max_size=30)
corpus_st = st.lists(doc_st, min_size=2, max_size=8)


def _py_shingles(text: str, n: int = 8) -> set:
    upper = max(len(text) - (n - 1), 1)
    return {text[i : i + n] for i in range(upper)}


def _py_jaccard_pairs(docs, n=8, threshold=0.01):
    out = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = _py_shingles(docs[i], n), _py_shingles(docs[j], n)
            inter = len(a & b)
            if inter == 0:
                continue
            jac = inter / (len(a) + len(b) - inter)
            if jac >= threshold:
                out[(i, j)] = round(jac, 4)
    return out


@settings(max_examples=8, deadline=None)
@given(corpus_st)
def test_ngram_jaccard_matches_python_model(spark, docs):
    from nfl_big_data_bowl_2024_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", "text", n=8, threshold=0.01).collect()
    }
    assert got == _py_jaccard_pairs(docs)

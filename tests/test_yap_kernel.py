"""Golden + property tests for the U1 YAP kernel (kernels/yap.py) and the E1
pipeline over the FIXTURES.md §A scenarios — runs the pandas kernel directly
(no Spark needed) plus the Spark plans end-to-end."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from nfl_big_data_bowl_2024_spark import fixtures, schemas
from nfl_big_data_bowl_2024_spark.kernels.lqr import RiccatiSweep
from nfl_big_data_bowl_2024_spark.kernels.yap import max_params_play_kernel, yap_play_kernel

LIMITS = {p: lims for p, *lims in schemas.POSITION_LIMITS}


def _kernel_input(tr, players, plays, tackles, game: int, play: int) -> pd.DataFrame:
    """Assemble one (gameId, playId) kernel input group from tracking rows
    and dimension rows, replicating the joins in plans.domain.yap_plan with
    plain pandas."""
    g = tr[(tr.gameId == game) & (tr.playId == play)].copy()
    players = {n: (nm, pos) for n, nm, pos in players}
    plays = {(gm, pl): (bc, d) for gm, pl, bc, d in plays}
    tacklers = {n for gm, pl, n in tackles if (gm, pl) == (game, play)}
    bc, _ = plays[(game, play)]
    g["ballCarrierId"] = bc
    g["is_tackler"] = g.nflId.isin(tacklers)
    g["displayName"] = g.nflId.map(lambda n: players[n][0])
    g["position"] = g.nflId.map(lambda n: players[n][1])
    for i, col in enumerate(["V_max_med", "V_max_max", "A_max_med", "A_max_max"]):
        g[col] = g.position.map(lambda p: LIMITS.get(p, [None] * 4)[i])
    return g


def _group(game: int, play: int) -> pd.DataFrame:
    """One kernel input group from the FIXTURES.md §A scenarios."""
    tr = pd.DataFrame(fixtures.tracking_rows(), columns=fixtures.TRACKING_COLS)
    return _kernel_input(
        tr, fixtures.PLAYERS, fixtures.PLAYS, fixtures.TACKLES, game, play
    )


def _run(game: int, play: int) -> pd.DataFrame:
    return yap_play_kernel(_group(game, play)).set_index("NFL_ID")


def test_straight_line_yap_golden():
    out = _run(1, 101)
    row = out.loc[2001]
    # Hand-checkable: actual vicinity at frame 14, carrier gains 0.8 yd/frame;
    # the LQR-feasible intercept lands 3 frames earlier -> YAP = 3*0.8 = 2.4.
    assert row["status"] == "ok"
    assert row["YAP"] == pytest.approx(2.4, abs=1e-9)
    # Feasibility bounds honored (CB limits).
    assert row["max_vel_opt"] <= 10.9
    assert row["max_accel_opt"] <= 9.1


def _season_groups() -> list[pd.DataFrame]:
    """Kernel inputs for every fixture scenario plus a synthetic season of
    84 plays: every residue of the p % 4/5/6/7 geometry cycle, every
    tackler position of the synthetic roster, both play directions."""
    groups = [_group(g, p) for g, p, _, _ in fixtures.PLAYS]
    for p in range(84):
        players, play, tackles = fixtures._synthetic_play_meta(p)
        tr = pd.DataFrame(
            fixtures._synthetic_play_tracking(p), columns=fixtures.TRACKING_COLS
        )
        groups.append(_kernel_input(tr, players, [play], tackles, play[0], play[1]))
    return groups


def test_shared_sweep_kernel_bit_identical_to_fresh_sweeps(monkeypatch):
    """The kernel's process-wide Riccati sweep (one per limit pair, shared
    across tacklers and plays, extended out of order as horizons vary) must
    give exactly the rows a fresh per-tackler sweep gives."""
    groups = _season_groups()
    RiccatiSweep.shared.cache_clear()
    shared = [yap_play_kernel(g) for g in groups]
    assert RiccatiSweep.shared.cache_info().currsize == 4  # distinct limit pairs
    assert sum(int(r["YAP"].notna().sum()) for r in shared) > 84  # searches ran

    monkeypatch.setattr(RiccatiSweep, "shared", staticmethod(RiccatiSweep))
    fresh = [yap_play_kernel(g) for g in groups]
    assert len(shared) == len(fresh)
    for i, (a, b) in enumerate(zip(shared, fresh)):
        assert a.equals(b), i


def test_kernels_ignore_row_order_within_group():
    """applyInPandas gives no row order inside a group: both kernels must
    return the same frame for any permutation of a group's rows."""
    rng = np.random.default_rng(0)
    for i, g in enumerate(_season_groups()):
        shuffled = g.iloc[rng.permutation(len(g))]
        for kernel in (max_params_play_kernel, yap_play_kernel):
            assert kernel(shuffled).equals(kernel(g)), (i, kernel.__name__)


def test_left_play_mirror_same_yap():
    right = _run(1, 101).loc[2001]
    left = _run(2, 201).loc[2003]
    # play 201 is the exact x-mirror with playDirection='left' (different
    # tackler position, so only the geometry-driven YAP sign/magnitude is
    # compared via the sign convention; both must be positive).
    assert left["status"] == "ok" and right["status"] == "ok"
    assert left["YAP"] > 0 and right["YAP"] > 0


def test_never_in_vicinity_is_null():
    row = _run(1, 102).loc[2002]
    assert row["status"] == "ok"
    assert row["YAP"] is None or pd.isna(row["YAP"])


def test_vicinity_before_start_is_null():
    row = _run(1, 103).loc[2001]
    assert row["status"] == "ok"
    assert pd.isna(row["YAP"])


def test_ball_snap_fallback_runs():
    row = _run(1, 104).loc[2003]
    assert row["status"] == "ok"
    assert not pd.isna(row["YAP"])


def test_unknown_position_mid_list_reuses_stale_limits():
    out = _run(2, 202)
    # NT processed first (sorted by nflId) assigns the method-scope limit
    # variables; the QB's if/elif falls through with no else, so the
    # reference silently computes it with the NT limits — same geometry +
    # same (stale) limits => identical YAP, flagged as stale.
    assert out.loc[2004, "status"] == "ok"
    assert out.loc[2005, "status"] == "ok_stale_limits"
    assert out.loc[2005, "YAP"] == out.loc[2004, "YAP"]
    assert out.loc[2005, "max_vel_opt"] == out.loc[2004, "max_vel_opt"]


def test_unknown_position_first_with_vicinity_aborts_play():
    out = _run(3, 204)
    # No prior tackler assigned the limit variables and this one enters the
    # vicinity, so the optimizer consumes unset vars -> reference NameError
    # -> play error row (calculate_YAP.py:42-49).
    assert len(out) == 1
    assert out.loc[2005, "status"] == "error_unknown_position"
    assert pd.isna(out.loc[2005, "YAP"])


def test_unknown_position_never_in_vicinity_continues():
    out = _run(3, 205)
    # The unknown-position tackler takes the NaN path (limits never
    # consumed -> no NameError) and the loop continues to the FS behind it,
    # which computes normally (FS limits == CB limits, same closing
    # geometry as play 101 -> same YAP).
    assert out.loc[2005, "status"] == "ok"
    assert pd.isna(out.loc[2005, "YAP"])
    assert out.loc[2006, "status"] == "ok"
    assert out.loc[2006, "YAP"] == pytest.approx(2.4, abs=1e-9)


def test_vicinity_at_last_frame():
    row = _run(3, 206).loc[2001]
    # Crossing exactly at frame 35 (the final frame): the vicinity index is
    # valid, the candidate search stops at len-2 as in the reference, and a
    # feasible intercept well before the crossing yields a large YAP.
    assert row["status"] == "ok"
    assert row["YAP"] == pytest.approx(19.2, abs=1e-9)


def test_left_direction_slow_closure_sign():
    row = _run(3, 207).loc[2006]
    # Second left-direction geometry (not the mirror of 101): crossing at
    # frame 20, feasible intercept 9 frames earlier -> YAP = 9*0.8 = 7.2,
    # positive under the left-direction sign convention (x_j - x_cv).
    assert row["status"] == "ok"
    assert row["YAP"] == pytest.approx(7.2, abs=1e-9)


def test_no_stop_event_errors():
    out = _run(2, 203)
    assert (out["status"] == "error_no_window").all()


def test_e1_spark_matches_hand_values(spark):
    from nfl_big_data_bowl_2024_spark.plans.domain import max_params_plan

    out = max_params_plan(
        fixtures.tracking_df(spark),
        fixtures.players_df(spark),
        fixtures.plays_df(spark),
        fixtures.tackles_df(spark),
    ).toPandas().set_index(["game_ID", "play_ID", "NFL_ID"])
    # Window [5,14): s_ramp max at f=13 -> 6.3; a_decay max at f=5 -> 2.75.
    r = out.loc[(1, 101, 2001)]
    assert r["max_vel"] == pytest.approx(6.3)
    assert r["max_accel"] == pytest.approx(2.75)
    assert r["status"] == "ok"
    assert pd.isna(out.loc[(1, 102, 2002), "max_vel"])  # never in vicinity
    assert pd.isna(out.loc[(1, 103, 2001), "max_vel"])  # vicinity before start
    assert out.loc[(2, 203, 2001), "status"] == "error_no_window"


def test_e2_spark_matches_pandas_kernel(spark):
    from nfl_big_data_bowl_2024_spark.plans.domain import yap_plan

    out = (
        yap_plan(
            fixtures.tracking_df(spark),
            fixtures.players_df(spark),
            fixtures.plays_df(spark),
            fixtures.tackles_df(spark),
        )
        .toPandas()
        .sort_values(["game_ID", "play_ID", "NFL_ID"])
        .reset_index(drop=True)
    )
    expect = pd.concat(
        [yap_play_kernel(_group(g, p)) for g, p, _, _ in fixtures.PLAYS]
    ).sort_values(["game_ID", "play_ID", "NFL_ID"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(out, expect, check_dtype=False)


def test_u3_kernel_parity_with_dataframe_plan(spark):
    """The DataFrame-native E1 plan and the reference-loop UDF kernel must
    produce IDENTICAL rows on every fixture scenario (SURVEY §2.8 U3: 'keep
    a UDF variant only for bit-exact parity testing')."""
    from nfl_big_data_bowl_2024_spark.plans.domain import (
        max_params_kernel_plan,
        max_params_plan,
    )

    args = (
        fixtures.tracking_df(spark),
        fixtures.players_df(spark),
        fixtures.plays_df(spark),
        fixtures.tackles_df(spark),
    )
    keys = ["game_ID", "play_ID", "NFL_ID"]
    df_native = max_params_plan(*args).toPandas().sort_values(keys).reset_index(drop=True)
    kernel = (
        max_params_kernel_plan(*args).toPandas().sort_values(keys).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(df_native, kernel, check_dtype=False)


def _mangle(g, drop_carrier=False, drop_tackler_frames=False):
    if drop_carrier:
        g = g[g["nflId"] != g["ballCarrierId"].iloc[0]]
    if drop_tackler_frames:
        tackler = g[g["is_tackler"]]["nflId"].iloc[0]
        g = g[~((g["nflId"] == tackler) & (g["frameId"] > 10))]
    return g


def test_missing_carrier_is_error_row_not_crash():
    out = yap_play_kernel(_mangle(_group(1, 101), drop_carrier=True))
    assert (out["status"] == "error_no_carrier_frames").all()
    assert len(out) == 1  # one row per tackler, play survives as data


def test_frame_misalignment_is_error_row_not_crash():
    out = yap_play_kernel(_mangle(_group(1, 101), drop_tackler_frames=True))
    assert (out["status"] == "error_frame_misalignment").all()


def test_max_params_kernel_guards_too():
    out = max_params_play_kernel(_mangle(_group(1, 101), drop_carrier=True))
    assert (out["status"] == "error_no_carrier_frames").all()
    out2 = max_params_play_kernel(_mangle(_group(1, 101), drop_tackler_frames=True))
    assert (out2["status"] == "error_frame_misalignment").all()


def test_synthetic_tracking_df_matches_driver_rows(spark):
    """The distributed (mapInPandas) synthetic-tracking generator must emit
    exactly the rows the driver-side generator builds."""
    from nfl_big_data_bowl_2024_spark import fixtures

    rows, _, _, _ = fixtures.synthetic_plays(6)
    want = {tuple(r) for r in rows}
    got = {tuple(r) for r in fixtures.synthetic_tracking_df(spark, 6).collect()}
    assert got == want


def test_closed_form_operating_point():
    """Pins the e2_yap_closed_form oracle constants (plans/domain.py).

    For the two straight-line plays (101 right / 201 left) the oracle
    hardcodes: intercept frame = start frame + 6, and the two LQR-path
    maxima (max_vel_opt / max_accel_opt). That is only sound if the
    constants are ROBUST — the feasibility argmin must not sit on a
    constraint boundary and the literals must not sit on a 2 dp rounding
    boundary, so ~1-ulp libm/BLAS drift can never flip them. This test
    re-derives all of it from the kernel internals and asserts margins.
    """
    from nfl_big_data_bowl_2024_spark.kernels.lqr import (
        RiccatiSweep,
        solve_optimal_path,
    )
    from nfl_big_data_bowl_2024_spark.kernels.yap import (
        R_T,
        _first_crossing,
        _identify_events,
        _max_params_over,
        _uv,
    )

    tr = pd.DataFrame(fixtures.tracking_rows(), columns=fixtures.TRACKING_COLS)
    limits = {p: v for p, *v in schemas.POSITION_LIMITS}
    expected = {
        101: (2.4, 5.66, 0.57),
        201: (2.4, 5.6, 0.34),
    }
    cases = [(1, 101, 1001, 2001, "CB", "right"), (2, 201, 1002, 2003, "MLB", "left")]
    for game, play, carrier_id, tackler_id, pos, direction in cases:
        g = tr[(tr.gameId == game) & (tr.playId == play)]
        c = g[g.nflId == carrier_id].sort_values("frameId")
        k = g[g.nflId == tackler_id].sort_values("frameId")
        x_c, y_c = c.x.to_numpy(), c.y.to_numpy()
        t = c.t.to_numpy(float)
        t = t - t[0]
        idx_start, _ = _identify_events(c.event.to_numpy(dtype=object))
        x_t, y_t = k.x.to_numpy(), k.y.to_numpy()
        v_t, a_t = k.s.to_numpy(), k.a.to_numpy()
        u_t, w_t = _uv(v_t, k["dir"].to_numpy())
        dist = np.sqrt((x_c - x_t) ** 2 + (y_c - y_t) ** 2)
        idx_v = _first_crossing(dist, idx_start)
        v_med, v_max, a_med, a_max = limits[pos]
        sweep = RiccatiSweep(v_med, a_med, R_T)

        def solve(idx_j):
            time_j = t[idx_start : idx_j + 1] - t[idx_start]
            return solve_optimal_path(
                x_t[idx_start] - x_c[idx_j], y_t[idx_start] - y_c[idx_j],
                u_t[idx_start], w_t[idx_start], time_j, v_med, a_med, R_T,
                sweep=sweep,
            )

        # every candidate BEFORE the pinned winner fails at least one
        # constraint by >= 4% of its threshold
        for idx_j in range(idx_start + 1, idx_start + 6):
            xp, yp, up, vp, axp, ayp = solve(idx_j)
            r_f = float(np.hypot(xp[-1], yp[-1]))
            v_pk = float(np.max(np.hypot(up, vp)))
            a_pk = float(np.max(np.hypot(axp, ayp)))
            assert (
                r_f >= 1.04 * R_T or v_pk >= 1.04 * v_max or a_pk >= 1.04 * a_max
            ), (play, idx_j)

        # the pinned winner (start + 6) passes ALL constraints with wide
        # headroom: no numeric drift can move the argmin
        idx_j = idx_start + 6
        xp, yp, up, vp, axp, ayp = solve(idx_j)
        assert float(np.hypot(xp[-1], yp[-1])) <= 0.30 * R_T
        assert float(np.max(np.hypot(up, vp))) <= 0.60 * v_max
        assert float(np.max(np.hypot(axp, ayp))) <= 0.10 * a_max

        # YAP is pure carrier displacement between the two pinned frames
        yap_raw = (
            x_c[idx_j] - x_c[idx_v]
            if direction == "left"
            else x_c[idx_v] - x_c[idx_j]
        )
        want_yap, want_mv, want_ma = expected[play]
        assert abs(yap_raw - want_yap) < 1e-9

        # the oracle's literal maxima match the optimal-path re-run, and
        # their unrounded values sit >= 0.0015 from a 2 dp half-up boundary
        kk = len(xp)
        x_o, y_o = x_t.astype(float).copy(), y_t.astype(float).copy()
        v_o, a_o = v_t.astype(float).copy(), a_t.astype(float).copy()
        x_o[idx_start : idx_start + kk] = xp + x_c[idx_j]
        y_o[idx_start : idx_start + kk] = yp + y_c[idx_j]
        v_o[idx_start : idx_start + kk] = np.hypot(up, vp)
        a_o[idx_start : idx_start + kk] = np.hypot(axp, ayp)
        for arr in (x_o, y_o, v_o, a_o):
            arr[idx_start + kk :] = np.nan
        dist_o = np.sqrt((x_c - x_o) ** 2 + (y_c - y_o) ** 2)
        mv, ma = _max_params_over(v_o, a_o, dist_o, idx_start)
        assert round(mv, 2) == want_mv and round(ma, 2) == want_ma
        for v in (mv, ma):
            frac = abs(v * 100 - np.floor(v * 100 + 0.5))
            assert abs(0.5 - frac) >= 0.15, v  # >= 0.0015 absolute


def test_e2_closed_form_spark_rows(spark):
    """The registered query returns exactly the two pinned rows."""
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    df = all_queries()["e2_yap_closed_form"].fn(spark, "/root/testdata/sf0.01")
    rows = {
        (r.game_ID, r.play_ID, r.NFL_ID): (r.YAP, r.max_vel_opt, r.max_accel_opt, r.status)
        for r in df.collect()
    }
    assert rows == {
        (1, 101, 2001): (2.4, 5.66, 0.57, "ok"),
        (2, 201, 2003): (2.4, 5.6, 0.34, "ok"),
    }


def test_closed_form_operating_point_curved():
    """Pins the e2_yap_closed_form_curved oracle constants (plans/domain.py)
    for play 301 — the CURVED operating point, where the carrier's y is
    quadratic and the SS converges along both axes, so the vicinity
    distance and the LQR boundary conditions are genuinely 2-D.  Asserts
    the same robustness contract as the straight-line test: every
    candidate before the pinned winner fails its binding constraint by a
    wide margin, the winner passes all three with wide headroom, YAP is
    pure carrier displacement between the two derived frames, and the
    pinned maxima sit away from their 2 dp half-up boundary."""
    from nfl_big_data_bowl_2024_spark.kernels.lqr import (
        RiccatiSweep,
        solve_optimal_path,
    )
    from nfl_big_data_bowl_2024_spark.kernels.yap import (
        R_T,
        _first_crossing,
        _identify_events,
        _max_params_over,
        _uv,
    )

    tr = pd.DataFrame(fixtures.tracking_rows(), columns=fixtures.TRACKING_COLS)
    g = tr[(tr.gameId == 4) & (tr.playId == 301)]
    c = g[g.nflId == 1001].sort_values("frameId")
    k = g[g.nflId == 2007].sort_values("frameId")
    x_c, y_c = c.x.to_numpy(), c.y.to_numpy()
    # the curve is real: carrier y spans > 5 yd (1-D degenerate geometry
    # would silently re-test the straight-line operating point)
    assert y_c.max() - y_c.min() > 5.0
    t = c.t.to_numpy(float)
    t = t - t[0]
    idx_start, _ = _identify_events(c.event.to_numpy(dtype=object))
    assert idx_start == 4  # handoff at frame 5
    x_t, y_t = k.x.to_numpy(), k.y.to_numpy()
    v_t, a_t = k.s.to_numpy(), k.a.to_numpy()
    u_t, w_t = _uv(v_t, k["dir"].to_numpy())
    dist = np.sqrt((x_c - x_t) ** 2 + (y_c - y_t) ** 2)
    idx_v = _first_crossing(dist, idx_start)
    assert idx_v == 13  # vicinity crossing at frame 14 (oracle's fv)
    limits = {p: v for p, *v in schemas.POSITION_LIMITS}
    v_med, v_max, a_med, a_max = limits["SS"]
    sweep = RiccatiSweep(v_med, a_med, R_T)

    def solve(idx_j):
        time_j = t[idx_start : idx_j + 1] - t[idx_start]
        return solve_optimal_path(
            x_t[idx_start] - x_c[idx_j], y_t[idx_start] - y_c[idx_j],
            u_t[idx_start], w_t[idx_start], time_j, v_med, a_med, R_T,
            sweep=sweep,
        )

    # every candidate BEFORE the pinned winner (start + 5) fails at least
    # one constraint by >= 30% of its threshold
    for idx_j in range(idx_start + 1, idx_start + 5):
        xp, yp, up, vp, axp, ayp = solve(idx_j)
        r_f = float(np.hypot(xp[-1], yp[-1]))
        v_pk = float(np.max(np.hypot(up, vp)))
        a_pk = float(np.max(np.hypot(axp, ayp)))
        assert (
            r_f >= 1.30 * R_T or v_pk >= 1.30 * v_max or a_pk >= 1.30 * a_max
        ), (idx_j, r_f, v_pk, a_pk)

    # the pinned winner passes ALL constraints with >= 28% headroom
    idx_j = idx_start + 5
    xp, yp, up, vp, axp, ayp = solve(idx_j)
    assert float(np.hypot(xp[-1], yp[-1])) <= 0.72 * R_T
    assert float(np.max(np.hypot(up, vp))) <= 0.52 * v_max
    assert float(np.max(np.hypot(axp, ayp))) <= 0.65 * a_max

    # YAP is pure carrier displacement between the two pinned frames
    yap_raw = x_c[idx_v] - x_c[idx_j]
    assert abs(yap_raw - 2.8) < 1e-9

    # the oracle's literal maxima match the optimal-path re-run; unrounded
    # values sit >= 0.0020 from a 2 dp half-up boundary
    kk = len(xp)
    x_o, y_o = x_t.astype(float).copy(), y_t.astype(float).copy()
    v_o, a_o = v_t.astype(float).copy(), a_t.astype(float).copy()
    x_o[idx_start : idx_start + kk] = xp + x_c[idx_j]
    y_o[idx_start : idx_start + kk] = yp + y_c[idx_j]
    v_o[idx_start : idx_start + kk] = np.hypot(up, vp)
    a_o[idx_start : idx_start + kk] = np.hypot(axp, ayp)
    for arr in (x_o, y_o, v_o, a_o):
        arr[idx_start + kk :] = np.nan
    dist_o = np.sqrt((x_c - x_o) ** 2 + (y_c - y_o) ** 2)
    mv, ma = _max_params_over(v_o, a_o, dist_o, idx_start)
    assert round(mv, 2) == 5.62 and round(ma, 2) == 5.9
    for v in (mv, ma):
        frac = abs(v * 100 - np.floor(v * 100 + 0.5))
        assert abs(0.5 - frac) >= 0.20, v


def test_e2_closed_form_curved_spark_row(spark):
    """The registered curved query returns exactly the pinned row."""
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    df = all_queries()["e2_yap_closed_form_curved"].fn(spark, "/root/testdata/sf0.01")
    rows = {
        (r.game_ID, r.play_ID, r.NFL_ID): (r.YAP, r.max_vel_opt, r.max_accel_opt, r.status)
        for r in df.collect()
    }
    assert rows == {(4, 301, 2007): (2.8, 5.62, 5.9, "ok")}

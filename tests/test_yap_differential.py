"""Differential test: the U1/U2 kernel vs a scipy-faithful replica of the
reference solver pipeline (reference optimal_pursuit.py:22-110,508-561).

The production kernel (kernels/lqr.py) deliberately does NOT use the
reference's numerics: it integrates the Riccati sweep with fixed-step RK4
and advances the linear state/costate system EXACTLY via the matrix
exponential, where the reference runs two scipy ``solve_ivp`` RK45 calls at
default (loose, rtol=1e-3) tolerances. The closed-form operating points
pin two plays; this test closes the remaining gap by re-running the
reference's NUMERICAL pipeline — an in-test Dormand-Prince RK45 with
scipy's default tolerances, initial-step selection, and quartic dense
output (scipy is not installed in this container; the integrator below is
the published DOPRI5(4) scheme scipy's RK45 implements) — over the whole
synthetic season and asserting the per-tackler outputs (chosen intercept
frame, YAP, optimal-path max params) agree at the reference's own 2 dp
output contract (reference optimal_pursuit.py:560, :239-240).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from nfl_big_data_bowl_2024_spark import fixtures
from nfl_big_data_bowl_2024_spark.kernels.yap import (
    R_T,
    _first_crossing,
    _identify_events,
    _max_params_over,
    _search_tackler,
    _uv,
)
from nfl_big_data_bowl_2024_spark.schemas import POSITION_LIMITS

# ---------------------------------------------------------------------------
# Dormand-Prince RK45 with scipy's defaults (rtol=1e-3, atol=1e-6, RMS error
# norm, Hairer initial-step selection, safety 0.9, factor clamp [0.2, 10],
# FSAL, quartic dense-output interpolant) — the integrator behind
# scipy.integrate.solve_ivp(method="RK45").
# ---------------------------------------------------------------------------

_C = np.array([0.0, 1 / 5, 3 / 10, 4 / 5, 8 / 9, 1.0])
_A = [
    np.array([]),
    np.array([1 / 5]),
    np.array([3 / 40, 9 / 40]),
    np.array([44 / 45, -56 / 15, 32 / 9]),
    np.array([19372 / 6561, -25360 / 2187, 64448 / 6561, -212 / 729]),
    np.array([9017 / 3168, -355 / 33, 46732 / 5247, 49 / 176, -5103 / 18656]),
]
_B = np.array([35 / 384, 0.0, 500 / 1113, 125 / 192, -2187 / 6784, 11 / 84])
_E = np.array(
    [71 / 57600, 0.0, -71 / 16695, 71 / 1920, -17253 / 339200, 22 / 525, -1 / 40]
)
_P = np.array(
    [
        [1.0, -8048581381 / 2820520608, 8663915743 / 2820520608,
         -12715105075 / 11282082432],
        [0.0, 0.0, 0.0, 0.0],
        [0.0, 131558114200 / 32700410799, -68118460800 / 10900136933,
         87487479700 / 32700410799],
        [0.0, -1754552775 / 470086768, 14199869525 / 1410260304,
         -10690763975 / 1880347072],
        [0.0, 127303824393 / 49829197408, -318862633887 / 49829197408,
         701980252875 / 199316789632],
        [0.0, -282668133 / 205662961, 2019193451 / 616988883,
         -1453857185 / 822651844],
        [0.0, 40617522 / 29380423, -110615467 / 29380423,
         69997945 / 29380423],
    ]
)
_RTOL, _ATOL, _SAFETY, _MINF, _MAXF = 1e-3, 1e-6, 0.9, 0.2, 10.0


def _rms(x: np.ndarray) -> float:
    return float(np.linalg.norm(x) / np.sqrt(x.size))


def _initial_step(fun, t0, y0, f0, t_bound):
    scale = _ATOL + np.abs(y0) * _RTOL
    d0, d1 = _rms(y0 / scale), _rms(f0 / scale)
    h0 = 1e-6 if (d0 < 1e-5 or d1 < 1e-5) else 0.01 * d0 / d1
    y1 = y0 + h0 * f0
    f1 = fun(t0 + h0, y1)
    d2 = _rms((f1 - f0) / scale) / h0
    if d1 <= 1e-15 and d2 <= 1e-15:
        h1 = max(1e-6, h0 * 1e-3)
    else:
        h1 = (0.01 / max(d1, d2)) ** 0.2
    return min(100 * h0, h1, t_bound - t0)


def _rk45(fun, t0, t_bound, y0, t_eval=None):
    """Integrate y' = fun(t, y); returns y(t_bound), or the dense-output
    samples at ``t_eval`` when given (t_eval sorted, within [t0, t_bound])."""
    y = np.asarray(y0, dtype=float)
    t = t0
    f = fun(t, y)
    h = _initial_step(fun, t0, y, f, t_bound)
    out = []
    ev = 0 if t_eval is not None else None
    if ev is not None:
        while ev < len(t_eval) and t_eval[ev] <= t0:
            out.append(y.copy())
            ev += 1
    K = np.empty((7, y.size))
    while t < t_bound:
        h = min(h, t_bound - t)
        rejected = True
        while rejected:
            K[0] = f
            for i in range(1, 6):
                K[i] = fun(t + _C[i] * h, y + h * (_A[i] @ K[:i]))
            y_new = y + h * (_B @ K[:6])
            K[6] = fun(t + h, y_new)
            scale = _ATOL + np.maximum(np.abs(y), np.abs(y_new)) * _RTOL
            err = _rms(h * (_E @ K) / scale)
            if err < 1.0:
                factor = _MAXF if err == 0 else min(
                    _MAXF, _SAFETY * err ** -0.2
                )
                rejected = False
            else:
                h *= max(_MINF, _SAFETY * err ** -0.2)
        if ev is not None:
            # scipy RK45 dense output: quartic in x = (s - t)/h
            Q = K.T @ _P
            while ev < len(t_eval) and t_eval[ev] <= t + h + 1e-12:
                x = min(max((t_eval[ev] - t) / h, 0.0), 1.0)
                p = np.array([x, x * x, x**3, x**4])
                out.append(y + h * (Q @ p))
                ev += 1
        t = t + h
        y = y_new
        f = K[6]
        h *= factor
    if ev is not None:
        while ev < len(t_eval):  # numerical tail guard
            out.append(y.copy())
            ev += 1
        return np.array(out).T
    return y


# ---------------------------------------------------------------------------
# Reference solver replica (optimal_pursuit.py:22-110): same LQ model as
# kernels/lqr.py, but numerically the reference's two solve_ivp calls.
# ---------------------------------------------------------------------------

_Fm = np.array(
    [[0.0, 0, 1, 0], [0, 0, 0, 1], [0, 0, 0, 0], [0, 0, 0, 0]]
)
_Gm = np.array([[0.0, 0], [0, 0], [1, 0], [0, 1]])


def _ref_solve_optimal_path(x0, y0, u0, v0, t, V_max, A_max, R_t):
    c_R = 2.0 / R_t**2
    alpha_V = 2.0 / V_max**2
    beta_A = 2.0 / A_max**2
    S_f = np.diag([c_R, c_R, 0.0, 0.0])
    Am = np.diag([0.0, 0.0, alpha_V, alpha_V])
    B_inv = np.diag([1.0 / beta_A, 1.0 / beta_A])
    GBG = _Gm @ B_inv @ _Gm.T
    t_f = float(t[-1])

    def f_sweep(_t, s):
        S = 0.5 * (np.reshape(s, (4, 4)) + np.reshape(s, (4, 4)).T)
        SF = S @ _Fm
        return np.reshape(SF + SF.T + Am - S @ GBG @ S, -1)

    s0 = _rk45(f_sweep, 0.0, t_f, np.reshape(S_f, -1))
    S_0 = np.reshape(s0, (4, 4))
    z0 = np.array([x0, y0, u0, v0])
    lam0 = S_0 @ z0
    M = np.block([[_Fm, -GBG], [-Am, -_Fm.T]])

    def f_ode(_t, y):
        return M @ y

    sol = _rk45(f_ode, 0.0, t_f, np.concatenate([z0, lam0]), t_eval=t)
    x, yv, u, v = sol[0], sol[1], sol[2], sol[3]
    acc = -B_inv @ (_Gm.T @ sol[4:])
    return x, yv, u, v, acc[0], acc[1]


def _loop_search(solve_fn, limits, g, x_c, y_c, t, time_0, idx_start,
                 play_direction):
    """The reference's per-tackler candidate-frame loop
    (optimal_pursuit.py:479-561) parameterized by the trajectory solver;
    returns (intercept_frame_or_None, YAP, max_vel_opt, max_accel_opt,
    margin_by_frame) where margin_by_frame[j] is the min feasibility
    margin (<=0 means that constraint failed) this solver saw at j."""
    x_t, y_t = g["x"].to_numpy(), g["y"].to_numpy()
    v_t, a_t = g["s"].to_numpy(), g["a"].to_numpy()
    u_t, w_t = _uv(v_t, g["dir"].to_numpy())
    dist = np.sqrt((x_c - x_t) ** 2 + (y_c - y_t) ** 2)
    nan = float("nan")
    margins: dict[int, float] = {}
    idx_v = _first_crossing(dist, idx_start)
    if idx_v is None:
        return None, nan, nan, nan, margins
    x_cv = x_c[idx_v]
    x0, y0 = x_t[idx_start], y_t[idx_start]
    u0, v0 = u_t[idx_start], w_t[idx_start]
    v_med, v_max, a_med, a_max = limits
    for idx_j in range(idx_start + 1, len(t) - 1):
        time_j = t[idx_start : idx_j + 1] - time_0
        dx0, dy0 = x0 - x_c[idx_j], y0 - y_c[idx_j]
        xp, yp, up, vp, axp, ayp = solve_fn(
            dx0, dy0, u0, v0, time_j, v_med, a_med
        )
        r_f = float(np.sqrt(xp[-1] ** 2 + yp[-1] ** 2))
        v_pk = float(np.max(np.sqrt(up**2 + vp**2)))
        a_pk = float(np.max(np.sqrt(axp**2 + ayp**2)))
        margins[idx_j] = min(R_T - r_f, v_max - v_pk, a_max - a_pk)
        if r_f <= R_T and v_pk <= v_max and a_pk <= a_max:
            yap = (
                round(x_c[idx_j] - x_cv, 2)
                if play_direction == "left"
                else round(x_cv - x_c[idx_j], 2)
            )
            k = len(xp)
            x_o = x_t.astype(float).copy()
            y_o = y_t.astype(float).copy()
            v_o = v_t.astype(float).copy()
            a_o = a_t.astype(float).copy()
            x_o[idx_start : idx_start + k] = xp + x_c[idx_j]
            y_o[idx_start : idx_start + k] = yp + y_c[idx_j]
            v_o[idx_start : idx_start + k] = np.sqrt(up**2 + vp**2)
            a_o[idx_start : idx_start + k] = np.sqrt(axp**2 + ayp**2)
            for arr in (x_o, y_o, v_o, a_o):
                arr[idx_start + k :] = np.nan
            dist_o = np.sqrt((x_c - x_o) ** 2 + (y_c - y_o) ** 2)
            mv, ma = _max_params_over(v_o, a_o, dist_o, idx_start)
            return idx_j, yap, round(mv, 2), round(ma, 2), margins
    return None, nan, nan, nan, margins


def _ref_solver(dx0, dy0, u0, v0, time_j, v_med, a_med):
    return _ref_solve_optimal_path(dx0, dy0, u0, v0, time_j, v_med, a_med, R_T)


# ---------------------------------------------------------------------------
# The differential itself
# ---------------------------------------------------------------------------

N_PLAYS = 50
_LIMITS = {p: (vm, vx, am, ax) for p, vm, vx, am, ax in POSITION_LIMITS}


def test_kernel_matches_reference_numerics_on_synthetic_season():
    from nfl_big_data_bowl_2024_spark.kernels.lqr import (
        RiccatiSweep,
        solve_optimal_path,
    )

    rows, players, plays, tackles = fixtures.synthetic_plays(N_PLAYS)
    tracking = pd.DataFrame(rows, columns=fixtures.TRACKING_COLS)
    pos_by_id = {pid: pos for pid, _, pos in players}

    checked = 0
    boundary_flips = []
    for game, play, carrier, direction in plays:
        pdf = tracking[(tracking.gameId == game) & (tracking.playId == play)]
        cg = pdf[pdf.nflId == carrier].sort_values("frameId")
        x_c, y_c = cg["x"].to_numpy(), cg["y"].to_numpy()
        t = cg["t"].to_numpy(dtype=float)
        t = t - t[0]
        idx_start, idx_stop = _identify_events(
            cg["event"].to_numpy(dtype=object)
        )
        assert idx_start is not None and idx_stop is not None
        time_0 = t[idx_start]
        for _, _, tackler in [
            tk for tk in tackles if tk[0] == game and tk[1] == play
        ]:
            g = pdf[pdf.nflId == tackler].sort_values("frameId")
            limits = _LIMITS[pos_by_id[tackler]]
            ref_j, ref_yap, ref_mvo, ref_mao, ref_margins = _loop_search(
                _ref_solver, limits, g, x_c, y_c, t, time_0, idx_start,
                direction,
            )
            # The same loop over the PRODUCTION solver, to locate the
            # kernel's chosen frame...
            sweep = RiccatiSweep(limits[0], limits[2], R_T)

            def _ker_solver(dx0, dy0, u0, v0, time_j, v_med, a_med):
                return solve_optimal_path(
                    dx0, dy0, u0, v0, time_j, v_med, a_med, R_T, sweep=sweep
                )

            ker_j, ker_yap, _, _, _ = _loop_search(
                _ker_solver, limits, g, x_c, y_c, t, time_0, idx_start,
                direction,
            )
            # ...tied to the SHIPPED kernel entry point: _search_tackler
            # must emit exactly what the kernel-solver loop derives.
            got_yap, got_mvo, got_mao = _search_tackler(
                limits, *(g[c].to_numpy() for c in ("x", "y", "s", "a", "dir")),
                x_c, y_c, t, time_0, idx_start, direction,
            )
            checked += 1
            if ker_j is None:
                assert np.isnan(got_yap), (game, play, tackler)
            else:
                assert got_yap == ker_yap, (game, play, tackler)

            if ref_j == ker_j:
                if ref_j is None:
                    continue
                # Same intercept frame -> YAP depends only on recorded
                # carrier positions: exact at the 2 dp contract
                # (reference optimal_pursuit.py:560).
                assert abs(got_yap - ref_yap) <= 0.011, (
                    game, play, tackler, got_yap, ref_yap
                )
                # The optimal-path maxima DO carry solver values; the
                # reference's rtol=1e-3 RK45 (velocity directly,
                # acceleration through the Riccati-swept costate, where
                # the loose sweep tolerance amplifies to ~1% relative)
                # differs from the kernel's exact matrix-exponential
                # propagation by up to ~0.06 absolute on the O(5-10)
                # peaks (play 10005 observed) — solver noise, not
                # semantics: 0.1 absolute band.
                assert abs(got_mvo - ref_mvo) <= 0.1, (
                    game, play, tackler, got_mvo, ref_mvo
                )
                assert abs(got_mao - ref_mao) <= 0.1, (
                    game, play, tackler, got_mao, ref_mao
                )
            else:
                # Different first-feasible frame. Legitimate ONLY when the
                # disputed (earlier) frame sat razor-close to a
                # feasibility boundary, where the reference's own answer
                # is an artifact of its rtol=1e-3 integration error (e.g.
                # play 10027 frame 12: final radius 1.0028 ref vs 0.9945
                # exact against the R_t=1.0 threshold). Anything beyond
                # the noise band is a real semantic divergence and fails.
                js = [j for j in (ref_j, ker_j) if j is not None]
                j0 = min(js)
                margin = ref_margins.get(j0)
                assert margin is not None and abs(margin) <= 0.02, (
                    game, play, tackler, ref_j, ker_j, margin
                )
                boundary_flips.append((game, play, tackler, j0, margin))
    # one carrier + two tacklers per play; every tackler must be exercised
    assert checked == 2 * N_PLAYS
    # boundary flips must stay rare — the differential is meaningless if
    # a material share of the season sits on the feasibility knife-edge
    assert len(boundary_flips) <= checked * 0.05, boundary_flips


def test_rk45_replica_matches_exact_exponential_on_linear_system():
    """Sanity-pin the in-test integrator itself: on a pure linear system
    the RK45 replica must agree with the exact matrix-exponential answer
    to well within its own rtol."""
    rng_free_M = np.array([[0.0, 1.0], [-2.0, -0.3]])

    def f(_t, y):
        return rng_free_M @ y

    y0 = np.array([1.0, 0.5])
    t_eval = np.linspace(0.0, 2.0, 21)
    got = _rk45(f, 0.0, 2.0, y0, t_eval=t_eval)
    from nfl_big_data_bowl_2024_spark.kernels.lqr import _expm

    for k, tk in enumerate(t_eval):
        exact = _expm(rng_free_M * tk) @ y0
        # rtol=1e-3 PER-STEP error compounds to ~1% global over the
        # horizon — the same error class the differential test budgets for
        assert np.allclose(got[:, k], exact, rtol=2e-2, atol=5e-4)

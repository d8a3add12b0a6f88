"""Golden/property tests for the LQR pursuit solver (U2, kernels/lqr.py).

FIXTURES.md §A scenario 1 is the hand-checkable case: a pursuer starting
behind a stationary target (carrier-relative frame) with generous limits must
close to within R_t, with bounded velocity/acceleration along the way.
"""

from __future__ import annotations

import numpy as np

from nfl_big_data_bowl_2024_spark.kernels.lqr import _expm, _riccati_S0, solve_optimal_path


def test_expm_identity():
    assert np.allclose(_expm(np.zeros((4, 4))), np.eye(4))


def test_expm_nilpotent_analytic():
    # exp([[0, t], [0, 0]]) = [[1, t], [0, 1]] exactly
    for t in (0.1, 1.0, 7.3):
        M = np.array([[0.0, t], [0.0, 0.0]])
        assert np.allclose(_expm(M), np.array([[1.0, t], [0.0, 1.0]]), atol=1e-12)


def test_expm_diagonal_analytic():
    d = np.array([0.5, -1.2, 3.0])
    assert np.allclose(_expm(np.diag(d)), np.diag(np.exp(d)), atol=1e-10)


def test_expm_matches_series_random_like():
    # Deterministic non-normal matrix; compare against a long Taylor series.
    M = np.array([[0.2, 1.1, 0.0], [-0.4, 0.3, 0.9], [0.5, 0.0, -0.6]])
    S = np.eye(3)
    term = np.eye(3)
    for k in range(1, 40):
        term = term @ M / k
        S = S + term
    assert np.allclose(_expm(M), S, atol=1e-10)


def test_riccati_symmetric_psd():
    S_f = np.diag([2.0, 2.0, 0.0, 0.0])
    A = np.diag([0.0, 0.0, 0.08, 0.08])
    B_inv = np.diag([0.5, 0.5])
    S0 = _riccati_S0(S_f, A, B_inv, 2.5)
    assert np.allclose(S0, S0.T, atol=1e-9)
    eig = np.linalg.eigvalsh(S0)
    assert (eig > -1e-9).all()


def test_straight_line_pursuit_closes():
    # Pursuer 5 yd behind target (at origin), already moving toward it.
    t = np.arange(0, 2.01, 0.1)
    x, y, u, v, ax, ay = solve_optimal_path(
        -5.0, 0.0, 4.0, 0.0, t, V_max=5.6, A_max=4.2, R_t=1.0
    )
    assert len(x) == len(t)
    # Lateral channel stays identically zero (decoupled double integrator).
    assert np.allclose(y, 0.0, atol=1e-9)
    assert np.allclose(v, 0.0, atol=1e-9)
    # Terminal miss within the vicinity radius.
    assert abs(x[-1]) <= 1.0
    # Approach is monotone toward the target (no overshoot past it).
    assert x[0] == -5.0
    assert np.all(np.diff(x) > -1e-9)
    assert x[-1] <= 0.5


def test_pursuit_mirror_symmetry():
    # Mirroring the initial state across x -> trajectory mirrors exactly.
    t = np.arange(0, 1.51, 0.1)
    xp, yp, up, vp, axp, ayp = solve_optimal_path(-4.0, 1.0, 3.0, -0.5, t, 5.0, 3.9, 1.0)
    xm, ym, um, vm, axm, aym = solve_optimal_path(4.0, 1.0, -3.0, -0.5, t, 5.0, 3.9, 1.0)
    assert np.allclose(xp, -xm, atol=1e-9)
    assert np.allclose(yp, ym, atol=1e-9)
    assert np.allclose(axp, -axm, atol=1e-9)


def test_tighter_accel_limit_uses_less_accel():
    t = np.arange(0, 2.01, 0.1)
    _, _, _, _, ax_hi, ay_hi = solve_optimal_path(-5.0, 0.0, 0.0, 0.0, t, 5.6, 8.0, 1.0)
    _, _, _, _, ax_lo, ay_lo = solve_optimal_path(-5.0, 0.0, 0.0, 0.0, t, 5.6, 1.0, 1.0)
    peak_hi = np.max(np.hypot(ax_hi, ay_hi))
    peak_lo = np.max(np.hypot(ax_lo, ay_lo))
    assert peak_lo < peak_hi  # heavier accel penalty -> gentler control


def test_riccati_sweep_matches_per_call_integration():
    from nfl_big_data_bowl_2024_spark.kernels.lqr import RiccatiSweep, _weights

    S_f, A, B_inv = _weights(5.6, 4.2, 1.0)
    sweep = RiccatiSweep(5.6, 4.2, 1.0)
    for t_f in (1.0, 1.5, 2.5):  # >= 1 s so per-call h is also 0.005
        direct = _riccati_S0(S_f, A, B_inv, t_f)
        assert np.allclose(sweep.S0(t_f), direct, atol=1e-9), t_f


def test_sweep_path_matches_fresh_path():
    from nfl_big_data_bowl_2024_spark.kernels.lqr import RiccatiSweep

    t = np.arange(0, 2.01, 0.1)
    sweep = RiccatiSweep(5.6, 4.2, 1.0)
    a = solve_optimal_path(-5.0, 0.0, 4.0, 0.0, t, 5.6, 4.2, 1.0, sweep=sweep)
    b = solve_optimal_path(-5.0, 0.0, 4.0, 0.0, t, 5.6, 4.2, 1.0)
    for ax, bx in zip(a, b):
        assert np.allclose(ax, bx, atol=1e-9)


def test_shared_sweep_out_of_order_matches_fresh():
    """A shared sweep extended long-horizon-first, then short, with two keys
    interleaved, returns exactly what a fresh sweep returns."""
    from nfl_big_data_bowl_2024_spark.kernels.lqr import RiccatiSweep

    RiccatiSweep.shared.cache_clear()
    keys = [(5.6, 4.2, 1.0), (3.2, 2.4, 1.0)]
    for t_f in (3.0, 0.5, 2.2, 0.1, 3.4):
        for key in keys:
            got = RiccatiSweep.shared(*key).S0(t_f)
            assert np.array_equal(got, RiccatiSweep(*key).S0(t_f)), (key, t_f)
    assert RiccatiSweep.shared(*keys[0]) is RiccatiSweep.shared(*keys[0])
    assert RiccatiSweep.shared.cache_info().currsize == 2


def test_shared_sweep_concurrent_extension():
    """Threads extending the same shared sweeps concurrently never append a
    step twice or out of order, and the memo stays within its bound."""
    import random
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from nfl_big_data_bowl_2024_spark.kernels.lqr import RiccatiSweep

    RiccatiSweep.shared.cache_clear()
    keys = [(5.6, 4.2, 1.0), (5.0, 3.9, 1.0), (3.7, 2.8, 1.0), (3.2, 2.4, 1.0)]
    rng = random.Random(7)
    jobs = [(key, round(rng.uniform(0.1, 3.0), 1)) for _ in range(16) for key in keys]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futs = [pool.submit(lambda k, t: RiccatiSweep.shared(*k).S0(t), k, t) for k, t in jobs]
            got = [f.result(timeout=120) for f in futs]
    finally:
        sys.setswitchinterval(old)
    for (key, t_f), S in zip(jobs, got):
        assert np.array_equal(S, RiccatiSweep(*key).S0(t_f)), (key, t_f)
    for key in keys:
        sweep = RiccatiSweep.shared(*key)
        n_max = max(int(round(t / sweep.h)) for k, t in jobs if k == key)
        fresh = RiccatiSweep(*key)
        fresh.S0(n_max * sweep.h)
        assert len(sweep._grid) == n_max + 1
        assert all(np.array_equal(a, b) for a, b in zip(sweep._grid, fresh._grid))

    bound = RiccatiSweep.shared.cache_info().maxsize
    for i in range(bound + 4):
        RiccatiSweep.shared(4.0 + 0.1 * i, 3.0, 1.0)
    assert RiccatiSweep.shared.cache_info().currsize <= bound

"""LQR pursuit solver (SURVEY §2.8 U2) — pure numpy, no scipy.

Re-derivation of the reference's optimal-pursuit model (reference
optimal_pursuit.py:55-110): a double-integrator chase in the carrier-relative
frame with quadratic costs

    J = z(t_f)' S_f z(t_f) + ∫ z' A z + a' B a dt,
    z = [x, y, u, v],  S_f = diag(2/R_t², 2/R_t², 0, 0),
    A = diag(0, 0, 2/V_max², 2/V_max²),  B = diag(2/A_max², 2/A_max²).

Solution structure (standard finite-horizon LQR):
  1. Riccati sweep for S(0): dS/dτ = SF + F'S + A − S G B⁻¹ G' S integrated
     from S(τ=0) = S_f over the horizon (τ = time-to-go). The reference uses
     scipy RK45 with default (loose, 1e-3) tolerances; here a fixed-step RK4
     — deterministic across machines and accurate far beyond the 2dp output
     contract.
  2. λ(0) = S(0) z(0); the joint state/costate system d[z;λ]/dt = M [z;λ] is
     LINEAR TIME-INVARIANT, so instead of numerically integrating it (the
     reference's second solve_ivp) it is advanced EXACTLY with the matrix
     exponential: z(t_{k+1}) = expm(M Δt_k) z(t_k), Padé scaling-and-squaring.
  3. acceleration a(t) = −B⁻¹ G' λ(t).

Parity with the reference is by-construction at the model level and numeric
to well under the round-2dp output contract (SURVEY §7 hard-parts note).
"""

from __future__ import annotations

import functools
import threading

import numpy as np

_F = np.array(
    [[0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0], [0.0, 0.0, 0.0, 0.0], [0.0, 0.0, 0.0, 0.0]]
)
_G = np.array([[0.0, 0.0], [0.0, 0.0], [1.0, 0.0], [0.0, 1.0]])


def _expm(M: np.ndarray) -> np.ndarray:
    """Matrix exponential via Padé(13) scaling-and-squaring (Higham 2005)."""
    norm = np.linalg.norm(M, 1)
    s = max(0, int(np.ceil(np.log2(norm / 5.4))) if norm > 5.4 else 0)
    A = M / (2.0**s)
    b = [
        64764752532480000.0, 32382376266240000.0, 7771770303897600.0,
        1187353796428800.0, 129060195264000.0, 10559470521600.0,
        670442572800.0, 33522128640.0, 1323241920.0, 40840800.0,
        960960.0, 16380.0, 182.0, 1.0,
    ]
    n = A.shape[0]
    I = np.eye(n)
    A2 = A @ A
    A4 = A2 @ A2
    A6 = A4 @ A2
    U = A @ (
        A6 @ (b[13] * A6 + b[11] * A4 + b[9] * A2)
        + b[7] * A6 + b[5] * A4 + b[3] * A2 + b[1] * I
    )
    V = (
        A6 @ (b[12] * A6 + b[10] * A4 + b[8] * A2)
        + b[6] * A6 + b[4] * A4 + b[2] * A2 + b[0] * I
    )
    R = np.linalg.solve(V - U, V + U)
    for _ in range(s):
        R = R @ R
    return R


def _riccati_S0(S_f: np.ndarray, A: np.ndarray, B_inv: np.ndarray, t_f: float) -> np.ndarray:
    """Integrate the Riccati equation in time-to-go with fixed-step RK4."""
    GBG = _G @ B_inv @ _G.T

    def f(S: np.ndarray) -> np.ndarray:
        S = 0.5 * (S + S.T)
        SF = S @ _F
        return SF + SF.T + A - S @ GBG @ S

    n_steps = max(200, int(np.ceil(t_f / 0.005)))
    h = t_f / n_steps
    S = S_f.copy()
    for _ in range(n_steps):
        k1 = f(S)
        k2 = f(S + 0.5 * h * k1)
        k3 = f(S + 0.5 * h * k2)
        k4 = f(S + h * k3)
        S = S + (h / 6.0) * (k1 + 2 * k2 + 2 * k3 + k4)
    return 0.5 * (S + S.T)


def _weights(V_max: float, A_max: float, R_t: float):
    c_R = 2.0 / R_t**2
    alpha_V = 2.0 / V_max**2
    beta_A = 2.0 / A_max**2
    S_f = np.diag([c_R, c_R, 0.0, 0.0])
    A = np.diag([0.0, 0.0, alpha_V, alpha_V])
    B_inv = np.diag([1.0 / beta_A, 1.0 / beta_A])
    return S_f, A, B_inv


class RiccatiSweep:
    """Incremental Riccati integration in time-to-go, shared across horizons,
    tacklers and plays.

    The U1 search solves the SAME pursuit problem over ~30 increasing
    horizons t_f per tackler; S(0) for horizon t_f is simply the Riccati
    solution at tau = t_f, so ONE fixed-step sweep (extended lazily, states
    cached on the tau-grid) replaces a full re-integration per candidate —
    ~25x less Riccati work with identical step-h numerics. Horizons must be
    multiples of ``h``'s grid (frame times are 0.1 s-aligned; h=0.005).

    The sweep depends only on ``(V_max, A_max, R_t, h)`` — ``grid[n]`` and
    ``expm(M dt)`` are functions of that key alone — and the position-limit
    table holds only a handful of distinct (V_max_med, A_max_med) pairs, so
    the kernel fetches one process-wide sweep per key through ``shared``
    (a bounded LRU memo) instead of re-integrating per tackler: every
    tackler and play with the same limits reuses the grid already built.
    Grid extension is lock-guarded, so concurrent ``S0`` calls on a shared
    sweep never append the same step twice; reads of an already-built step
    take no lock.
    """

    def __init__(self, V_max: float, A_max: float, R_t: float, h: float = 0.005):
        S_f, A, B_inv = _weights(V_max, A_max, R_t)
        self.h = h
        self.A = A
        self.B_inv = B_inv
        self.GBG = _G @ B_inv @ _G.T
        # Joint state/costate generator d[z;lam]/dt = M [z;lam].
        self.M = np.block([[_F, -self.GBG], [-A, -_F.T]])
        self._grid = [S_f.copy()]
        self._lock = threading.Lock()
        # Propagator cache shared across calls: M is fixed per (V,A,R_t), so
        # expm(M dt) for the uniform 0.1 s frame spacing is computed once.
        self.expm_cache: dict[float, np.ndarray] = {}

    @staticmethod
    @functools.lru_cache(maxsize=16)
    def shared(V_max: float, A_max: float, R_t: float, h: float = 0.005) -> RiccatiSweep:
        """The process-wide sweep for this key (at most 16 kept)."""
        return RiccatiSweep(V_max, A_max, R_t, h)

    def _f(self, S: np.ndarray) -> np.ndarray:
        S = 0.5 * (S + S.T)
        SF = S @ _F
        return SF + SF.T + self.A - S @ self.GBG @ S

    def _extend(self, n: int) -> None:
        h = self.h
        with self._lock:
            while len(self._grid) <= n:
                S = self._grid[-1]
                k1 = self._f(S)
                k2 = self._f(S + 0.5 * h * k1)
                k3 = self._f(S + 0.5 * h * k2)
                k4 = self._f(S + h * k3)
                self._grid.append(S + (h / 6.0) * (k1 + 2 * k2 + 2 * k3 + k4))

    def S0(self, t_f: float) -> np.ndarray:
        n = int(round(t_f / self.h))
        if len(self._grid) <= n:
            self._extend(n)
        S = self._grid[n]
        return 0.5 * (S + S.T)


def solve_optimal_path(
    x_0: float,
    y_0: float,
    u_0: float,
    v_0: float,
    t: np.ndarray,
    V_max: float,
    A_max: float,
    R_t: float,
    sweep: RiccatiSweep | None = None,
):
    """Optimal pursuit trajectory sampled at times ``t`` (t[0] == 0).

    Returns (x, y, u, v, acc_x, acc_y) arrays of len(t), matching the
    reference solver's contract (reference optimal_pursuit.py:55-110).
    Pass a ``RiccatiSweep`` to amortize the backward sweep across repeated
    calls with growing horizons (the U1 search pattern); the sweep then also
    supplies the weights, the state/costate matrix and the propagator cache,
    so it must have been built for the same (V_max, A_max, R_t).
    """
    t = np.asarray(t, dtype=float)
    t_f = float(t[-1])

    if sweep is not None:
        S_0 = sweep.S0(t_f)
        B_inv, M = sweep.B_inv, sweep.M
        cache = sweep.expm_cache
    else:
        S_f, A, B_inv = _weights(V_max, A_max, R_t)
        S_0 = _riccati_S0(S_f, A, B_inv, t_f)
        M = np.block([[_F, -(_G @ B_inv @ _G.T)], [-A, -_F.T]])
        cache = {}
    z_0 = np.array([x_0, y_0, u_0, v_0])
    lam_0 = S_0 @ z_0

    out = np.empty((8, len(t)))
    state = np.concatenate([z_0, lam_0])
    out[:, 0] = state
    # Advance exactly with expm over each (possibly non-uniform) interval;
    # cache the propagator since tracking frames are uniformly 0.1 s apart.
    # A shared sweep's cache needs no lock: racing threads store the same
    # expm(M dt) under the same key.
    for k in range(1, len(t)):
        dt = round(float(t[k] - t[k - 1]), 9)
        E = cache.get(dt)
        if E is None:
            E = _expm(M * dt)
            cache[dt] = E
        state = E @ state
        out[:, k] = state

    x, y, u, v = out[0], out[1], out[2], out[3]
    lam = out[4:]
    acc = -B_inv @ (_G.T @ lam)
    return x, y, u, v, acc[0], acc[1]

"""Per-series additive time-series model (SURVEY M1-M3).

The reference fits one default-config ``Prophet()`` per numeric column
(forecast_script.py:171-177) and predicts ``yhat / yhat_lower / yhat_upper``
over history ∪ `interval` future days. Prophet's default is an additive model:
piecewise-linear trend + weekly/yearly Fourier seasonalities, MAP-fit, with an
80% uncertainty interval.

This module provides the same contract with a swappable backend:

- ``prophet`` backend when the library is importable (same defaults the
  reference uses);
- ``fourier_ridge`` backend otherwise (always available): deterministic
  ridge regression on [intercept, linear trend, weekly Fourier (k=3),
  yearly Fourier (k=10)] with an 80% residual-quantile interval. This is the
  documented surrogate of SURVEY §7.5 — same model family as Prophet's MAP
  fit minus changepoints, fully deterministic, no native deps.

Both backends are **driver-free**: they run inside ``mapInPandas`` workers,
many whole (table, metric) series per partition, fitted batched (see
forecaster.py and ``batched_fit_predict_long``). One partition of series
must fit one worker's memory; the distributed win is that thousands of
series fit in parallel.
"""

from __future__ import annotations

import ctypes
import functools
import glob
import logging
import os
import threading
from contextlib import contextmanager

import numpy as np
import pandas as pd

try:  # pragma: no cover - environment-dependent
    from prophet import Prophet  # noqa: F401

    HAVE_PROPHET = True
except Exception:  # pragma: no cover
    HAVE_PROPHET = False

# Prophet's default interval_width=0.80 -> 10%/90% quantiles.
INTERVAL_LO_Q = 0.10
INTERVAL_HI_Q = 0.90
# tiny ridge term: numerical conditioning only (lstsq handles the rest);
# anything large visibly shrinks trend/seasonal amplitudes
_RIDGE_ALPHA = 1e-6
# Fourier orders of the seasonalities: Prophet's defaults
WEEKLY_ORDER = 3
YEARLY_ORDER = 10

logger = logging.getLogger("clickhouse_forecasting_spark")


@functools.lru_cache(maxsize=1)
def _openblas_thread_calls():
    """(get, set) thread-count calls of the OpenBLAS numpy links, or None.

    numpy's wheels ship OpenBLAS in ``numpy.libs``; the library is already
    loaded, so ``CDLL`` returns the live handle. The 64-bit-integer build
    suffixes its symbols with ``64_``."""
    libs = os.path.join(os.path.dirname(np.__file__), os.pardir, "numpy.libs")
    for path in sorted(glob.glob(os.path.join(libs, "*openblas*.so*"))):
        try:
            lib = ctypes.CDLL(path)
        except OSError:
            continue
        for prefix in ("openblas", "scipy_openblas"):
            for suffix in ("64_", ""):
                try:
                    get = getattr(lib, f"{prefix}_get_num_threads{suffix}")
                    set_ = getattr(lib, f"{prefix}_set_num_threads{suffix}")
                except AttributeError:
                    continue
                get.argtypes, get.restype = [], ctypes.c_int
                set_.argtypes, set_.restype = [ctypes.c_int], None
                return get, set_
    logger.info("no OpenBLAS thread control found; BLAS thread count left as is")
    return None


class _SingleBlasThread:
    """Process-wide OpenBLAS pin to one thread, re-entrant across threads:
    the first entry saves the count and sets 1, the last exit restores it.

    LAPACK's least-squares solve returns different last-ulp coefficients
    for one BLAS thread and for several, so a fit must run at the thread
    count Spark's Python workers use (``OMP_NUM_THREADS=1``) for an
    in-process fit to reproduce a worker's output bit for bit."""

    def __init__(self):
        self._lock = threading.Lock()
        self._depth = 0
        self._saved = 1

    @contextmanager
    def __call__(self):
        calls = _openblas_thread_calls()
        if calls is None:
            yield
            return
        get, set_ = calls
        with self._lock:
            if self._depth == 0:
                self._saved = get()
                if self._saved != 1:
                    set_(1)
            self._depth += 1
        try:
            yield
        finally:
            with self._lock:
                self._depth -= 1
                if self._depth == 0 and self._saved != 1:
                    set_(self._saved)


single_blas_thread = _SingleBlasThread()


class AdditiveForecastModel:
    """Deterministic additive model: trend + weekly/yearly Fourier seasonality.

    fit() on a (ds, y) frame; predict() on a ds axis returns
    (ds, yhat, yhat_lower, yhat_upper). Seasonality terms auto-enable by
    history span like Prophet: weekly needs >=14 days, yearly >=370 days.
    """

    def __init__(self):
        self._beta: np.ndarray | None = None
        self._t0: pd.Timestamp | None = None
        self._scale_days: float = 1.0
        self._resid_lo: float = 0.0
        self._resid_hi: float = 0.0
        self._weekly_on = False
        self._yearly_on = False

    def _design(self, ds: pd.Series) -> np.ndarray:
        days = (ds - self._t0).dt.total_seconds().to_numpy() / 86400.0
        t = days / self._scale_days
        cols = [np.ones_like(t), t]
        if self._weekly_on:
            for k in range(1, WEEKLY_ORDER + 1):
                w = 2.0 * np.pi * k * days / 7.0
                cols.append(np.sin(w))
                cols.append(np.cos(w))
        if self._yearly_on:
            for k in range(1, YEARLY_ORDER + 1):
                w = 2.0 * np.pi * k * days / 365.25
                cols.append(np.sin(w))
                cols.append(np.cos(w))
        return np.column_stack(cols)

    def fit(self, df: pd.DataFrame) -> "AdditiveForecastModel":
        history = df.dropna(subset=["y"]).copy()
        if len(history) < 2:
            raise ValueError("need >=2 observations to fit")  # Prophet raises here too
        ds = pd.to_datetime(history["ds"])
        y = history["y"].to_numpy(dtype=np.float64)
        self._fit_axis(ds)
        self._fit_y(y)
        return self

    def _fit_axis(self, ds: pd.Series) -> None:
        """Date-axis-only half of fit(): t0/scale/seasonality flags and the
        (augmented) design matrix. Split out so the batched partition fitter
        can share ONE design matrix across every series on the same axis —
        the matrices depend only on ds, never on y."""
        self._t0 = ds.min()
        span = max((ds.max() - self._t0).total_seconds() / 86400.0, 1.0)
        self._scale_days = span
        self._weekly_on = span >= 14
        self._yearly_on = span >= 370
        X = self._design(ds)
        # ridge via augmented least-squares: deterministic, well-conditioned
        n_feat = X.shape[1]
        aug = np.sqrt(_RIDGE_ALPHA) * np.eye(n_feat)
        aug[0, 0] = 0.0  # don't shrink the intercept
        self._X = X
        self._Xa = np.vstack([X, aug])

    def _fit_y(self, y: np.ndarray) -> None:
        """Per-series half of fit(): the lstsq solve + residual quantiles,
        against the axis matrices _fit_axis prepared. Kept as per-series
        single-RHS lstsq ON PURPOSE: LAPACK's multi-RHS gelsd applies the
        shared SVD through GEMM instead of GEMV, which differs in the last
        ulp from the single-RHS path — batching must not change output bits
        (the rows-only registry hashes and the batched==per-series test pin
        this), and the solve is microseconds next to the shared axis work."""
        n_feat = self._Xa.shape[1]
        ya = np.concatenate([y, np.zeros(n_feat)])
        self._beta, *_ = np.linalg.lstsq(self._Xa, ya, rcond=None)
        resid = y - self._X @ self._beta
        self._resid_lo = float(np.quantile(resid, INTERVAL_LO_Q))
        self._resid_hi = float(np.quantile(resid, INTERVAL_HI_Q))

    def predict(self, future: pd.DataFrame) -> pd.DataFrame:
        ds = pd.to_datetime(future["ds"])
        X = self._design(ds)
        yhat = X @ self._beta
        return pd.DataFrame(
            {
                "ds": ds,
                "yhat": yhat,
                "yhat_lower": yhat + self._resid_lo,
                "yhat_upper": yhat + self._resid_hi,
            }
        )


def make_future_axis(history_ds: pd.Series, periods: int) -> pd.DataFrame:
    """Prophet's make_future_dataframe semantics (forecast_script.py:174):
    sorted unique history dates + `periods` daily steps after max."""
    ds = pd.to_datetime(pd.Series(history_ds)).dropna()
    hist = ds.drop_duplicates().sort_values()
    last = hist.max()
    fut = pd.date_range(last, periods=periods + 1, freq="D")[1:]
    return pd.DataFrame({"ds": pd.concat([hist, pd.Series(fut)], ignore_index=True)})


@single_blas_thread()
def fit_predict_frame(
    pdf: pd.DataFrame,
    periods: int,
    only_future: bool = False,
    backend: str = "auto",
) -> pd.DataFrame:
    """Fit one series and score the extended axis — the worker-side body of
    the distributed forecaster. Input columns: ds, y. Output: ds, yhat,
    yhat_lower, yhat_upper.

    only_future keeps rows strictly after max(history ds)
    (forecast_script.py:175-176).
    """
    use_prophet = backend == "prophet" or (backend == "auto" and HAVE_PROPHET)
    history = pdf.dropna(subset=["y"])
    future = make_future_axis(history["ds"], periods)
    last_known = pd.to_datetime(history["ds"]).max()
    if only_future:
        future = future[future["ds"] > last_known]
    if use_prophet:  # pragma: no cover - only when prophet installed
        from prophet import Prophet

        m = Prophet()
        m.fit(history.rename(columns={})[["ds", "y"]])
        out = m.predict(future)[["ds", "yhat", "yhat_lower", "yhat_upper"]]
        return out
    model = AdditiveForecastModel().fit(history)
    return model.predict(future)


@single_blas_thread()
def batched_fit_predict_long(
    pdf: pd.DataFrame,
    key_cols: list[str],
    periods: int,
    only_future: bool = False,
    backend: str = "auto",
) -> pd.DataFrame:
    """Fit EVERY series in one partition frame, sharing per-axis work.

    This is the worker body of SeriesForecaster.transform_long (r8 VERDICT
    task #1): the per-group applyInPandas path spent ~6.6 ms of pure pandas
    overhead per series (to_datetime, dropna, future-axis build, design
    matrix, output-frame construction) while the lstsq itself is
    microseconds. Series that share one date axis — the dominant case: one
    table's metrics, one generator's series, one backtest cutoff — share
    t0/scale/seasonality flags, the (augmented) design matrix, the future
    axis, and the prediction design, so all of that is computed ONCE per
    distinct axis ("bucket") and only the single-RHS lstsq + two GEMVs +
    residual quantiles run per series.

    Bit-for-bit contract: for every series this emits EXACTLY the bytes the
    per-series ``fit_predict_frame`` path emits (pinned by
    tests/test_forecast.py::test_batched_matches_per_series_bit_for_bit).
    That is why the solve stays single-RHS (see AdditiveForecastModel._fit_y)
    and why any series the shared path cannot prove clean — <2 observations,
    NaT dates, non-finite y, a Prophet backend, or an unexpected solver
    error — falls back to ``fit_predict_frame`` itself per series (M4 fault
    isolation unchanged: a poisoned series contributes no rows and fails
    alone, forecast_script.py:170,196-198).

    Input: long frame (key_cols..., ds, y). Output: (key_cols..., ds
    [datetime.date], yhat, yhat_lower, yhat_upper), ready for Arrow.

    Both fit entry points run with OpenBLAS pinned to one thread (see
    ``single_blas_thread``), so an in-process call matches a Spark
    worker's output bit for bit whatever the caller's thread count.
    """
    out_cols = [*key_cols, "ds", "yhat", "yhat_lower", "yhat_upper"]
    empty = pd.DataFrame({c: pd.Series(dtype=object) for c in out_cols})
    if len(pdf) == 0:
        return empty
    use_prophet = backend == "prophet" or (backend == "auto" and HAVE_PROPHET)

    def _per_series(sub: pd.DataFrame, key_vals: tuple) -> pd.DataFrame | None:
        # the reference path, one series — byte-identical by definition
        try:
            res = fit_predict_frame(
                sub[["ds", "y"]], periods, only_future=only_future, backend=backend
            )
        except Exception:
            return None  # M4: failed series contributes no rows
        for c, v in zip(key_cols, key_vals):
            res[c] = v
        res["ds"] = pd.to_datetime(res["ds"]).dt.date
        return res[out_cols]

    frames: list[pd.DataFrame] = []
    # whole-partition vectorized prep, sliced per group with numpy (a
    # per-group pandas .iloc/.notna/.to_numpy round was ~0.5 ms/series —
    # the overhead this batching exists to remove)
    try:
        ds64_np = pd.to_datetime(pdf["ds"]).to_numpy()  # ONE parse per partition
        notna_np = pdf["y"].notna().to_numpy()  # == dropna(subset=["y"]) mask
        # pandas astype maps None->NaN like the reference's post-dropna
        # to_numpy(float64); for float64 input it is the values array itself
        y_np = pdf["y"].astype("float64", copy=False).to_numpy()
    except Exception:
        # the whole-partition parse/cast is poisoned by ONE series
        # (unreachable through transform_long — Spark types ds/y — but a
        # direct caller can hand an object-dtype frame with one bad
        # series); fall back to per-series fits for the PARTITION so the
        # M4 contract holds: the bad series fails ALONE, its co-located
        # neighbors still forecast (ADVICE r9).
        grouped = pdf.groupby(list(key_cols), sort=False, dropna=False)
        for key_vals, ix in grouped.indices.items():
            if not isinstance(key_vals, tuple):
                key_vals = (key_vals,)
            res = _per_series(pdf.iloc[ix], key_vals)
            if res is not None and len(res):
                frames.append(res)
        if not frames:
            return empty
        return pd.concat(frames, ignore_index=True)[out_cols]
    # axis-bytes -> (hist ds64 array, [(key_vals, y array), ...])
    buckets: dict[bytes, tuple[np.ndarray, list[tuple[tuple, np.ndarray]]]] = {}
    grouped = pdf.groupby(list(key_cols), sort=False, dropna=False)
    for key_vals, ix in grouped.indices.items():
        if not isinstance(key_vals, tuple):
            key_vals = (key_vals,)
        mask = notna_np[ix]
        hist_ds = ds64_np[ix][mask]
        hist_y = y_np[ix][mask]
        clean = (
            not use_prophet
            and len(hist_y) >= 2
            and not np.isnat(hist_ds).any()
            and bool(np.isfinite(hist_y).all())
        )
        if not clean:
            res = _per_series(pdf.iloc[ix], key_vals)
            if res is not None and len(res):
                frames.append(res)
            continue
        axis_key = hist_ds.tobytes()
        if axis_key not in buckets:
            buckets[axis_key] = (hist_ds, [])
        buckets[axis_key][1].append((key_vals, hist_y))

    for hist_ds, series_list in buckets.values():
        # shared per-axis work — identical values to what each per-series
        # fit would compute, because it depends on ds only
        ds_ser = pd.Series(hist_ds)
        model = AdditiveForecastModel()
        model._fit_axis(ds_ser)
        future = make_future_axis(ds_ser, periods)
        if only_future:
            future = future[future["ds"] > ds_ser.max()]
        fut_ds = pd.to_datetime(future["ds"])
        Xp = model._design(fut_ds)
        out_ds = fut_ds.dt.date.to_numpy()
        n_out = len(out_ds)
        yhats, lowers, uppers, done_keys = [], [], [], []
        for key_vals, y in series_list:
            try:
                model._fit_y(y)
                yhat = Xp @ model._beta
            except Exception:
                # solver failure: replay the reference path for THIS series
                # alone so observable behavior (usually: no rows) matches
                res = _per_series(
                    pd.DataFrame({"ds": hist_ds, "y": y}), key_vals
                )
                if res is not None and len(res):
                    frames.append(res)
                continue
            yhats.append(yhat)
            lowers.append(yhat + model._resid_lo)
            uppers.append(yhat + model._resid_hi)
            done_keys.append(key_vals)
        if not done_keys:
            continue
        data: dict[str, np.ndarray] = {}
        for i, c in enumerate(key_cols):
            data[c] = np.repeat(
                np.array([kv[i] for kv in done_keys], dtype=object), n_out
            )
        data["ds"] = np.tile(out_ds, len(done_keys))
        data["yhat"] = np.concatenate(yhats)
        data["yhat_lower"] = np.concatenate(lowers)
        data["yhat_upper"] = np.concatenate(uppers)
        frames.append(pd.DataFrame(data))

    if not frames:
        return empty
    return pd.concat(frames, ignore_index=True)[out_cols]

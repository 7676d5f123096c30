"""External-service operators: astrometric (WCS) solve + time-scale math.

Reference ``get_wcs`` (core.py:486-529) posts the 30 brightest star
positions to the astrometry.net web service, with a 600 s timeout and a
resume-on-retry loop (core.py:511-522). Engine form:

- the top-30 selection and the retry loop are one numpy-level function
  (:func:`solve_top_stars`), called per epoch by the CLI's per-epoch
  kernel and by :func:`solve_wcs`, a grouped ``applyInPandas`` adapter
  (one row per image set, so the Python crossing is negligible), with
  bounded exponential-backoff retries;
- the transport is injectable: tests and this container use a
  deterministic fake solver (no network); production passes a real
  astrometry.net client. Results should be written to a cache table and
  re-joined — idempotent per image (SURVEY.md §7 'what's hard' #4).

Also here: the pixel→sky transform (core.py:526) as a vectorized kernel
over the solved WCS, and a barycentric JD approximation (p_io.py:55) —
the full saphires/astropy ephemeris correction is not available in this
container, so the light-travel-time term uses the circular-orbit Earth
model (public textbook formula, accurate to ~±2 s; the interface is the
thing being engineered here, and swapping in astropy changes one
function).
"""

from __future__ import annotations

import math
import time
from collections.abc import Callable, Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

WCS_SCHEMA = T.StructType([
    T.StructField("epoch_id", T.IntegerType(), False),
    T.StructField("crval_ra", T.DoubleType(), True),
    T.StructField("crval_dec", T.DoubleType(), True),
    T.StructField("pix_scale", T.DoubleType(), True),   # deg/px
    T.StructField("solved", T.BooleanType(), False),
    T.StructField("attempts", T.IntegerType(), False),
])


def fake_solver(xs: list[float], ys: list[float]) -> dict:
    """Deterministic stand-in for the astrometry.net API: derives a
    plausible WCS from the star list itself (tests can predict it)."""
    return {
        "crval_ra": 150.0 + float(np.mean(xs)) * 1e-4,
        "crval_dec": 2.0 + float(np.mean(ys)) * 1e-4,
        "pix_scale": 1.0 / 3600.0,
    }


def solve_top_stars(
    x: np.ndarray,
    y: np.ndarray,
    flux: np.ndarray,
    ids: np.ndarray,
    solver: Callable[[list[float], list[float]], dict] = fake_solver,
    top_n: int = 30,
    max_attempts: int = 3,
    base_backoff_s: float = 0.01,
) -> dict:
    """WCS solve of one image set over its ``top_n`` brightest stars.

    The positions go to the solver brightest first (ties by id; the
    reference slices ``[:30]`` at core.py:514); the call retries with
    exponential backoff (reference's resume loop, core.py:511-522). A
    failure yields ``solved=False``, never an exception (failure-path
    rule, SURVEY.md §7 #6). Returns the WCS_SCHEMA fields other than
    ``epoch_id``."""
    top = np.lexsort((ids, -flux))[:top_n]
    xs, ys = [float(v) for v in x[top]], [float(v) for v in y[top]]
    attempts, sol = 0, None
    while attempts < max_attempts and sol is None:
        attempts += 1
        try:
            sol = solver(xs, ys)
        except Exception:
            time.sleep(base_backoff_s * 2 ** (attempts - 1))
    if sol is None:
        return {"crval_ra": None, "crval_dec": None, "pix_scale": None,
                "solved": False, "attempts": attempts}
    return {**sol, "solved": True, "attempts": attempts}


def solve_wcs(
    detections: DataFrame,
    solver: Callable[[list[float], list[float]], dict] = fake_solver,
    top_n: int = 30,
    max_attempts: int = 3,
    base_backoff_s: float = 0.01,
) -> DataFrame:
    """Per-epoch :func:`solve_top_stars`, one WCS_SCHEMA row per epoch."""
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        sol = solve_top_stars(
            pdf["xcentroid"].to_numpy(np.float64),
            pdf["ycentroid"].to_numpy(np.float64),
            pdf["flux"].to_numpy(np.float64), pdf["id"].to_numpy(),
            solver, top_n, max_attempts, base_backoff_s)
        return pd.DataFrame([{"epoch_id": int(pdf["epoch_id"].iloc[0]), **sol}],
                            columns=WCS_SCHEMA.names)

    return (detections.select("epoch_id", "id", "xcentroid", "ycentroid", "flux")
            .groupBy("epoch_id").applyInPandas(kernel, schema=WCS_SCHEMA))


def solve_wcs_cached(
    spark,
    detections: DataFrame,
    cache_path: str,
    solver: Callable[[list[float], list[float]], dict] = fake_solver,
    **solve_kwargs,
) -> DataFrame:
    """Idempotent WCS solve against a parquet cache table (the
    cache-and-re-join design SURVEY.md §7 #4 calls for — the external
    service is slow, rate-limited and paid-per-call, so an epoch must
    never be re-submitted once solved).

    Epochs already present in the cache with ``solved=true`` are
    anti-joined out before the service is called; fresh SOLVED results
    are appended to the cache (failures are returned but NOT cached, so
    the next run retries them); the return value is the full cache
    union fresh-failures — the per-epoch WCS dim table ``pixel_to_sky``
    broadcasts. The solver seam is unchanged: pass
    ``make_nova_solver(api_key)`` (operators/astrometry_client.py) for
    the real astrometry.net transport, or leave the deterministic fake.
    """
    try:
        cached = spark.read.parquet(cache_path)
        have_cache = True
    except Exception:  # first run: no cache table yet
        cached = spark.createDataFrame([], WCS_SCHEMA)
        have_cache = False

    todo = detections.join(
        cached.filter(F.col("solved")).select("epoch_id").distinct(),
        "epoch_id", "left_anti")
    # materialize EXACTLY ONE execution of the external-service stage:
    # reusing the lazy plan across write + filters would re-invoke the
    # paid solver per consumer. One row per epoch — bounded driver state.
    rows = solve_wcs(todo, solver=solver, **solve_kwargs).collect()
    fresh = spark.createDataFrame(rows, WCS_SCHEMA)
    solved_new = fresh.filter(F.col("solved"))
    if rows and any(r["solved"] for r in rows):
        solved_new.write.mode("append").parquet(cache_path)
        have_cache = True
    failures = fresh.filter(~F.col("solved"))
    base = spark.read.parquet(cache_path) if have_cache else cached
    return base.unionByName(failures)


def pixel_to_sky(detections: DataFrame, wcs: DataFrame,
                 ref_px: float = 64.0) -> DataFrame:
    """(x, y) → (ra, dec) via the solved tangent-plane WCS (reference
    ``w.pixel_to_world`` over all rows, core.py:526). The WCS table is a
    per-epoch broadcast dim; the transform itself is a column expression
    (small-angle tangent plane) — no UDF, fully codegen'd."""
    j = detections.join(F.broadcast(wcs.filter(F.col("solved"))), "epoch_id")
    cosd = F.cos(F.radians(F.col("crval_dec")))
    return j.select(
        "epoch_id", "id",
        (F.col("crval_ra")
         + (F.col("xcentroid") - ref_px) * F.col("pix_scale") / cosd).alias("ra"),
        (F.col("crval_dec")
         + (F.col("ycentroid") - ref_px) * F.col("pix_scale")).alias("dec"),
    )


def _approx_bjd(jd: np.ndarray, ra: np.ndarray, dec: np.ndarray) -> np.ndarray:
    """Romer delay, circular Earth-orbit approximation:
    Δt = (a/c)·cos(β)·cos(λ_sun - λ) with ecliptic target coords —
    textbook formula, ~±2 s vs full ephemeris. Returns BJD on the UTC
    timeline (jd_utc + delay)."""
    AU_C_DAYS = 499.00478 / 86400.0          # light time for 1 au, days
    EPS = math.radians(23.4393)              # obliquity
    ra = np.radians(ra)
    dec = np.radians(dec)
    # ecliptic coords of target
    sinb = np.sin(dec) * math.cos(EPS) - np.cos(dec) * math.sin(EPS) * np.sin(ra)
    beta = np.arcsin(sinb)
    lam = np.arctan2(np.sin(ra) * math.cos(EPS) + np.tan(dec) * math.sin(EPS),
                     np.cos(ra))
    # mean solar ecliptic longitude (low-precision, Meeus ch. 25)
    n = jd - 2451545.0
    lam_sun = np.radians((280.460 + 0.9856474 * n) % 360.0)
    delay = AU_C_DAYS * np.cos(beta) * np.cos(lam_sun - lam)
    return jd + delay


def _exact_bjd(jd: np.ndarray, ra: np.ndarray, dec: np.ndarray) -> np.ndarray:
    """Full-ephemeris barycentric light-travel time via astropy
    (Time.light_travel_time with the built-in solar-system ephemeris) —
    the saphires-grade correction the reference gets from ``brvc``
    (p_io.py:55). Geocentric observer (observatory-vs-geocenter differs
    by <21 ms); returned on the UTC timeline like :func:`_approx_bjd`
    so the two paths are directly interchangeable (BJD_TDB = add the
    TDB-UTC scale shift, ~69 s, a separate concern)."""
    import astropy.units as u
    from astropy.coordinates import EarthLocation, SkyCoord
    from astropy.time import Time

    loc = EarthLocation.from_geocentric(0 * u.m, 0 * u.m, 0 * u.m)
    t = Time(jd, format="jd", scale="utc", location=loc)
    sc = SkyCoord(ra=ra * u.deg, dec=dec * u.deg)
    ltt = t.light_travel_time(sc, kind="barycentric")
    return np.asarray((t + ltt).jd, dtype=np.float64)


def _bjd_udfs() -> dict:
    """The two BJD pandas UDFs, by name. A pandas UDF needs pandas when
    it is made, and the CLI's workers import this module without it, so
    they are made on first access (the module ``__getattr__`` below)."""
    import pandas as pd

    def barycentric_jd(jd_utc, ra_deg, dec_deg):
        """JD → BJD light-travel-time correction. Reference delegates to
        saphires ``brvc`` (p_io.py:55); here the circular-orbit
        approximation (±2 s) — see :func:`barycentric_jd_exact` for the
        astropy-ephemeris dispatch."""
        return pd.Series(_approx_bjd(jd_utc.to_numpy(dtype=np.float64),
                                     ra_deg.to_numpy(dtype=np.float64),
                                     dec_deg.to_numpy(dtype=np.float64)))

    def barycentric_jd_exact(jd_utc, ra_deg, dec_deg):
        """Exact-ephemeris BJD when astropy is installed (the same
        codec-dispatch pattern as sources/fits.py: real library when
        present, deterministic approximation otherwise). Each Arrow batch
        dispatches on the EXECUTOR, so a heterogeneous cluster degrades
        per-node rather than failing the job."""
        jd = jd_utc.to_numpy(dtype=np.float64)
        ra = ra_deg.to_numpy(dtype=np.float64)
        dec = dec_deg.to_numpy(dtype=np.float64)
        try:
            import astropy  # noqa: F401  pragma: no cover (absent here)
        except ImportError:
            return pd.Series(_approx_bjd(jd, ra, dec))
        return pd.Series(_exact_bjd(jd, ra, dec))

    udfs = {}
    for fn in (barycentric_jd, barycentric_jd_exact):
        # Series -> Series type hints make each a scalar pandas UDF
        fn.__annotations__ = dict.fromkeys(
            ("jd_utc", "ra_deg", "dec_deg", "return"), pd.Series)
        udfs[fn.__name__] = F.pandas_udf(fn, T.DoubleType())
    return udfs


def __getattr__(name: str):
    """``barycentric_jd`` and ``barycentric_jd_exact``, made once, on
    first access (PEP 562), so ``from .external import barycentric_jd``
    works as for any module attribute."""
    if name in ("barycentric_jd", "barycentric_jd_exact"):
        globals().update(_bjd_udfs())
        return globals()[name]
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")

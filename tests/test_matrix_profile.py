"""Matrix-profile family (timeseries_matrix_profile, _join, motif_topk,
discord_topk): Spark against the registered DuckDB oracle on tiny
adversarial hourly series.

The random-series property tests check the oracle SQL against a numpy
twin without Spark; the parity suite checks Spark against the oracle on
the fixtures only, whose series never hold a constant day, an exact
repeat or a series just past the window. These fixtures do, one event
per hour, so the hourly compression reproduces each series verbatim:

- a constant day: zero variance, so its distances are NULL and the
  subsequence drops out of every output;
- a day repeated exactly three times: equal integer statistics give
  bit-equal distances, so the argmin tie goes to the smallest index;
- a series one hour longer than m + MP_EXCL_H: a handful of pairs, and
  an AB-join with no reference subsequence at all;
- a block of hours whose values are all NULL: NULL cents, so a window's
  cross product can be a sum over no value (NULL, which greatest(0, ..)
  turns into a 0.0 distance on both engines);
- hourly cents around 10^12 that spread as widely: window variances
  (m*Q - S^2) past int64, so the driver-side kernel takes its Python-int
  path (int64 wrap-around stays exact only while the result fits).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from go_batch_processor_spark.operators.timeseries import (
    MP_EXCL_H,
    MP_WINDOW_H,
)
from go_batch_processor_spark.registry import REGISTRY, _ensure_loaded
from tests.parity import assert_frames_match

_ensure_loaded()

MP_KEYS = (
    "timeseries_matrix_profile",
    "timeseries_matrix_profile_join",
    "timeseries_motif_topk",
    "timeseries_discord_topk",
)


def _day(seed: int) -> list[int]:
    # deterministic non-constant day of cents (LCG), no numpy RNG state
    out, x = [], seed
    for _ in range(MP_WINDOW_H):
        x = (1103515245 * x + 12345) % 2**31
        out.append(x % 5000)
    return out


SERIES = {
    "constant_day_and_exact_repeats": (
        _day(1) + [700] * MP_WINDOW_H + _day(1) + _day(2) + _day(1)
    ),
    "one_hour_past_window_plus_exclusion": _day(3)
    + _day(4)[: MP_EXCL_H + 1],
    "null_hours": _day(1) + [None] * 30 + _day(2) + _day(1),
    "huge_cents": [
        10**12 + 10**9 * c for c in _day(5) + _day(6) + _day(5) + _day(7)
    ],
}


def _write_events(d, cents: list) -> None:
    ts = pd.date_range("2024-01-01", periods=len(cents), freq="h")
    pd.DataFrame(
        {
            "event_id": range(len(cents)),
            "ts": ts.astype("datetime64[us]"),
            "value": [None if c is None else c / 100.0 for c in cents],
        }
    ).to_parquet(d / "events.parquet")


@pytest.mark.parametrize("name", sorted(SERIES))
def test_family_matches_oracle_on_adversarial_series(spark, tmp_path, name):
    cents = SERIES[name]
    if name.startswith("one_hour"):
        assert len(cents) == MP_WINDOW_H + MP_EXCL_H + 1
    _write_events(tmp_path, cents)
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{tmp_path / 'events.parquet'}'"
    )
    got = {}
    for key in MP_KEYS:
        spark_pdf = REGISTRY[key].fn(spark, str(tmp_path)).toPandas()
        oracle_pdf = con.sql(REGISTRY[key].oracle).df()
        assert_frames_match(spark_pdf, oracle_pdf, name=f"{name}/{key}")
        got[key] = spark_pdf
    con.close()

    prof = got["timeseries_matrix_profile"].set_index("i")
    if name.startswith("constant"):
        # the constant day starts at i = 25: zero variance, no row
        assert MP_WINDOW_H + 1 not in prof.index
        # day 1 recurs at i = 49 and i = 97: two exact-zero neighbours
        # of i = 1, and the tie goes to the smaller index
        assert prof.loc[1, "mp_dist"] == 0.0
        assert prof.loc[1, "nn_idx"] == 2 * MP_WINDOW_H + 1
        assert prof.loc[4 * MP_WINDOW_H + 1, "nn_idx"] == 1
    elif name.startswith("one_hour"):
        # 14 subsequences, pairs only at d = 12 and d = 13
        assert sorted(prof.index) == [1, 2, 13, 14]
        assert got["timeseries_matrix_profile_join"].empty

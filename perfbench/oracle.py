"""DuckDB oracle for the CLI output: recompute every per-stay dense
matrix from the generated CSVs and compare it with the files `do_agg`
wrote.

The SQL restates the reference semantics independently of the engine:
bucket = floor((t - intime) / step) clamped at 0, late buckets dropped,
bucket mean (chartevents) or sum (the other three), intervals spread
evenly over `range(start, end + step, step)`, dense 0..total_windows per
observed (stay, feature), optional forward fill, then zero fill.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

from workloads import SOURCES

_TS = "epoch(strptime({c}, '%Y-%m-%d %H:%M:%S'))::BIGINT"


def _events_sql(icu: str, source: str, step: int) -> str:
    path = os.path.join(icu, f"{source}.csv")
    scan = f"read_csv('{path}', header=true, all_varchar=true)"
    if source in ("chartevents", "outputevents"):
        val = "valuenum" if source == "chartevents" else "value"
        return (
            f"SELECT stay_id::BIGINT AS stay_id, itemid::BIGINT AS feature_id, "
            f"{_TS.format(c='charttime')} AS t, {val}::DOUBLE AS value FROM {scan}"
        )
    raw = ("amount::DOUBLE / patientweight::DOUBLE" if source == "inputevents"
           else "value::DOUBLE")
    start, end = _TS.format(c="starttime"), _TS.format(c="endtime")
    return (
        f"SELECT stay_id, feature_id, unnest(inst) AS t, raw / len(inst) AS value "
        f"FROM (SELECT stay_id::BIGINT AS stay_id, itemid::BIGINT AS feature_id, "
        f"{raw} AS raw, range({start}, {end} + {step}, {step}) AS inst FROM {scan})"
    )


def expected(mimic_root: str, step: int, ffill: bool) -> tuple[pd.DataFrame, dict]:
    """(dense long frame with a `source` column, {stay_id: total_windows})."""
    icu = os.path.join(mimic_root, "icu")
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(
        f"CREATE TABLE stays AS SELECT stay_id::BIGINT AS stay_id, "
        f"{_TS.format(c='intime')} AS intime, "
        f"floor(({_TS.format(c='outtime')} - {_TS.format(c='intime')}) / {step}.0)::BIGINT "
        f"AS total_windows FROM read_csv('{icu}/icustays.csv', header=true, all_varchar=true)"
    )
    frames = []
    for source in SOURCES:
        comb = "avg(value)" if source == "chartevents" else "coalesce(sum(value), 0.0)"
        fill = (
            "last_value(a.value IGNORE NULLS) OVER (PARTITION BY d.stay_id, d.feature_id "
            "ORDER BY d.tidx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            if ffill else "a.value"
        )
        frames.append(con.execute(f"""
            WITH ev AS ({_events_sql(icu, source, step)}),
            b AS (
                SELECT e.stay_id, e.feature_id, s.total_windows, e.value,
                       greatest(0, floor((e.t - s.intime) / {step}.0)::BIGINT) AS tidx
                FROM ev e JOIN stays s USING (stay_id)),
            a AS (
                SELECT stay_id, feature_id, total_windows, tidx, {comb} AS value
                FROM b WHERE tidx <= total_windows GROUP BY ALL),
            d AS (
                SELECT stay_id, feature_id,
                       unnest(range(0, total_windows + 1)) AS tidx
                FROM (SELECT DISTINCT stay_id, feature_id, total_windows FROM a))
            SELECT '{source}' AS source, d.stay_id, d.feature_id, d.tidx,
                   coalesce({fill}, 0.0) AS value
            FROM d LEFT JOIN a USING (stay_id, feature_id, tidx)
        """).df())
    windows = dict(con.execute("SELECT stay_id, total_windows FROM stays").fetchall())
    con.close()
    return pd.concat(frames, ignore_index=True), windows


def _read_matrix(path: str) -> tuple[list[str], np.ndarray, np.ndarray]:
    """(header, feature ids, values) of one per-stay CSV."""
    with open(path) as f:
        lines = f.read().splitlines()
    header = lines[0].split(",")
    if len(lines) == 1:
        return header, np.empty(0, np.int64), np.empty((0, len(header) - 1))
    body = np.array([ln.split(",") for ln in lines[1:]], dtype=np.float64)
    return header, body[:, 0].astype(np.int64), body[:, 1:]


class Reference:
    """The expected output of one input, in long form sorted by
    (source, stay, feature, tidx) -- the order the files are read in."""

    def __init__(self, mimic_root: str, step: int, ffill: bool):
        long, self.windows = expected(mimic_root, step, ffill)
        long["code"] = long["source"].map({s: i for i, s in enumerate(SOURCES)})
        long = long.sort_values(["code", "stay_id", "feature_id", "tidx"])
        self.keys = long[["code", "stay_id", "feature_id", "tidx"]].to_numpy(np.int64)
        self.values = long["value"].to_numpy(np.float64)
        self.n_cells = len(long)

    def check(self, dst: str) -> list[str]:
        """Every mismatch between `dst` and the reference, as text."""
        errors: list[str] = []
        found = {int(d) for d in os.listdir(dst) if d.isdigit()}
        if found != set(self.windows):
            errors.append(f"stay dirs differ: {len(found)} vs {len(self.windows)}")
        keys, values = [], []
        for code, source in enumerate(SOURCES):
            for stay in sorted(self.windows):
                w = self.windows[stay]
                path = os.path.join(dst, str(stay), f"{source}_features.csv")
                if not os.path.exists(path):
                    errors.append(f"missing {path}")
                    continue
                header, feats, vals = _read_matrix(path)
                if header != ["feature_id"] + [str(i) for i in range(w + 1)]:
                    errors.append(f"header of {path}")
                    continue
                k = np.empty((vals.size, 4), np.int64)
                k[:, 0], k[:, 1] = code, stay
                k[:, 2] = np.repeat(feats, w + 1)
                k[:, 3] = np.tile(np.arange(w + 1), len(feats))
                keys.append(k)
                values.append(vals.ravel())
        if not keys:
            return errors + ["no output files"]
        keys, values = np.concatenate(keys), np.concatenate(values)
        if keys.shape != self.keys.shape or not np.array_equal(keys, self.keys):
            errors.append(f"cells differ: {len(keys)} vs {len(self.keys)} expected")
        elif not np.allclose(values, self.values, rtol=1e-9, atol=1e-9):
            bad = ~np.isclose(values, self.values, rtol=1e-9, atol=1e-9)
            errors.append(f"{int(bad.sum())} values differ")
        return errors

"""Seeded MIMIC-IV-shaped input for the CLI workloads.

Writes `<root>/icu/{icustays,d_items,chartevents,inputevents,outputevents,
procedureevents}.csv` with every column the engine's schemas declare.

The shape is what the CLI's cost depends on:

- stay lengths are lognormal around a median number of hours (fixed
  quantiles in a seeded order);
- item popularity is Zipf, so a few items carry most events;
- about 5% of `valuenum` values are null;
- some events fall before `intime` (clamped to bucket 0) or after
  `outtime` (dropped);
- some stays have no events in one source, and some in any source;
- dosing and procedure intervals span several buckets.

The same (seed, shape) gives byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass
from statistics import NormalDist

import numpy as np
import pandas as pd

BASE_EPOCH = 4_102_444_800  # 2100-01-01 00:00:00 UTC
ITEM_BASE = {"chartevents": 220_000, "inputevents": 221_000,
             "outputevents": 226_000, "procedureevents": 224_000}
EMPTY_SHARE = 0.05  # stays with no events in any source
GAP_SHARE = 0.15  # stays with no events in one given source (per source)


@dataclass(frozen=True)
class Shape:
    n_stays: int
    median_hours: float
    n_items: int          # per source
    chart_per_hour: float  # mean chart events per stay-hour
    other_per_hour: float  # mean events per stay-hour for each other source

    def key(self) -> str:
        return "-".join(f"{v}" for v in asdict(self).values())


def _fmt_ts(epoch: np.ndarray) -> pd.Series:
    """Epoch seconds as 'YYYY-MM-DD HH:MM:SS' text."""
    text = np.datetime_as_string(epoch.astype("datetime64[s]"), unit="s")
    return pd.Series(np.char.replace(text, "T", " "))


def _zipf_items(rng, n_items: int, n: int) -> np.ndarray:
    ranks = np.arange(1, n_items + 1, dtype=np.float64)
    p = ranks ** -1.1
    return rng.choice(n_items, size=n, p=p / p.sum())


def _events_for(rng, stays: pd.DataFrame, has: np.ndarray, per_hour: float):
    """Per-event (stay row, event epoch) with early and late spill."""
    hours = stays["hours"].to_numpy()
    counts = rng.poisson(np.maximum(hours * per_hour, 0.5)) * has
    rows = np.repeat(np.arange(len(stays)), counts)
    intime = stays["intime"].to_numpy()[rows]
    span = (stays["outtime"].to_numpy() - stays["intime"].to_numpy())[rows]
    # 4% before intime, 4% after outtime, the rest inside the stay
    u = rng.random(len(rows))
    offs = np.where(
        u < 0.04, -rng.integers(1, 4 * 3600, len(rows)),
        np.where(u > 0.96, span + rng.integers(1, 4 * 3600, len(rows)),
                 (rng.random(len(rows)) * span).astype(np.int64)),
    )
    return rows, intime + offs


def generate(root: str, seed: int, shape: Shape) -> dict:
    """Write the CSVs under `root/icu` and return row counts per table."""
    rng = np.random.default_rng(seed)
    icu = os.path.join(root, "icu")
    os.makedirs(icu, exist_ok=True)
    n = shape.n_stays
    # lognormal stay lengths at fixed quantiles, dealt to stays in a seeded
    # order: the multiset of lengths (and so the amount of work) does not
    # move with the seed, which stays are long does
    z = np.array([NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)])
    hours = rng.permutation(shape.median_hours * np.exp(0.5 * z))
    secs = (hours * 3600).astype(np.int64)
    exact = rng.random(n) < 0.1  # some stays end on a bucket boundary
    secs = np.where(exact, np.maximum(secs // 3600, 1) * 3600, secs)
    intime = BASE_EPOCH + rng.integers(0, 365 * 86400, n)
    stay_ids = 30_000_000 + rng.permutation(n * 3)[:n].astype(np.int64)
    stays = pd.DataFrame({
        "subject_id": 10_000_000 + np.arange(n),
        "hadm_id": 20_000_000 + np.arange(n),
        "stay_id": stay_ids,
        "intime": intime,
        "outtime": intime + secs,
        "hours": secs / 3600.0,
    })
    pd.DataFrame({
        "subject_id": stays["subject_id"], "hadm_id": stays["hadm_id"],
        "stay_id": stays["stay_id"], "intime": _fmt_ts(stays["intime"].to_numpy()),
        "outtime": _fmt_ts(stays["outtime"].to_numpy()),
    }).to_csv(os.path.join(icu, "icustays.csv"), index=False)
    items = np.concatenate(
        [base + np.arange(shape.n_items) for base in ITEM_BASE.values()]
    )
    pd.DataFrame({"itemid": items, "label": [f"item{i}" for i in items]}).to_csv(
        os.path.join(icu, "d_items.csv"), index=False
    )

    by_length = np.argsort(hours, kind="stable")

    def share(p: float) -> np.ndarray:
        """Exactly round(p * n) stays, evenly spread over the length order
        from a seeded offset, so the removed stay-hours barely move."""
        k = round(p * n)
        mask = np.zeros(n, dtype=bool)
        if k:
            mask[by_length[(rng.uniform(0, n / k) + np.arange(k) * n / k).astype(int)]] = True
        return mask

    empty = share(EMPTY_SHARE)
    counts = {"icustays": n}

    def has_source() -> np.ndarray:
        return (~empty & ~share(GAP_SHARE)).astype(np.int64)

    def ids(rows):
        return {
            "subject_id": stays["subject_id"].to_numpy()[rows],
            "hadm_id": stays["hadm_id"].to_numpy()[rows],
            "stay_id": stays["stay_id"].to_numpy()[rows],
        }

    # chartevents: point events, bucket mean of valuenum
    rows, t = _events_for(rng, stays, has_source(), shape.chart_per_hour)
    m = len(rows)
    valuenum = np.round(rng.normal(80.0, 20.0, m), 2)
    nulls = rng.random(m) < 0.05
    ts = _fmt_ts(t)
    pd.DataFrame({
        **ids(rows), "charttime": ts, "storetime": ts,
        "itemid": ITEM_BASE["chartevents"] + _zipf_items(rng, shape.n_items, m),
        "value": "",
        "valuenum": np.where(nulls, np.nan, valuenum),
        "valueuom": "u", "warning": "",
    }).to_csv(os.path.join(icu, "chartevents.csv"), index=False)
    counts["chartevents"] = m

    # outputevents: point events, bucket sum of value
    rows, t = _events_for(rng, stays, has_source(), shape.other_per_hour)
    m = len(rows)
    ts = _fmt_ts(t)
    pd.DataFrame({
        **ids(rows), "charttime": ts, "storetime": ts,
        "itemid": ITEM_BASE["outputevents"] + _zipf_items(rng, shape.n_items, m),
        "value": np.round(rng.gamma(2.0, 50.0, m), 1), "valueuom": "mL",
    }).to_csv(os.path.join(icu, "outputevents.csv"), index=False)
    counts["outputevents"] = m

    # interval sources: 0 to ~6 h, several buckets each; some zero-length
    def intervals(per_hour):
        rows, start = _events_for(rng, stays, has_source(), per_hour)
        m = len(rows)
        dur = np.where(rng.random(m) < 0.1, 0, rng.integers(60, 6 * 3600, m))
        return rows, start, start + dur, m

    rows, start, end, m = intervals(shape.other_per_hour)
    blank = np.full(m, "", dtype=object)
    pd.DataFrame({
        **ids(rows), "starttime": _fmt_ts(start), "endtime": _fmt_ts(end),
        "itemid": ITEM_BASE["inputevents"] + _zipf_items(rng, shape.n_items, m),
        "amount": np.round(rng.gamma(2.0, 25.0, m), 2), "amountuom": "mg",
        "rate": blank, "rateuom": blank,
        "orderid": np.arange(m), "linkorderid": np.arange(m),
        "ordercategoryname": blank, "secondaryordercategoryname": blank,
        "ordercomponenttypedescription": blank, "ordercategorydescription": blank,
        "patientweight": np.round(rng.uniform(40.0, 120.0, m), 1),
        "totalamount": blank, "totalamountuom": blank,
        "isopenbag": 0, "continueinnextdept": 0, "cancelreason": 0,
        "statusdescription": "FinishedRunning",
        "originalamount": blank, "originalrate": blank,
    }).to_csv(os.path.join(icu, "inputevents.csv"), index=False)
    counts["inputevents"] = m

    rows, start, end, m = intervals(shape.other_per_hour)
    pd.DataFrame({
        **ids(rows), "starttime": _fmt_ts(start), "endtime": _fmt_ts(end),
        "itemid": ITEM_BASE["procedureevents"] + _zipf_items(rng, shape.n_items, m),
        "value": np.round(rng.gamma(2.0, 30.0, m), 1), "valueuom": "min",
        "statusdescription": "FinishedRunning",
    }).to_csv(os.path.join(icu, "procedureevents.csv"), index=False)
    counts["procedureevents"] = m
    return counts

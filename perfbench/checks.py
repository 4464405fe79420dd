"""Output checks, computed without the program under test.

Each `expected_*` function derives what a correct pass must produce
straight from the generator's in-memory output with pandas; each
`check_*` function compares one pass's written or returned output with
it and returns a list of mismatch descriptions (empty when the pass is
correct). Float aggregates are compared with a relative tolerance,
because Spark and pandas sum in different orders; everything else must
match exactly.
"""

from __future__ import annotations

import glob
import hashlib
import os
import sqlite3

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

RTOL = 1e-9

_BEAUFORT = [
    (1.5, "Calm"), (3.3, "Light Air"), (5.4, "Light Breeze"), (7.9, "Gentle Breeze"),
    (10.7, "Moderate Breeze"), (13.8, "Fresh Breeze"), (17.1, "Strong Breeze"),
    (20.7, "Near Gale"), (24.4, "Gale"), (28.4, "Strong Gale"), (32.6, "Storm"),
]

# column -> (lo, hi, lo inclusive, hi inclusive); None = unbounded
_CLAMPS = {
    "Temperature (C)": (-50.0, 50.0, False, False),
    "Apparent Temperature (C)": (-50.0, 50.0, False, False),
    "Humidity": (0.0, 1.0, True, True),
    "Wind Speed (km/h)": (0.0, 408.0, True, True),
    "Visibility (km)": (0.0, None, True, True),
    "Pressure (millibars)": (870.0, 1083.8, True, True),
}
_FILLED = [
    "Temperature (C)", "Apparent Temperature (C)", "Humidity", "Wind Speed (km/h)",
    "Wind Bearing (degrees)", "Visibility (km)", "Loud Cover", "Pressure (millibars)",
]
DAILY = {
    "Temperature (C)": "daily_avg_temperature",
    "Apparent Temperature (C)": "daily_avg_apparent_temperature",
    "Humidity": "daily_avg_humidity",
    "Wind Speed (km/h)": "daily_avg_wind_speed",
    "Visibility (km)": "daily_avg_visibility",
    "Pressure (millibars)": "daily_avg_pressure",
}
MONTHLY = {
    "Temperature (C)": "monthly_avg_temperature",
    "Apparent Temperature (C)": "monthly_avg_apparent_temperature",
    "Humidity": "monthly_avg_humidity",
    "Visibility (km)": "monthly_avg_visibility",
    "Pressure (millibars)": "monthly_avg_pressure",
}


# --- weather_etl ---------------------------------------------------------

def expected_weather(raw: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """v1-intent semantics (SURVEY.md §2): wall-clock date of the row's own
    offset, drop unparseable dates, clamp to null, fill with the exact
    median, daily and monthly skipna means, wind-strength day mode
    (tie -> smallest label), precipitation month mode (tie -> null)."""
    df = raw.copy()
    local = df["Formatted Date"].fillna("").str.strip().str[:23]
    parsed = pd.to_datetime(local, format="%Y-%m-%d %H:%M:%S.%f", errors="coerce")
    df = df[parsed.notna()].copy()
    df["date"] = parsed[parsed.notna()].dt.strftime("%Y-%m-%d")
    df["Month"] = df["date"].str[:7]
    for col, (lo, hi, lo_inc, hi_inc) in _CLAMPS.items():
        x = df[col]
        ok = pd.Series(True, index=x.index)
        if lo is not None:
            ok &= (x >= lo) if lo_inc else (x > lo)
        if hi is not None:
            ok &= (x <= hi) if hi_inc else (x < hi)
        df[col] = x.where(ok)
    for col in _FILLED:
        df[col] = df[col].fillna(df[col].median())

    ms = df["Wind Speed (km/h)"] * 1000 / 3600
    conds, labels, lo = [], [], 0.0
    for hi, label in _BEAUFORT:
        conds.append((ms >= lo) & (ms <= hi))
        labels.append(label)
        lo = hi
    conds.append(ms > _BEAUFORT[-1][0])
    labels.append("Violent Storm")
    df["wind"] = np.select(conds, labels, default=None)
    df.loc[ms.isna() | (ms < 0), "wind"] = None

    daily = df.groupby("date")[list(DAILY)].mean().rename(columns=DAILY)
    wc = df.dropna(subset=["wind"]).groupby(["date", "wind"]).size().reset_index(name="n")
    wc = wc.sort_values(["date", "n", "wind"], ascending=[True, False, True])
    daily["wind_strength"] = wc.drop_duplicates("date").set_index("date")["wind"]
    daily = daily.reset_index().rename(columns={"date": "Formatted Date"})

    monthly = df.groupby("Month")[list(MONTHLY)].mean().rename(columns=MONTHLY)
    pc = df.dropna(subset=["Precip Type"]).groupby(["Month", "Precip Type"]).size()
    pc = pc.reset_index(name="n")
    top = pc.groupby("Month")["n"].transform("max")
    winners = pc[pc["n"] == top]
    single = winners.groupby("Month")["Precip Type"].transform("size") == 1
    monthly["mode_precipitation_type"] = (
        winners[single].set_index("Month")["Precip Type"]
    )
    monthly = monthly.reset_index()
    return {"daily": daily, "monthly": monthly}


def _compare(got: pd.DataFrame, want: pd.DataFrame, key: str, what: str) -> list[str]:
    cols = list(want.columns)
    if sorted(c for c in got.columns if c != "id") != sorted(cols):
        return [f"{what}: columns {sorted(got.columns)} != {sorted(cols)}"]
    got = got.assign(**{key: got[key].astype(str)}).sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    if list(got[key]) != list(want[key]):
        return [f"{what}: {len(got)} keys != expected {len(want)}"]
    bad = []
    for col in cols:
        g, w = got[col], want[col]
        if w.dtype.kind == "f":
            if not np.allclose(g.astype(float), w.astype(float), rtol=RTOL, equal_nan=True):
                bad.append(f"{what}.{col}: values differ")
        elif [x if pd.notna(x) else None for x in g] != [x if pd.notna(x) else None for x in w]:
            bad.append(f"{what}.{col}: values differ")
    return bad


def check_weather(out_dir: str, db_path: str, want: dict[str, pd.DataFrame]) -> list[str]:
    """Parquet and SQLite outputs of one weather pass against `want`."""
    bad = []
    for name, key in (("daily", "Formatted Date"), ("monthly", "Month")):
        got = pq.read_table(os.path.join(out_dir, name)).to_pandas()
        bad += _compare(got, want[name], key, f"parquet {name}")
        with sqlite3.connect(db_path) as con:
            got = pd.read_sql_query(f'SELECT * FROM "{name}_weather"', con)
        bad += _compare(got, want[name], key, f"sqlite {name}")
    return bad


# --- stream_upsert -------------------------------------------------------

def expected_stream(landed: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """Per-UTC-day batch aggregates over the landed files: `gold` over
    every landed row (the upsert query does not dedup), `dedup` over
    the rows left after dropping redelivered event_ids."""
    def per_day(df: pd.DataFrame) -> pd.DataFrame:
        day = df["ts"].dt.strftime("%Y-%m-%d")
        g = df.groupby(day)["value"]
        return pd.DataFrame({"sum_value": g.sum(), "n_events": g.size()}).rename_axis(
            "day").reset_index()

    return {"gold": per_day(landed),
            "dedup": per_day(landed.drop_duplicates("event_id"))}


def latest_gold_dir(gold_path: str) -> str | None:
    """Highest committed `v=<batch>` version of the gold table."""
    done = [p for p in glob.glob(os.path.join(gold_path, "v=*"))
            if os.path.exists(os.path.join(p, "_SUCCESS"))]
    return max(done, key=lambda p: int(p.rsplit("=", 1)[1]), default=None)


def _compare_counts(got: pd.DataFrame, want: pd.DataFrame, what: str) -> list[str]:
    got = got.sort_values("day").reset_index(drop=True)
    if list(got["day"]) != list(want["day"]):
        return [f"{what}: days {len(got)} != expected {len(want)}"]
    bad = []
    if list(got["n_events"].astype(int)) != list(want["n_events"]):
        bad.append(f"{what}: n_events differ")
    if not np.allclose(got["sum_value"], want["sum_value"], rtol=RTOL):
        bad.append(f"{what}: sum_value differs")
    return bad


def check_stream(gold_path: str, rollup: pd.DataFrame,
                 want: dict[str, pd.DataFrame]) -> list[str]:
    """Gold table (latest committed version) and the dedup rollup (the
    memory sink's update log reduced to each day's last, largest, row)."""
    latest = latest_gold_dir(gold_path)
    if latest is None:
        return ["gold: no committed version"]
    gold = pq.read_table(latest).to_pandas()
    bad = _compare_counts(gold, want["gold"], "gold")
    final = rollup.sort_values("n_events").drop_duplicates("day", keep="last")
    return bad + _compare_counts(final, want["dedup"], "dedup rollup")


# --- corpus_dedup --------------------------------------------------------

def components_hash(comp: pd.DataFrame) -> str:
    """Order-independent digest of the exact (doc_id, component) set."""
    rows = comp.sort_values("doc_id")[["doc_id", "component"]].to_numpy(np.int64)
    return hashlib.sha256(rows.tobytes()).hexdigest()


def check_components(comp: pd.DataFrame, docs: pd.DataFrame) -> list[str]:
    """Invariants any correct clustering of the planted corpus satisfies:
    one row per document; each label is its component's smallest doc_id;
    no component mixes documents of different planted chains, or a
    chain with an unrelated document (those never reach the Jaccard
    threshold); and the chains were actually found (not every document
    left a singleton)."""
    if len(comp) != len(docs) or set(comp["doc_id"]) != set(docs["doc_id"]):
        return [f"components: {len(comp)} rows for {len(docs)} documents"]
    m = comp.merge(docs[["doc_id", "chain"]], on="doc_id")
    bad = []
    smallest = m.groupby("component")["doc_id"].min()
    if not (smallest.index == smallest.to_numpy()).all():
        bad.append("components: label is not the component's min doc_id")
    mixed = m.groupby("component")["chain"].nunique()
    if (mixed > 1).any():
        bad.append(f"components: {int((mixed > 1).sum())} mix planted chains")
    if (m.loc[m["chain"] < 0].groupby("component").size() > 1).any():
        bad.append("components: unrelated documents merged")
    if m.loc[m["chain"] >= 0, "component"].nunique() == (m["chain"] >= 0).sum():
        bad.append("components: no planted chain was clustered")
    return bad


def check_oracle(spark_rows: pd.DataFrame, oracle_rows: pd.DataFrame) -> list[str]:
    """The registry's DuckDB oracle against the Spark query on one slice."""
    if components_hash(spark_rows) != components_hash(oracle_rows):
        return ["oracle: Spark components differ from the DuckDB oracle"]
    return []

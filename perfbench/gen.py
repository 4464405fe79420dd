"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and size: the same seed
writes byte-identical inputs. The benchmark calls them from its own
process before Spark starts; the program under test only ever sees the
files they write. Each generator also returns the in-memory truth the
output checks compare against, so no check re-derives it through the
program.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Wind bucket upper bounds in m/s (reference E4). Exact boundary values
# are planted so a boundary-off-by-one in the classifier shows up.
BEAUFORT_MS = [1.5, 3.3, 5.4, 7.9, 10.7, 13.8, 17.1, 20.7, 24.4, 28.4, 32.6]

WEATHER_COLUMNS = [
    "Formatted Date", "Summary", "Precip Type", "Temperature (C)",
    "Apparent Temperature (C)", "Humidity", "Wind Speed (km/h)",
    "Wind Bearing (degrees)", "Visibility (km)", "Loud Cover",
    "Pressure (millibars)", "Daily Summary",
]


def weather_csv(path: str, n_months: int, seed: int) -> pd.DataFrame:
    """Hourly weather history with the FIXTURES.md §1 properties, written
    as CSV; returns the frame that was written.

    - three UTC offsets (+0100 in winter, +0200 in summer, +0000 on a
      scattering of rows); the pipeline keeps each row's own wall-clock
      date, so the offset never moves a row between days;
    - about 3% nulls in every numeric column;
    - out-of-range values, including the exact open/closed clamp bounds;
    - exact Beaufort boundaries, negative and above-408 wind speeds;
    - about 0.5% unparseable or empty dates.

    Whole calendar months only, with precipitation drawn rain 55% /
    snow 35% / null 10%: a month's precipitation mode is then never tied,
    so the validation gate (which rejects a null mode) passes on every
    seed. A tie would be a failed pass, not a benchmark of the pipeline.
    """
    rng = np.random.default_rng(seed)
    start = pd.Timestamp("2006-04-01")
    ts = pd.date_range(start, start + pd.DateOffset(months=n_months), freq="h",
                       inclusive="left")
    n = len(ts)
    offsets = np.where(ts.month.isin([4, 5, 6, 7, 8, 9]), "+0200", "+0100")
    offsets[rng.random(n) < 0.05] = "+0000"
    dates = pd.Series(ts.strftime("%Y-%m-%d %H:%M:%S.000 ")) + offsets

    temp = rng.normal(12, 9, n).round(4)
    df = pd.DataFrame(
        {
            "Formatted Date": dates,
            "Summary": rng.choice(["Clear", "Overcast", "Foggy", "Mostly Cloudy"], n),
            "Precip Type": rng.choice(np.array(["rain", "snow", None], dtype=object), n,
                                      p=[0.55, 0.35, 0.10]),
            "Temperature (C)": temp,
            "Apparent Temperature (C)": (temp - rng.uniform(0, 4, n)).round(4),
            "Humidity": rng.uniform(0, 1, n).round(2),
            "Wind Speed (km/h)": rng.gamma(2.0, 6.0, n).round(4),
            "Wind Bearing (degrees)": rng.uniform(0, 359, n).round(0),
            "Visibility (km)": rng.uniform(0, 16, n).round(2),
            "Loud Cover": np.zeros(n),
            "Pressure (millibars)": rng.normal(1015, 8, n).round(2),
            "Daily Summary": rng.choice(["Partly cloudy throughout the day.",
                                         "Mostly cloudy until night."], n),
        }
    )
    numeric = WEATHER_COLUMNS[3:11]
    for col in numeric:
        df.loc[rng.random(n) < 0.03, col] = np.nan

    def plant(col: str, values: list[float]) -> None:
        rows = rng.choice(n, len(values) * 20, replace=False)
        df.loc[rows, col] = np.resize(np.asarray(values, dtype=float), len(rows))

    plant("Temperature (C)", [-50.0, 50.0, 93.0, -61.5])
    plant("Apparent Temperature (C)", [-50.0, 50.0, 71.0])
    plant("Humidity", [0.0, 1.0, 1.3, -0.2])
    plant("Pressure (millibars)", [870.0, 1083.8, 500.0, 1200.0])
    plant("Visibility (km)", [-3.0, 0.0])
    plant("Wind Speed (km/h)", [ms * 3.6 for ms in BEAUFORT_MS] + [409.5, -4.0, 32.61 * 3.6])

    bad = rng.choice(n, max(3, n // 200), replace=False)
    df.loc[bad, "Formatted Date"] = np.resize(
        np.array(["not-a-date", "", "2006-13-45 99:00:00.000 +0100"], dtype=object),
        len(bad),
    )
    df.to_csv(path, index=False)
    return df


def events_landing(landing_dir: str, n_files: int, rows_per_file: int, seed: int) -> pd.DataFrame:
    """Event files for a file-drop landing dir, one parquet file per
    micro-batch (the queries read them with maxFilesPerTrigger=1).

    File i carries events of roughly one event-time slice, so event time
    advances file by file across about 30 days. About 5% of each file is
    redelivered events (exact copies, same event_id and ts) from the
    previous three files, and about 2% is late: events up to two days
    older than the file's slice. Redeliveries and late rows stay well
    inside the 40-day dedup watermark, so the converged stream state is
    deterministic. Returns every landed row, duplicates included.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(landing_dir, exist_ok=True)
    span_us = 30 * 86_400 * 1_000_000
    t0 = pd.Timestamp("2024-01-01", tz="UTC").value // 1000
    slice_us = span_us // n_files
    n_fresh = int(rows_per_file * 0.95)
    n_dup = rows_per_file - n_fresh
    types = np.array(["click", "view", "purchase", "error", "scroll"], dtype=object)
    frames: list[pd.DataFrame] = []
    next_id = 0
    for i in range(n_files):
        ts = t0 + i * slice_us + rng.integers(0, slice_us, n_fresh)
        late = rng.random(n_fresh) < 0.02
        ts[late] -= rng.integers(0, 2 * 86_400 * 1_000_000, int(late.sum()))
        fresh = pd.DataFrame(
            {
                "event_id": np.arange(next_id, next_id + n_fresh, dtype=np.int64),
                "ts": pd.to_datetime(ts, unit="us", utc=True),
                "user_id": rng.integers(0, 5000, n_fresh),
                "event_type": rng.choice(types, n_fresh),
                "value": rng.gamma(2.0, 10.0, n_fresh).round(2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_fresh)],
            }
        )
        next_id += n_fresh
        if frames:
            pool = pd.concat(frames[-3:], ignore_index=True)
            dup = pool.iloc[rng.choice(len(pool), n_dup, replace=False)]
            batch = pd.concat([fresh, dup], ignore_index=True)
        else:
            batch = fresh
        batch = batch.iloc[rng.permutation(len(batch))].reset_index(drop=True)
        frames.append(batch)
        pq.write_table(
            pa.Table.from_pandas(batch, preserve_index=False),
            os.path.join(landing_dir, f"part-{i:05d}.parquet"),
            coerce_timestamps="us",
        )
    return pd.concat(frames, ignore_index=True)


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(3, 9, size)
    words = {"".join(rng.choice(letters, k)) for k in lengths}
    return np.array(sorted(words), dtype=object)


def planted_corpus(
    sf_dir: str, n_docs: int, n_chains: int, chain_len: int, seed: int
) -> pd.DataFrame:
    """`documents.parquet` (testdata schema) with planted near-duplicate
    chains, written under `sf_dir`; returns the documents plus a `chain`
    column (-1 for documents outside any chain).

    A chain starts from a random document; each copy replaces about 5%
    of its predecessor's tokens, so neighbours in a chain are similar
    (shingle Jaccard about 0.75) while the two ends are not: a cluster
    holds together only through the chain, which is what makes the
    connected-components step iterate. Documents outside chains draw
    from a 4k-word vocabulary and never reach the 0.5 Jaccard threshold
    with each other. doc_ids are a seeded permutation, so chain members
    are not contiguous ids.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, 4200)
    chained = n_chains * chain_len
    if chained > n_docs:
        raise ValueError("more chained documents than documents")
    texts: list[str] = []
    chain = np.full(n_docs, -1, dtype=np.int64)
    for c in range(n_chains):
        toks = rng.choice(vocab, int(rng.integers(60, 160)))
        for j in range(chain_len):
            if j:
                toks = toks.copy()
                edit = rng.random(len(toks)) < 0.05
                toks[edit] = rng.choice(vocab, int(edit.sum()))
            chain[len(texts)] = c
            texts.append(" ".join(toks))
    for _ in range(n_docs - chained):
        texts.append(" ".join(rng.choice(vocab, int(rng.integers(40, 160)))))
    order = rng.permutation(n_docs)
    docs = pd.DataFrame(
        {
            "doc_id": order.astype(np.int64),
            "text": texts,
            "lang": rng.choice(np.array(["en", "de", "fr"], dtype=object), n_docs,
                               p=[0.8, 0.1, 0.1]),
            "source": rng.choice(np.array([f"src{i}" for i in range(4)], dtype=object), n_docs),
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    docs["chain"] = chain
    docs = docs.sort_values("doc_id").reset_index(drop=True)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(docs.drop(columns="chain"), preserve_index=False),
        os.path.join(sf_dir, "documents.parquet"),
    )
    return docs

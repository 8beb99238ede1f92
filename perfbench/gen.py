"""Seeded input generators for the benchmark parts.

Everything here is numpy + pyarrow: the engine only ever sees the files
these functions write. The same ``seed`` and size give byte-identical
files (no wall-clock values, fixed Parquet writer options).

Shapes follow FIXTURES.md sections 1-2: ``hourly_obs`` rows carry
``ts_utc, station_id, lat, lon, temp_c, source, qc_flags`` plus an
``ingest_seq`` column that records file order, which the clean stage
uses as its keep-first tie-breaker.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZONES = [
    "America/New_York",
    "America/Chicago",
    "America/Denver",
    "America/Los_Angeles",
    "Europe/Berlin",
    "Asia/Kolkata",
    "Australia/Sydney",
]

# planted defect shares of the pipeline lake (fractions of clean rows)
DUP_SHARE = 0.02
NULL_SHARE = 0.01
OOR_SHARE = 0.002
SPIKE_SHARE = 0.005

HOURLY_ARROW = pa.schema(
    [
        ("ts_utc", pa.timestamp("us", tz="UTC")),
        ("station_id", pa.string()),
        ("lat", pa.float64()),
        ("lon", pa.float64()),
        ("temp_c", pa.float64()),
        ("source", pa.string()),
        ("qc_flags", pa.int64()),
        ("ingest_seq", pa.int64()),
    ]
)

FORECAST_ARROW = pa.schema(
    [
        ("station_id", pa.string()),
        ("issue_time_utc", pa.timestamp("us", tz="UTC")),
        ("target_date_local", pa.date32()),
        ("tmax_pred_f", pa.float64()),
        ("lead_hours", pa.int64()),
        ("source", pa.string()),
    ]
)

DOC_ARROW = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

US_PER_HOUR = 3_600_000_000
_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def hours_since_epoch(year: int) -> int:
    return int((dt.datetime(year, 1, 1, tzinfo=dt.timezone.utc) - _EPOCH).total_seconds()) // 3600


@dataclass(frozen=True)
class Station:
    station_id: str
    lat: float
    lon: float
    tz: str
    base_c: float


def stations(rng: np.random.Generator, n: int) -> list[Station]:
    """``n`` stations spread over the time zones in ZONES."""
    lat = np.round(rng.uniform(-40.0, 60.0, n), 4)
    lon = np.round(rng.uniform(-150.0, 150.0, n), 4)
    base = np.round(rng.uniform(0.0, 22.0, n), 1)
    return [
        Station(f"S{i:03d}", float(lat[i]), float(lon[i]), ZONES[i % len(ZONES)], float(base[i]))
        for i in range(n)
    ]


def _clean_temps(rng: np.random.Generator, st: Station, hours: np.ndarray) -> np.ndarray:
    """Seasonal + diurnal curve with noise, rounded to 0.1 C."""
    doy = (hours % (24 * 365.25)) / 24.0
    season = 10.0 * np.sin(2 * np.pi * (doy - 105.0) / 365.25)
    diurnal = 5.0 * np.sin(2 * np.pi * ((hours % 24) - 9.0) / 24.0)
    noise = rng.normal(0.0, 1.2, hours.size)
    return np.round(st.base_c + season + diurnal + noise, 1)


def hourly_table(
    rng: np.random.Generator,
    st: Station,
    start_hour: int,
    n_hours: int,
    seq0: int,
    *,
    defects: bool = True,
) -> pa.Table:
    """Hourly obs of one station over ``n_hours`` hours from
    ``start_hour`` (hours since the epoch), with the planted defect
    shares when ``defects`` is set. Duplicates repeat a timestamp with
    a later ``ingest_seq`` and a different reading, so keep-first must
    drop them."""
    hours = np.arange(start_hour, start_hour + n_hours, dtype=np.int64)
    temp = _clean_temps(rng, st, hours)
    valid = np.ones(hours.size, dtype=bool)
    if defects:
        pick = rng.random(hours.size)
        temp = np.where(pick < SPIKE_SHARE, temp + 20.0, temp)
        oor = (pick >= SPIKE_SHARE) & (pick < SPIKE_SHARE + OOR_SHARE)
        temp = np.where(oor, np.where(rng.random(hours.size) < 0.5, 99.0, -99.0), temp)
        valid = pick >= SPIKE_SHARE + OOR_SHARE + NULL_SHARE
        valid |= pick < SPIKE_SHARE + OOR_SHARE
        dup_idx = np.flatnonzero(rng.random(hours.size) < DUP_SHARE)
        hours = np.concatenate([hours, hours[dup_idx]])
        temp = np.concatenate([temp, np.round(temp[dup_idx] - 3.0, 1)])
        valid = np.concatenate([valid, valid[dup_idx]])
    n = hours.size
    return pa.table(
        {
            "ts_utc": pa.array(hours * US_PER_HOUR, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            "station_id": pa.array([st.station_id] * n, pa.string()),
            "lat": pa.array(np.full(n, st.lat)),
            "lon": pa.array(np.full(n, st.lon)),
            "temp_c": pa.array(temp, mask=~valid),
            "source": pa.array(["noaa"] * n, pa.string()),
            "qc_flags": pa.array(np.zeros(n, dtype=np.int64)),
            "ingest_seq": pa.array(np.arange(seq0, seq0 + n, dtype=np.int64)),
        },
        schema=HOURLY_ARROW,
    )


def forecast_table(
    rng: np.random.Generator, st: Station, year: int, leads: tuple[int, ...]
) -> pa.Table:
    """Daily Tmax forecasts of one station-year, one row per (target
    day, lead). The prediction tracks the seasonal curve with an error
    that grows with the lead."""
    d0 = dt.date(year, 1, 1)
    n_days = (dt.date(year + 1, 1, 1) - d0).days
    days = np.arange(n_days)
    day_ord = np.array([(d0 - dt.date(1970, 1, 1)).days], dtype=np.int64) + days
    cols: dict[str, list] = {k: [] for k in FORECAST_ARROW.names}
    for lead in leads:
        hours = (day_ord * 24 + 15).astype(np.int64)
        tmax_c = _clean_temps(rng, st, hours) + 5.0
        pred_f = np.round(tmax_c * 9 / 5 + 32 + rng.normal(0.0, 1.5 + lead / 24.0, n_days), 2)
        cols["station_id"].append(pa.array([st.station_id] * n_days, pa.string()))
        cols["issue_time_utc"].append(
            pa.array(day_ord * 24 * US_PER_HOUR - lead * US_PER_HOUR, pa.int64()).cast(
                pa.timestamp("us", tz="UTC")
            )
        )
        cols["target_date_local"].append(pa.array(day_ord.astype(np.int32), pa.int32()).cast(pa.date32()))
        cols["tmax_pred_f"].append(pa.array(pred_f))
        cols["lead_hours"].append(pa.array(np.full(n_days, lead, dtype=np.int64)))
        cols["source"].append(pa.array(["synthetic"] * n_days, pa.string()))
    return pa.table(
        {k: pa.concat_arrays(v) for k, v in cols.items()}, schema=FORECAST_ARROW
    )


def pipeline_lake(root: str, seed: int, n_stations: int, years: list[int]) -> dict:
    """The paper's lake: one hourly-obs and one forecast Parquet file
    per station-year, plus the stations dimension (station_id, tz).
    Returns a description of what was written."""
    rng = np.random.default_rng([seed, 1])
    sts = stations(rng, n_stations)
    seq = 0
    rows = 0
    for st in sts:
        for year in years:
            start = hours_since_epoch(year)
            n_hours = hours_since_epoch(year + 1) - start
            t = hourly_table(rng, st, start, n_hours, seq)
            seq += t.num_rows
            rows += t.num_rows
            _write(t, f"{root}/hourly_obs/{st.station_id}_{year}.parquet")
            _write(
                forecast_table(rng, st, year, (24, 48)),
                f"{root}/forecast/{st.station_id}_{year}.parquet",
            )
    _write(
        pa.table(
            {
                "station_id": [s.station_id for s in sts],
                "tz": [s.tz for s in sts],
            }
        ),
        f"{root}/stations.parquet",
    )
    return {
        "stations": [s.station_id for s in sts],
        "years": years,
        "hourly_rows": rows,
        "files": 2 * len(sts) * len(years) + 1,
    }


# ---------------------------------------------------------------------------
# lakehouse console
# ---------------------------------------------------------------------------

DML_YEAR = 2023


def dml_seed_table(root: str, seed: int, n_stations: int, n_hours: int) -> dict:
    """Seed rows of the versioned hourly table the console works on:
    clean readings of ``n_stations`` stations over ``n_hours`` hours
    from the start of DML_YEAR, as one Parquet file (station_id, ts_utc, temp_c,
    qc_flags)."""
    rng = np.random.default_rng([seed, 2])
    sts = stations(rng, n_stations)
    start = hours_since_epoch(DML_YEAR)
    parts = []
    for st in sts:
        t = hourly_table(rng, st, start, n_hours, 0, defects=False)
        parts.append(t.select(["station_id", "ts_utc", "temp_c", "qc_flags"]))
    table = pa.concat_tables(parts)
    _write(table, f"{root}/dml_seed.parquet")
    return {"stations": [s.station_id for s in sts], "hours": n_hours, "rows": table.num_rows}


# ---------------------------------------------------------------------------
# curation corpus
# ---------------------------------------------------------------------------

EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
_STOPWORDS = ["the", "and", "of", "to", "that", "is", "with", "for", "in", "on"]


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set(_STOPWORDS)
    while len(out) < n:
        w = "".join(rng.choice(letters, int(rng.integers(3, 9))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return _STOPWORDS + out


def corpus(root: str, seed: int, n_docs: int) -> dict:
    """Seeded documents: Zipf(1.2) vocabulary, lengths uniform in
    [60, 180] words, then EXACT_DUP_SHARE exact copies and
    NEAR_DUP_SHARE near copies (3 token substitutions) of earlier
    documents. Ids follow the shuffled order."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(_vocab(rng, 4000))
    n_base = int(round(n_docs * (1 - EXACT_DUP_SHARE - NEAR_DUP_SHARE)))
    texts: list[str] = []
    for _ in range(n_base):
        length = int(rng.integers(60, 181))
        ranks = np.minimum(rng.zipf(1.2, length), vocab.size) - 1
        texts.append(" ".join(vocab[ranks]) + ".")
    n_exact = int(round(n_docs * EXACT_DUP_SHARE))
    for src in rng.integers(0, n_base, n_exact):
        texts.append(texts[int(src)])
    for src in rng.integers(0, n_base, n_docs - len(texts)):
        words = texts[int(src)].split(" ")
        for pos in rng.integers(0, len(words) - 1, 3):
            words[int(pos)] = str(vocab[int(rng.integers(10, vocab.size))])
        texts.append(" ".join(words))
    order = rng.permutation(len(texts))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
            "text": pa.array([texts[i] for i in order], pa.string()),
        },
        schema=DOC_ARROW,
    )
    _write(table, f"{root}/docs.parquet")
    return {"docs": table.num_rows, "exact_dup_share": EXACT_DUP_SHARE, "near_dup_share": NEAR_DUP_SHARE}


def query_vectors(seed: int, n: int, dim: int) -> np.ndarray:
    """Seeded ANN query vectors (integer-valued, like hash embeddings)."""
    rng = np.random.default_rng([seed, 4])
    return rng.integers(-3, 4, (n, dim)).astype(np.float64)


# ---------------------------------------------------------------------------
# stream ingest
# ---------------------------------------------------------------------------

STREAM_START = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
LATE_SHARE = 0.05
REDELIVER_SHARE = 0.05


def stream_files(seed: int, n_stations: int, n_files: int) -> list[pa.Table]:
    """One table per landing file: every station's reading for hour i,
    except LATE_SHARE of them, which arrive one file later; plus
    REDELIVER_SHARE exact re-deliveries of rows of the previous file.
    Rows carry the canonical hourly_obs columns (no ingest_seq)."""
    rng = np.random.default_rng([seed, 5])
    sts = stations(rng, n_stations)
    start = int((STREAM_START - _EPOCH).total_seconds()) // 3600
    per_hour = [
        pa.concat_tables(
            [hourly_table(rng, st, start + i, 1, 0, defects=False) for st in sts]
        ).drop(["ingest_seq"])
        for i in range(n_files)
    ]
    files, carry = [], None
    for i, t in enumerate(per_hour):
        late = rng.random(t.num_rows) < LATE_SHARE
        if i == n_files - 1:
            late[:] = False
        now = t.filter(pa.array(~late))
        parts = [now]
        if carry is not None:
            parts.append(carry)
        if i > 0:
            prev = files[-1]
            redeliver = rng.random(prev.num_rows) < REDELIVER_SHARE
            parts.append(prev.filter(pa.array(redeliver)))
        carry = t.filter(pa.array(late))
        files.append(pa.concat_tables(parts))
    return files


def write_stream_file(table: pa.Table, path: str) -> None:
    """Land one file atomically (write aside, then rename), so the file
    source never lists a half-written Parquet file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    _write(table, tmp)
    os.replace(tmp, path)

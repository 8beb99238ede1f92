"""Output checks: DuckDB and numpy recomputations of what the engine
returned. Each check returns a list of failure messages (empty = pass),
so a caller can count failures instead of stopping at the first one.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# pipeline: daily Tmax
# ---------------------------------------------------------------------------

DAILY_ORACLE = """
WITH raw AS (
    SELECT o.*, s.tz
    FROM read_parquet('{lake}/hourly_obs/*.parquet') o
    JOIN read_parquet('{lake}/stations.parquet') s USING (station_id)
), dedup AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY station_id, ts_utc ORDER BY ingest_seq) AS rn
        FROM raw) WHERE rn = 1
), flagged AS (
    SELECT station_id, ts_utc, tz,
           CASE WHEN temp_c IS NULL THEN 1 ELSE 0 END
           + CASE WHEN temp_c < -90 OR temp_c > 60 THEN 2 ELSE 0 END AS qc0,
           CASE WHEN temp_c < -90 OR temp_c > 60 THEN NULL ELSE temp_c END AS v
    FROM dedup
), cleaned AS (
    SELECT *, qc0 + CASE WHEN ABS(v - LAG(v) OVER (
                 PARTITION BY station_id ORDER BY ts_utc)) > 15.0
             THEN 4 ELSE 0 END AS qc,
           timezone(tz, ts_utc) AS lts
    FROM flagged
), daily AS (
    SELECT CAST(lts AS DATE) AS date_local, station_id,
           MAX(v) AS tmax_c,
           COUNT(DISTINCT CASE WHEN v IS NOT NULL THEN hour(lts) END) AS coverage_hours,
           BIT_OR(qc) AS flags
    FROM cleaned GROUP BY 1, 2
)
SELECT date_local, station_id, tmax_c,
       CAST(coverage_hours AS BIGINT) AS coverage_hours,
       CAST(flags + CASE WHEN coverage_hours = 0 THEN 32
                         WHEN coverage_hours < 18 THEN 16 ELSE 0 END AS BIGINT) AS qc_flags
FROM daily WHERE tmax_c IS NOT NULL
"""

DAILY_COLS = ["station_id", "date_local", "tmax_c", "coverage_hours", "qc_flags"]


def expected_daily(lake: str) -> pd.DataFrame:
    """Daily Tmax recomputed from the generated lake with the semantics
    of the ``q_pipeline_daily`` oracle (keep-first dedup by ingest
    order, OOR nullify, spike flag, distinct valid local hours), here
    with each station's own time zone."""
    con = duckdb.connect()
    try:
        return con.execute(DAILY_ORACLE.format(lake=lake)).df()
    finally:
        con.close()


def _canon(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    out = df[cols].copy()
    if "date_local" in out:
        out["date_local"] = pd.to_datetime(out["date_local"]).dt.date
    return out.sort_values(cols[:2]).reset_index(drop=True)


def frames_equal(got: pd.DataFrame, want: pd.DataFrame, cols: list[str], what: str) -> list[str]:
    """Row-set equality on ``cols``, sorted by the first two columns;
    floats must match exactly (both sides are max/min of the same
    generated doubles, never sums)."""
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    g, w = _canon(got, cols), _canon(want, cols)
    for c in cols:
        gv, wv = g[c].to_numpy(), w[c].to_numpy()
        if g[c].dtype.kind == "f" or w[c].dtype.kind == "f":
            bad = ~np.isclose(gv.astype(float), wv.astype(float), rtol=0, atol=0, equal_nan=True)
        else:
            bad = gv != wv
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            return [f"{what}: column {c} differs at row {i}: {gv[i]!r} != {wv[i]!r}"]
    return []


# ---------------------------------------------------------------------------
# lakehouse console: a versioned replay of the statement sequence
# ---------------------------------------------------------------------------


class DmlReplay:
    """The console table in DuckDB as a history table: every row
    carries the engine version that wrote it (``v_from``) and the one
    that removed it (``v_to``, NULL while live), so any ``VERSION AS
    OF`` read can be answered. Timestamps are epoch microseconds."""

    def __init__(self, seed_parquet: str, v0: int):
        self.con = duckdb.connect()
        self.con.execute(
            f"""CREATE TABLE h AS
                SELECT station_id, epoch_us(ts_utc) AS ts_us, temp_c, qc_flags,
                       {int(v0)} AS v_from, CAST(NULL AS INTEGER) AS v_to
                FROM read_parquet('{seed_parquet}')"""
        )

    def close(self) -> None:
        self.con.close()

    def _live(self, where: str) -> str:
        return f"v_to IS NULL AND ({where})"

    def insert(self, rows: list[tuple], v: int) -> None:
        self.con.executemany(
            "INSERT INTO h VALUES (?, ?, ?, ?, ?, NULL)", [(*r, v) for r in rows]
        )

    def merge(self, rows: list[tuple], v: int) -> None:
        """MERGE ... WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT *."""
        for sid, ts, _, _ in rows:
            self.con.execute(
                "UPDATE h SET v_to = ? WHERE v_to IS NULL AND station_id = ? AND ts_us = ?",
                [v, sid, ts],
            )
        self.insert(rows, v)

    def update_flags(self, where: str, bit: int, v: int) -> None:
        self.con.execute(
            f"""INSERT INTO h SELECT station_id, ts_us, temp_c, qc_flags | {bit}, {v}, NULL
                FROM h WHERE {self._live(where)}"""
        )
        self.con.execute(f"UPDATE h SET v_to = {v} WHERE v_from < {v} AND {self._live(where)}")

    def delete(self, where: str, v: int) -> None:
        self.con.execute(f"UPDATE h SET v_to = {v} WHERE {self._live(where)}")

    def at(self, v: int | None) -> str:
        """A subquery of the table as of version ``v`` (None = latest)."""
        if v is None:
            return "(SELECT * FROM h WHERE v_to IS NULL)"
        return f"(SELECT * FROM h WHERE v_from <= {v} AND (v_to IS NULL OR v_to > {v}))"

    def query(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def snapshot(self) -> pd.DataFrame:
        return self.con.execute(
            f"SELECT station_id, ts_us, temp_c, qc_flags FROM {self.at(None)}"
        ).df()


def rows_equal(got: list[tuple], want: list[tuple], what: str) -> list[str]:
    """Unordered equality of small result sets; floats to 1e-9."""

    def key(r):
        return tuple("" if x is None else str(x) for x in r)

    def same(x, y):
        if isinstance(x, float) and isinstance(y, float):
            return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
        return x == y

    g, w = sorted(got, key=key), sorted(want, key=key)
    if len(g) != len(w):
        return [f"{what}: {len(g)} rows, expected {len(w)}"]
    for a, b in zip(g, w):
        if len(a) != len(b) or not all(same(x, y) for x, y in zip(a, b)):
            return [f"{what}: {a!r} != {b!r}"]
    return []


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


def curation_survivors(input_ids: np.ndarray, texts: dict[int, str], survivors: np.ndarray) -> list[str]:
    """Survivors are a subset of the input and no two share a text."""
    out = []
    extra = np.setdiff1d(survivors, input_ids)
    if extra.size:
        out.append(f"curation: {extra.size} survivor ids not in the input")
    if np.unique(survivors).size != survivors.size:
        out.append("curation: a document id survives twice")
    kept = [texts[int(i)] for i in survivors if int(i) in texts]
    if len(set(kept)) != len(kept):
        out.append(f"curation: {len(kept) - len(set(kept))} exact-duplicate texts survive")
    return out


def cosine(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1) * np.linalg.norm(q)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(norms > 0, mat @ q / norms, 0.0)


def ann_result(
    ids: np.ndarray, emb: np.ndarray, q: np.ndarray, got: list[tuple[int, float]], k: int
) -> tuple[list[str], float]:
    """One top-k answer: every returned id is indexed, its cosine equals
    numpy's, and the list is sorted by cosine. Returns the failures and
    recall@k against the brute-force top-k."""
    pos = {int(i): n for n, i in enumerate(ids)}
    sims = cosine(emb, q)
    fails = []
    prev = math.inf
    for doc, cos in got:
        if doc not in pos:
            fails.append(f"ann: id {doc} is not in the index")
            continue
        if not math.isclose(cos, sims[pos[doc]], rel_tol=1e-9, abs_tol=1e-9):
            fails.append(f"ann: cosine of {doc} is {cos}, numpy says {sims[pos[doc]]}")
        if cos > prev + 1e-12:
            fails.append("ann: results are not sorted by cosine")
        prev = cos
    if len(got) > k:
        fails.append(f"ann: {len(got)} results for k={k}")
    order = np.lexsort((ids, -sims))[:k]
    truth = {int(ids[i]) for i in order}
    recall = len(truth & {d for d, _ in got}) / max(1, len(truth))
    return fails, recall


# ---------------------------------------------------------------------------
# stream ingest
# ---------------------------------------------------------------------------

STREAM_ORACLE = """
SELECT DISTINCT station_id, epoch_us(ts_utc) AS ts_us,
       CASE WHEN temp_c < -90 OR temp_c > 60 THEN NULL ELSE temp_c END AS temp_c,
       qc_flags | CASE WHEN temp_c IS NULL THEN 1 ELSE 0 END
                | CASE WHEN temp_c < -90 OR temp_c > 60 THEN 2 ELSE 0 END AS qc_flags
FROM read_parquet('{landing}/*.parquet')
"""


def expected_stream(landing: str) -> pd.DataFrame:
    """Batch keep-latest over every landed file. Re-deliveries repeat a
    row exactly, so keep-latest and keep-any agree."""
    con = duckdb.connect()
    try:
        return con.execute(STREAM_ORACLE.format(landing=landing)).df()
    finally:
        con.close()


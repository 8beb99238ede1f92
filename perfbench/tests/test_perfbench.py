"""Self-tests of the benchmark: seeded inputs, output checks, metric
names, and a tiny end-to-end smoke run.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _inputs(root: str, seed: int) -> str:
    gen.pipeline_lake(f"{root}/lake", seed, 3, [2022])
    gen.dml_seed_table(f"{root}/dml", seed, 3, 48)
    gen.corpus(f"{root}/docs", seed, 120)
    for i, t in enumerate(gen.stream_files(seed, 4, 5)):
        gen.write_stream_file(t, f"{root}/landing/h{i:05d}.parquet")
    np.save(f"{root}/q.npy", gen.query_vectors(seed, 5, 8))
    return _digest(root)


# ---------------------------------------------------------------------------
# seeded generators
# ---------------------------------------------------------------------------


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _inputs(str(tmp_path / "a"), 7) == _inputs(str(tmp_path / "b"), 7)


def test_different_seed_gives_different_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    _inputs(str(a), 7)
    _inputs(str(b), 8)
    for sub in ("lake", "dml", "docs", "landing"):
        assert _digest(str(a / sub)) != _digest(str(b / sub)), sub


def test_lake_plants_the_stated_defects(tmp_path):
    gen.pipeline_lake(str(tmp_path), 3, 4, [2022])
    t = pq.read_table(str(tmp_path / "hourly_obs")).to_pandas()
    n_hours = 4 * 8760
    dup = t.duplicated(subset=["station_id", "ts_utc"]).sum() / n_hours
    assert 0.015 < dup < 0.025
    assert 0.005 < t["temp_c"].isna().mean() < 0.015
    assert 0.0005 < ((t["temp_c"] > 60) | (t["temp_c"] < -90)).mean() < 0.004
    zones = pq.read_table(str(tmp_path / "stations.parquet")).column("tz").to_pylist()
    assert len(set(zones)) == 4


def test_corpus_shares(tmp_path):
    gen.corpus(str(tmp_path), 5, 1000)
    texts = pq.read_table(str(tmp_path / "docs.parquet")).column("text").to_pylist()
    exact = len(texts) - len(set(texts))
    assert 80 <= exact <= 110  # 10% exact copies (a few near copies collide)


# ---------------------------------------------------------------------------
# output checks fail on corrupted results
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lake"))
    gen.pipeline_lake(root, 11, 2, [2022])
    return root


def test_daily_check_passes_and_catches_corruption(lake):
    want = checks.expected_daily(lake)
    cols = checks.DAILY_COLS
    assert checks.frames_equal(want.sample(frac=1, random_state=1), want, cols, "d") == []
    bad = want.copy()
    bad.loc[5, "tmax_c"] += 0.1
    assert checks.frames_equal(bad, want, cols, "d")
    bad = want.copy()
    bad.loc[7, "qc_flags"] ^= 4
    assert checks.frames_equal(bad, want, cols, "d")
    assert checks.frames_equal(want.drop(index=3), want, cols, "d")


def test_daily_oracle_uses_each_station_time_zone(tmp_path):
    """Two readings of a station at UTC+05:30 straddle local midnight:
    20:00Z is 01:30 the next local day."""
    import datetime as dt

    import pyarrow as pa

    st = gen.Station("S000", 0.0, 0.0, "Asia/Kolkata", 0.0)
    ts = [dt.datetime(2022, 1, 1, h, tzinfo=dt.timezone.utc) for h in (10, 20)]
    t = pa.table(
        {
            "ts_utc": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "station_id": ["S000", "S000"],
            "lat": [0.0, 0.0],
            "lon": [0.0, 0.0],
            "temp_c": [20.0, 10.0],
            "source": ["noaa", "noaa"],
            "qc_flags": pa.array([0, 0], pa.int64()),
            "ingest_seq": pa.array([0, 1], pa.int64()),
        },
        schema=gen.HOURLY_ARROW,
    )
    (tmp_path / "hourly_obs").mkdir()
    pq.write_table(t, str(tmp_path / "hourly_obs" / "S000_2022.parquet"))
    pq.write_table(pa.table({"station_id": [st.station_id], "tz": [st.tz]}), str(tmp_path / "stations.parquet"))
    got = checks.expected_daily(str(tmp_path)).sort_values("tmax_c")
    assert [str(d)[:10] for d in got["date_local"]] == ["2022-01-02", "2022-01-01"]
    assert list(got["coverage_hours"]) == [1, 1]
    assert list(got["qc_flags"]) == [16, 16]  # low coverage


def test_dml_replay_versions_and_read_checks(tmp_path):
    gen.dml_seed_table(str(tmp_path), 4, 2, 48)
    r = checks.DmlReplay(str(tmp_path / "dml_seed.parquet"), 1)
    try:
        snap1 = r.snapshot()
        sid, ts = snap1.iloc[0]["station_id"], int(snap1.iloc[0]["ts_us"])
        r.merge([(sid, ts, 99.5, 0)], 2)
        r.delete(f"station_id = '{sid}' AND ts_us > {ts}", 3)
        r.update_flags(f"station_id = '{sid}'", 64, 4)
        now = r.query(f"SELECT temp_c, qc_flags FROM {r.at(None)} WHERE station_id = '{sid}'")
        assert now == [(99.5, 64)]
        assert len(r.query(f"SELECT * FROM {r.at(1)}")) == len(snap1)
        assert r.query(f"SELECT temp_c FROM {r.at(2)} WHERE station_id = '{sid}' AND ts_us = {ts}") == [(99.5,)]
        got = r.query(f"SELECT count(*), max(temp_c) FROM {r.at(None)}")
        assert checks.rows_equal(got, got, "q") == []
        assert checks.rows_equal([(got[0][0] + 1, got[0][1])], got, "q")
        assert checks.rows_equal([(got[0][0], got[0][1] + 1e-6)], got, "q")
        cols = ["station_id", "ts_us", "temp_c", "qc_flags"]
        snap = r.snapshot()
        assert checks.frames_equal(snap, snap, cols, "s") == []
        bad = snap.copy()
        bad.loc[0, "qc_flags"] = 1
        assert checks.frames_equal(bad, snap, cols, "s")
    finally:
        r.close()


def test_curation_checks_catch_duplicates_and_foreign_ids():
    texts = {1: "a b", 2: "c d", 3: "a b"}
    ids = np.array([1, 2, 3])
    assert checks.curation_survivors(ids, texts, np.array([1, 2])) == []
    assert checks.curation_survivors(ids, texts, np.array([1, 2, 3]))
    assert checks.curation_survivors(ids, texts, np.array([1, 9]))


def test_ann_check_catches_wrong_answers():
    rng = np.random.default_rng(0)
    ids = np.arange(50)
    emb = rng.integers(-3, 4, (50, 8)).astype(float)
    q = rng.integers(-3, 4, 8).astype(float)
    sims = checks.cosine(emb, q)
    top = np.lexsort((ids, -sims))[:5]
    good = [(int(i), float(sims[i])) for i in top]
    fails, recall = checks.ann_result(ids, emb, q, good, 5)
    assert fails == [] and recall == 1.0
    assert checks.ann_result(ids, emb, q, [(good[0][0], good[0][1] + 0.01)] + good[1:], 5)[0]
    assert checks.ann_result(ids, emb, q, good[::-1], 5)[0]
    assert checks.ann_result(ids, emb, q, [(999, 0.5)], 5)[0]


def test_stream_check_catches_lost_or_changed_rows(tmp_path):
    for i, t in enumerate(gen.stream_files(2, 4, 6)):
        gen.write_stream_file(t, str(tmp_path / f"h{i:05d}.parquet"))
    want = checks.expected_stream(str(tmp_path))
    cols = ["station_id", "ts_us", "temp_c", "qc_flags"]
    assert len(want) == 4 * 6
    assert not want.duplicated(subset=["station_id", "ts_us"]).any()
    assert checks.frames_equal(want, want, cols, "s") == []
    assert checks.frames_equal(want.iloc[1:], want, cols, "s")
    bad = want.copy()
    bad.loc[2, "temp_c"] = 5.0 if bad.loc[2, "temp_c"] != 5.0 else 6.0
    assert checks.frames_equal(bad, want, cols, "s")


def test_stream_files_carry_late_and_redelivered_rows():
    files = gen.stream_files(9, 40, 12)
    all_rows = pd.concat([f.to_pandas() for f in files])
    assert len(all_rows) > 40 * 12  # re-deliveries
    assert all_rows.drop_duplicates().shape[0] == 40 * 12  # nothing lost


def test_stream_files_map_to_query_batches_across_no_data_batches(tmp_path):
    sys.path.insert(0, ROOT)
    import phases

    ckpt = tmp_path / "ckpt"
    (ckpt / "offsets").mkdir(parents=True)
    (ckpt / "sources" / "0").mkdir(parents=True)
    # query batches 0-3 read up to source offsets 0, 0, 1, 1: batches 1
    # and 3 are the watermark's no-data batches
    for b, off in enumerate([0, 0, 1, 1]):
        (ckpt / "offsets" / str(b)).write_text(f'v1\n{{"batchWatermarkMs":0}}\n{{"logOffset":{off}}}\n')
    for off in (0, 1):
        entry = json.dumps({"path": f"file:///land/h{off}.parquet", "timestamp": 0, "batchId": off})
        (ckpt / "sources" / "0" / str(off)).write_text(f"v1\n{entry}\n")
    assert phases._source_log(str(ckpt)) == {"/land/h0.parquet": 0, "/land/h1.parquet": 2}


# ---------------------------------------------------------------------------
# metric names and a tiny end-to-end run
# ---------------------------------------------------------------------------


def test_metric_names_match_benchmark_json():
    sys.path.insert(0, ROOT)
    import phases
    import run

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in spec["workloads"]} <= set(phases.WORKLOADS)


SMOKE = """
import sys
sys.path.insert(0, {bench!r})
import phases, run
for part in phases.PARTS:
    for k, v in part.tiny.items():
        setattr(part, k, v)
phases.WORKLOADS["all"] = list(phases.PARTS)
sys.exit(run.main(["--workload", "all", "--seed", "5", "--seconds", "1", "--trace", {trace!r}]))
"""


@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_smoke_run(trace):
    p = subprocess.run(
        [sys.executable, "-c", SMOKE.format(bench=BENCH, trace=trace)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, p.stdout[-3000:]
    import run

    want = run.END_TO_END if trace == "0" else run.per_layer_units()
    assert set(res["metrics"]) == set(want)
    if trace == "0":
        assert all(m["value"] > 0 for m in res["metrics"].values())
    else:
        assert res["metrics"]["sql.insert.jobs"]["value"] > 0
        assert res["metrics"]["llm.dedup.minhash.candidate_pairs"]["value"] > 0
        assert res["metrics"]["llm.vector_index.topk.candidates_scanned"]["value"] > 0
        assert res["metrics"]["streaming.add_batch_ms"]["value"] > 0
        assert res["metrics"]["eval.fit_predict.jobs"]["value"] > 0

"""Checkpoint table written by run_extract_job: driver-local wave appends,
resume over crash leftovers and over Spark-written files, observation
fallback on empty waves, and the Spark executions a wave costs."""

import datetime as _dt
import os
import shutil

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from sparkdu.lineage import ExtractJobConfig, run_extract_job
from sparkdu.tables import CHECKPOINTS_SCHEMA, PAGES_SCHEMA

K, WAVES = 8, 2


def _texts(spark, d):
    df = spark.read.parquet(os.path.join(d, "extracted"))
    return {
        r["url"]: (r["extracted_text"], r["n_blocks"])
        for r in df.select("url", "extracted_text", "n_blocks").collect()
    }


def _checkpoints(spark, d):
    return spark.read.parquet(os.path.join(d, "checkpoints"))


def _cfg(run_id, d, **kw):
    return ExtractJobConfig(run_id=run_id, out_dir=d, num_partitions=K, waves=WAVES, **kw)


@pytest.fixture(scope="module")
def full_texts(spark, pages_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cp_full"))
    run_extract_job(spark, pages_df, _cfg("full", d))
    return _texts(spark, d)


def test_checkpoint_files_are_driver_written(spark, pages_df, tmp_path):
    d = str(tmp_path / "job")
    total = run_extract_job(spark, pages_df, _cfg("w1", d))
    cp_dir = os.path.join(d, "checkpoints")
    names = sorted(os.listdir(cp_dir))
    # one committed file per wave, no Spark committer residue, no temp file
    assert len(names) == WAVES
    assert all(n.startswith("part-") and n.endswith(".zstd.parquet") for n in names)
    assert sorted(n[-len("w00000.zstd.parquet"):] for n in names) == [
        f"w{w:05d}.zstd.parquet" for w in range(WAVES)]
    cp = _checkpoints(spark, d)
    assert cp.schema == CHECKPOINTS_SCHEMA
    rows = cp.collect()
    assert sorted(r["partition_key"] for r in rows) == list(range(K))
    assert sum(r["n_pages"] for r in rows) == total["n_pages"]
    assert sum(r["n_errors"] for r in rows) == total["n_errors"]
    # timestamps are the driver's UTC wall clock, in order
    now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    for r in rows:
        assert r["started_ts"] <= r["finished_ts"] <= now
        assert now - r["started_ts"] < _dt.timedelta(minutes=30)


def _plant_spark_temporary(cp_dir):
    os.makedirs(os.path.join(cp_dir, "_temporary", "0"))


def _plant_hidden_inprogress(cp_dir):
    os.makedirs(cp_dir, exist_ok=True)
    with open(os.path.join(cp_dir, ".part-torn-w00000.zstd.parquet.inprogress"), "wb") as f:
        f.write(b"PAR1\x00\x01")  # a torn write: header bytes only


@pytest.mark.parametrize("plant", [_plant_spark_temporary, _plant_hidden_inprogress],
                         ids=["spark_temporary", "hidden_inprogress"])
def test_resume_after_crash_during_checkpoint_write(spark, pages_df, full_texts,
                                                     tmp_path, plant):
    """A crash during the first wave's checkpoint append leaves the wave's
    data and snapshot committed and only a writer leftover in
    checkpoints/; resume re-runs every key and matches a full run."""
    d = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extract_job(spark, pages_df, _cfg("c1", d, fail_after_waves=1))
    cp_dir = os.path.join(d, "checkpoints")
    shutil.rmtree(cp_dir)  # the append never completed
    plant(cp_dir)

    total = run_extract_job(spark, pages_df, _cfg("c1", d, resume=True))
    assert total["waves_run"] == WAVES
    assert _texts(spark, d) == full_texts
    cp = _checkpoints(spark, d)
    assert cp.schema == CHECKPOINTS_SCHEMA
    assert sorted(r["partition_key"] for r in cp.collect()) == list(range(K))


def test_spark_written_checkpoints_still_resume(spark, pages_df, full_texts, tmp_path):
    """An output directory whose checkpoints were appended by the earlier
    Spark writer resumes under the driver-local writer: the mixed table
    reads back as CHECKPOINTS_SCHEMA and the planted keys are not re-run."""
    d = str(tmp_path / "mixed")
    planted = [0, 3, 5]
    old_ts = _dt.datetime(2001, 2, 3, 4, 5, 6)
    spark.createDataFrame(
        [("m1", k, 0, 0, 0, 0, old_ts, old_ts, "done") for k in planted],
        CHECKPOINTS_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(os.path.join(d, "checkpoints"))

    total = run_extract_job(spark, pages_df, _cfg("m1", d, resume=True))

    cp = _checkpoints(spark, d)
    assert cp.schema == CHECKPOINTS_SCHEMA
    assert cp.count() == cp.select("run_id", "partition_key").distinct().count() == K
    assert {r["partition_key"] for r in cp.filter(F.col("started_ts") == old_ts)
            .collect()} == set(planted)
    assert not any(os.path.exists(os.path.join(d, "extracted", f"partition_key={k}"))
                   for k in planted)
    resumed = _texts(spark, d)
    assert resumed == {u: full_texts[u] for u in resumed}
    assert total["n_pages"] == len(resumed) == cp.agg(F.sum("n_pages")).first()[0]
    assert 0 < len(resumed) < len(full_texts)


def test_empty_waves_observe_zero(spark, pages_rows, tmp_path):
    """Three urls over 16 keys in 8 waves: most waves are all-empty, and
    every wave still reports observed counters that match its checkpoint
    rows."""
    few = spark.createDataFrame(pages_rows[:3], PAGES_SCHEMA)
    d = str(tmp_path / "few")
    total = run_extract_job(spark, few, ExtractJobConfig(
        run_id="e1", out_dir=d, num_partitions=16, waves=8))
    assert total["waves_run"] == 8 and total["n_pages"] == 3
    observed = total["observed"]
    assert len(observed) == 8
    assert sum(o["rows_out"] for o in observed) == 3
    assert any(o == {"rows_out": 0, "errors": 0, "bytes_in": 0} for o in observed)
    cp = _checkpoints(spark, d)
    assert cp.count() == 16 and cp.agg(F.sum("n_pages")).first()[0] == 3


def test_observation_error_is_raised_unless_wave_empty(spark, pages_rows,
                                                       monkeypatch, tmp_path):
    """A failing Observation.get falls back to zeros only for a wave whose
    checkpoint rows show 0 pages; on a wave that did work it propagates."""
    def boom(self):
        raise RuntimeError("observation unavailable")

    monkeypatch.setattr(Observation, "get", property(boom))

    empty = spark.createDataFrame([], PAGES_SCHEMA)
    total = run_extract_job(spark, empty, ExtractJobConfig(
        run_id="x1", out_dir=str(tmp_path / "empty"), num_partitions=4, waves=2))
    assert total["observed"] == [{"rows_out": 0, "errors": 0, "bytes_in": 0}] * 2

    few = spark.createDataFrame(pages_rows[:3], PAGES_SCHEMA)
    with pytest.raises(RuntimeError, match="observation unavailable"):
        run_extract_job(spark, few, ExtractJobConfig(
            run_id="x2", out_dir=str(tmp_path / "few"), num_partitions=4, waves=2))


def test_spark_executions_per_wave(spark, pages_df, tmp_path):
    """Each wave costs at most two SQL executions: the extract write and the
    stats collect. The checkpoint append is not a Spark job."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def last_id():
        bus.waitUntilEmpty()
        ex = store.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)

    first = last_id()
    total = run_extract_job(spark, pages_df, _cfg("e2", str(tmp_path / "ex")))
    assert total["waves_run"] == WAVES
    last = last_id()
    ex = store.executionsList()
    started = [ex.apply(i).executionId() for i in range(ex.size())]
    n = sum(1 for e in started if first < e <= last)
    assert 0 < n <= 2 * WAVES, n

"""Session bootstrap policy: the initial-shuffle-partition derivation
(clamp(input_bytes/SHUFFLE_TARGET_PARTITION_BYTES=16MB, cores, 4x cores)
— r7 verdict item 5: the measured sf10 win becomes the default, not an
env opt-in), extra_conf overriding it, and the status-store bounds."""

from __future__ import annotations

import os
import subprocess
import sys
import warnings

from simtradedata_spark.session import (
    BIG_INPUT_BYTES,
    SHUFFLE_TARGET_PARTITION_BYTES,
    _dir_bytes,
    big_input_session,
    derive_shuffle_partitions,
    get_spark,
)

MB = 1024 * 1024
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_derivation_floors_at_cores_for_small_inputs():
    # certification scales: sf0.01 is ~2 MB, sf0.1 ~18 MB, the 10x replica
    # ~175 MB — all floor at cores, so driver-gate plans, oracle hashes and
    # the r7 sf1.0 recordings are untouched
    assert derive_shuffle_partitions(2 * MB, 32) == 32
    assert derive_shuffle_partitions(18 * MB, 32) == 32
    assert derive_shuffle_partitions(175 * MB, 32) == 32
    assert derive_shuffle_partitions(0, 32) == 32


def test_derivation_scales_with_bytes_then_clamps():
    # 100 partitions' worth of bytes → 100; past 4x cores → clamp at 128
    assert (
        derive_shuffle_partitions(100 * SHUFFLE_TARGET_PARTITION_BYTES, 32)
        == 100
    )
    assert (
        derive_shuffle_partitions(10_000 * SHUFFLE_TARGET_PARTITION_BYTES, 32)
        == 4 * 32
    )
    # smaller harness: clamp band moves with the core count
    assert derive_shuffle_partitions(10_000 * MB, 8) == 32


def test_sf10_class_input_derives_the_measured_win():
    # the r7-measured configuration class (~128 initial partitions on 32
    # cores: −15% twin subset, −29% dedup_clusters) is what the ~1.75 GB
    # compressed 100x replica derives on its own
    assert derive_shuffle_partitions(1_750 * MB, 32) == 110  # ceil(1750/16)
    assert derive_shuffle_partitions(2_100 * MB, 32) == 128


def test_dir_bytes_walks_nested_layout(tmp_path):
    (tmp_path / "t.parquet").mkdir()
    (tmp_path / "t.parquet" / "part_0.parquet").write_bytes(b"x" * 1000)
    (tmp_path / "flat.parquet").write_bytes(b"y" * 500)
    assert _dir_bytes(str(tmp_path)) == 1500


def test_big_input_session_keys_on_input_bytes(spark):
    """r10 verdict item 5: the big-input signal must derive from DATA SIZE,
    not conf provenance — a session whose measured input exceeds
    BIG_INPUT_BYTES routes through the eager-checkpoint paths regardless of
    how (or whether) shuffle partitions were set, and the threshold is
    core-count-independent (the r10 proxy inverted with core count)."""
    key = "spark.simtradedata.inputBytes"
    try:
        # above threshold -> big, even though this 8-core test session's
        # shuffle.partitions == defaultParallelism (old proxy said small)
        spark.conf.set(key, str(BIG_INPUT_BYTES))
        assert big_input_session(spark) is True
        spark.conf.set(key, str(100 * BIG_INPUT_BYTES))
        assert big_input_session(spark) is True
        # below threshold -> small (certification replicas: sf0.1 ~18 MB,
        # the 10x replica ~175 MB)
        spark.conf.set(key, str(175 * MB))
        assert big_input_session(spark) is False
        # a malformed value means a small session
        spark.conf.set(key, "garbage")
        assert big_input_session(spark) is False
    finally:
        spark.conf.unset(key)


def test_big_input_session_small_without_input_bytes(spark):
    # no inputBytes key: a small session, whatever the shuffle partitions
    assert spark.conf.get("spark.simtradedata.inputBytes", None) is None
    assert big_input_session(spark) is False


def test_get_spark_records_input_bytes(tmp_path):
    # get_spark(input_dir=...) publishes the measured size as a runtime
    # conf; getOrCreate applies it to the (reused) session, so the wiring
    # is observable without building a fresh JVM
    (tmp_path / "t.parquet").write_bytes(b"x" * 1500)
    s = get_spark("session-test-input-bytes", input_dir=str(tmp_path))
    try:
        assert s.conf.get("spark.simtradedata.inputBytes") == "1500"
        assert big_input_session(s) is False
    finally:
        s.conf.unset("spark.simtradedata.inputBytes")


def test_status_store_retention_bounded(spark):
    """r11: the status stores must be bounded — unbounded retention aged
    long query sessions (probe ratio up to 6x after 80 queries), while
    retainedTasks below ~20k caused eviction-churn stalls at 10x-replica
    event rates. These values are the two-scale-measured compromise; a
    deliberate change should update both the session default and this pin."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.ui.retainedExecutions") == "8"
    assert conf.get("spark.ui.retainedJobs") == "100"
    assert conf.get("spark.ui.retainedStages") == "200"
    assert conf.get("spark.ui.retainedTasks") == "20000"


def test_extra_conf_shuffle_partitions_no_false_reuse_warning(spark):
    # extra_conf's value wins over the derived count and IS applied to the
    # reused session, so comparing the session against the derived count
    # warned about an override that had taken effect
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            s = get_spark("session-test-extra-conf", extra_conf={key: "7"})
        assert s.conf.get(key) == "7"
        assert not [w for w in caught if "reusing" in str(w.message)]
    finally:
        spark.conf.set(key, before)


def test_workers_import_package_from_any_working_directory(tmp_path):
    """A driver started outside the repo that finds the package only via
    sys.path still runs Python-worker code: a simtrade_snapshot write runs
    SnapshotWriter.write in a worker, which must import the package."""
    target = str(tmp_path / "snap")
    script = f"""
import sys
sys.path.insert(0, {ROOT!r})
from simtradedata_spark.session import get_spark
from simtradedata_spark.sources.snapshot_sink import SnapshotDataSource
from simtradedata_spark.streaming.incremental import read_current

spark = get_spark("session-test-cwd", cpus=1)
spark.dataSource.register(SnapshotDataSource)
spark.range(5).write.format("simtrade_snapshot").mode("overwrite").save({target!r})
print("rows", read_current(spark, {target!r}).count())
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, env=env, timeout=300, cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "rows 5" in proc.stdout

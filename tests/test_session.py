"""Session-construction guards: the GCLocker diagnostic flag is
JDK-17-era (the GCLocker itself is removed by JDK 22's region
pinning) — an unrecognized -XX option aborts JVM startup, so the
default driver/executor opts must gate it on the probed java major
version (ADVICE r11). Also the partition-sizing rule: the count
build_session sets is the one every later stage and state store uses."""

import json
import os

from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from solana_etl_pipeline_spark import session
from solana_etl_pipeline_spark.streaming.ingest import (
    deduplicated_within_watermark,
    landing_stream,
    run_available_now_to_parquet,
)


def test_gclocker_flag_present_through_jdk21(monkeypatch):
    for major in (17, 21):
        monkeypatch.setattr(session, "_java_major_version", lambda m=major: m)
        opts = session.gc_java_opts()
        assert "-XX:GCLockerRetryAllocationCount=8" in opts
        assert "-XX:+UnlockDiagnosticVMOptions" in opts
        assert "-XX:G1HeapRegionSize=32m" in opts


def test_gclocker_flag_dropped_on_jdk22_plus(monkeypatch):
    for major in (22, 25):
        monkeypatch.setattr(session, "_java_major_version", lambda m=major: m)
        opts = session.gc_java_opts()
        assert "GCLocker" not in opts
        assert "UnlockDiagnosticVMOptions" not in opts
        assert "-XX:G1HeapRegionSize=32m" in opts


def test_gclocker_flag_dropped_when_probe_fails(monkeypatch):
    monkeypatch.setattr(session, "_java_major_version", lambda: None)
    opts = session.gc_java_opts()
    # Fail closed: never emit a flag the JVM might reject.
    assert "GCLocker" not in opts
    assert "-XX:G1HeapRegionSize=32m" in opts


def test_java_probe_parses_this_boxes_jdk():
    session._java_major_version.cache_clear()
    major = session._java_major_version()
    assert major is not None and major >= 17


_CHANGELOG_KEY = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)


def test_rocksdb_confs_emit_changelog_key_for_both_values():
    # The False case must EMIT "false", not omit the key: applying the
    # returned confs to a session where changelog checkpointing was
    # previously enabled has to actually disable it (ADVICE r14).
    on = session.rocksdb_state_store_confs(changelog_checkpointing=True)
    off = session.rocksdb_state_store_confs(changelog_checkpointing=False)
    assert on[_CHANGELOG_KEY] == "true"
    assert off[_CHANGELOG_KEY] == "false"
    for confs in (on, off):
        assert (
            confs["spark.sql.streaming.stateStore.providerClass"]
            == session.ROCKSDB_STATE_STORE_PROVIDER
        )
    # Bounded-memory knobs only appear when a cap is requested.
    assert not any("MemoryUsage" in k for k in on)
    capped = session.rocksdb_state_store_confs(max_memory_mb=256)
    assert (
        capped["spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB"]
        == "256"
    )


def test_rocksdb_confs_snapshot_cadence():
    confs = session.rocksdb_state_store_confs(snapshot_cadence=25)
    assert (
        confs["spark.sql.streaming.stateStore.minDeltasForSnapshot"] == "25"
    )
    # None leaves the build default untouched (key absent)
    assert not any(
        "minDeltasForSnapshot" in k
        for k in session.rocksdb_state_store_confs()
    )


_PARTITIONS = "spark.sql.shuffle.partitions"


def test_session_cores_follows_env_then_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.session_cores() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session.session_cores() == len(os.sched_getaffinity(0))


def test_runtime_confs_leave_partition_count_alone(spark):
    # build_session is the one place the count is set; applying the
    # runtime confs must not override the fixture's explicit 4.
    assert _PARTITIONS not in session.RUNTIME_CONFS
    assert spark.conf.get(_PARTITIONS) == "4"
    session.apply_runtime_confs(spark)
    assert spark.conf.get(_PARTITIONS) == "4"


def test_dedup_drain_runs_one_state_store_per_partition(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    rows = [
        {"mint": f"M{i % 5}", "signature": f"s{i % 5}",
         "ts": f"2026-01-01T00:00:{i:02d}Z"}
        for i in range(10)
    ]
    (landing / "part-0.json").write_text(
        "\n".join(json.dumps(r) for r in rows) + "\n"
    )
    stream = landing_stream(
        spark, str(landing),
        StructType([
            StructField("mint", StringType()),
            StructField("signature", StringType()),
            StructField("ts", TimestampType()),
        ]),
    )
    query = run_available_now_to_parquet(
        deduplicated_within_watermark(stream, ["mint", "signature"]),
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    [op] = query.lastProgress["stateOperators"]
    assert op["numShufflePartitions"] == 4
    assert spark.read.parquet(str(tmp_path / "out")).count() == 5

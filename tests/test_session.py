"""Config-contract pin for the session factory: the settings the whole
correctness and scale story silently depends on. Losing any of these
in a refactor produces distant, confusing failures (UTC: every
timestamp oracle; AQE trio: the documented skew/coalesce behavior;
Arrow: every pandas-UDF hot path), so they fail HERE by name."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from streaming_data_spark.session import (
    BATCH_PARTITIONS_KEY,
    _local_cores,
    batch_shuffle_partitions,
    get_session,
)

# the fixed count: streaming state and AQE-off plans
_FIXED_KEY = "spark.sql.shuffle.partitions"


def test_session_factory_pins_correctness_and_scale_confs(spark):
    # `spark` fixture is built by get_session — assert on the live conf
    conf = spark.conf
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert (
        conf.get("spark.sql.execution.arrow.pyspark.enabled", "false") == "true"
    )


def test_session_factory_is_reentrant(spark):
    again = get_session(app_name="second-call")
    assert again is spark or again.sparkContext is spark.sparkContext


def test_autosize_shuffle_partitions_floors_at_parallelism(spark, tmp_path):
    """Small inputs (every local test dir) keep the core-count floor —
    autosizing must never DROP below the session's parallelism."""
    from streaming_data_spark.session import autosize_shuffle_partitions

    old = spark.conf.get(BATCH_PARTITIONS_KEY)
    try:
        # pin the session BELOW parallelism so the parallelism leg of
        # the floor (max(parallelism, current batch count)) is what binds
        spark.conf.set(BATCH_PARTITIONS_KEY, "1")
        (tmp_path / "t.bin").write_bytes(b"x" * 1024)
        n = autosize_shuffle_partitions(spark, str(tmp_path))
        assert n == spark.sparkContext.defaultParallelism
        assert spark.conf.get(BATCH_PARTITIONS_KEY) == str(n)
    finally:
        spark.conf.set(BATCH_PARTITIONS_KEY, old)


def test_autosize_shuffle_partitions_scales_with_bytes_and_caps(
    spark, tmp_path
):
    """The r13 x1000 finding mechanized: initial partitions = ceil of
    input bytes over the per-partition target (AQE coalesces down but
    never splits up past the initial count, so rounding UP is the
    safe direction), bounded by the runaway cap."""
    from streaming_data_spark.session import autosize_shuffle_partitions

    old = spark.conf.get(BATCH_PARTITIONS_KEY)
    fixed = spark.conf.get(_FIXED_KEY)
    try:
        spark.conf.set(BATCH_PARTITIONS_KEY, "8")
        (tmp_path / "a.bin").write_bytes(b"x" * 7000)
        (tmp_path / "b.bin").write_bytes(b"x" * 3001)
        # 10001 bytes at a 100-byte target -> ceil = 101 partitions
        n = autosize_shuffle_partitions(spark, str(tmp_path), target_bytes=100)
        assert n == 101
        assert spark.conf.get(BATCH_PARTITIONS_KEY) == "101"
        # the streaming-state / AQE-off count is not autosized
        assert spark.conf.get(_FIXED_KEY) == fixed
        # cap binds
        n = autosize_shuffle_partitions(
            spark, str(tmp_path), target_bytes=100, cap=64
        )
        assert n == 64
    finally:
        spark.conf.set(BATCH_PARTITIONS_KEY, old)


def test_autosize_shuffle_partitions_env_override_wins(
    spark, tmp_path, monkeypatch
):
    """SPARK_GRAFT_SHUFFLE_PARTITIONS remains the explicit hand knob —
    a probe that needs a fixed count (e.g. the r13 32-vs-256 spill
    experiment itself) must be able to pin it."""
    from streaming_data_spark.session import autosize_shuffle_partitions

    old = spark.conf.get(BATCH_PARTITIONS_KEY)
    try:
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "77")
        (tmp_path / "a.bin").write_bytes(b"x" * 10_000)
        n = autosize_shuffle_partitions(spark, str(tmp_path), target_bytes=10)
        assert n == 77
        assert spark.conf.get(BATCH_PARTITIONS_KEY) == "77"
    finally:
        spark.conf.set(BATCH_PARTITIONS_KEY, old)


def test_input_bytes_sums_files_and_dirs(spark, tmp_path):
    from streaming_data_spark.session import input_bytes

    (tmp_path / "a.bin").write_bytes(b"x" * 123)
    sub = tmp_path / "sub"
    sub.mkdir()
    (sub / "b.bin").write_bytes(b"x" * 77)
    assert input_bytes(spark, str(tmp_path)) == 200
    assert input_bytes(spark, str(tmp_path / "a.bin")) == 123
    assert input_bytes(spark, str(tmp_path), str(sub)) == 277


def test_input_bytes_raises_on_missing_path(spark, tmp_path):
    """A typo'd path must fail loudly: silently contributing 0 bytes
    would floor the partition count at core parallelism — the exact
    spill cliff autosizing exists to prevent — while reporting the
    run 'autosized'."""
    import pytest

    with pytest.raises(Exception, match="no such path|Path does not exist"):
        from streaming_data_spark.session import input_bytes

        input_bytes(spark, str(tmp_path / "nope"))


def test_input_bytes_file_scheme_and_gateway_fallback(spark, tmp_path):
    """r14 advice: the Hadoop leg and the local fallback must agree on
    scheme handling. Through the JVM a file: URI resolves via the
    Hadoop local FS; with NO gateway the fallback strips the scheme
    before the os.path walk (it used to dead-end on the raw URI)."""
    from streaming_data_spark.session import input_bytes

    (tmp_path / "a.bin").write_bytes(b"x" * 123)
    # live gateway: Hadoop local FS handles the scheme
    assert input_bytes(spark, f"file://{tmp_path}") == 123
    # no gateway: a stub whose _jvm access raises routes to the local
    # fallback, which must strip file: before walking
    class _NoJvm:
        @property
        def _jvm(self):
            raise RuntimeError("gateway down")

    assert input_bytes(_NoJvm(), f"file://{tmp_path}") == 123
    assert input_bytes(_NoJvm(), f"file:{tmp_path / 'a.bin'}") == 123
    import pytest

    with pytest.raises(FileNotFoundError, match="no JVM gateway"):
        input_bytes(_NoJvm(), str(tmp_path / "nope"))


def test_default_shuffle_partitions_carry_aqe_headroom():
    """r14 scale finding: x31's explode-amplified bigram shuffle reads
    30.0 s at x100 with initial partitions = cores (32) and 5.0 s at
    128. AQE coalesces an over-provisioned shuffle down at runtime
    but can never split an under-provisioned one, so the session
    default carries 4x headroom."""
    from streaming_data_spark.session import _default_shuffle_partitions

    assert _default_shuffle_partitions(32) == 128
    assert _default_shuffle_partitions(8) == 32


def test_autosize_floor_includes_current_session_setting(spark, tmp_path):
    """Autosizing only ever RAISES: with the session already above the
    byte-derived count, the current setting is kept (the same
    asymmetry as the 4x default — undershoot is the direction AQE
    cannot repair)."""
    from streaming_data_spark.session import autosize_shuffle_partitions

    old = spark.conf.get(BATCH_PARTITIONS_KEY)
    current = spark.sparkContext.defaultParallelism + 64
    try:
        spark.conf.set(BATCH_PARTITIONS_KEY, str(current))
        (tmp_path / "t.bin").write_bytes(b"x" * 1024)
        n = autosize_shuffle_partitions(spark, str(tmp_path))
        assert n == current  # floor = max(parallelism, current)
    finally:
        spark.conf.set(BATCH_PARTITIONS_KEY, old)


# -- two partition counts: batch ceiling vs fixed (streaming state) -----


@pytest.fixture()
def restore_partition_counts(spark):
    """get_session re-applies its confs to the live test session; put
    both counts back so later tests see the fixture's settings."""
    old = {k: spark.conf.get(k) for k in (_FIXED_KEY, BATCH_PARTITIONS_KEY)}
    yield
    for key, value in old.items():
        spark.conf.set(key, value)


def test_session_pins_fixed_count_to_cores_and_batch_count_to_ceiling(
    spark, restore_partition_counts
):
    """Stateful streaming and AQE-off plans get one partition per core;
    batch AQE plans start from 4x cores, or the ``shuffle_partitions``
    argument, and coalesce down."""
    cores = _local_cores()
    s = get_session()
    assert s.conf.get(_FIXED_KEY) == str(cores)
    assert s.conf.get(BATCH_PARTITIONS_KEY) == str(4 * cores)
    assert batch_shuffle_partitions(s) == 4 * cores
    s = get_session(shuffle_partitions=3)
    assert s.conf.get(_FIXED_KEY) == str(cores)
    assert s.conf.get(BATCH_PARTITIONS_KEY) == "3"
    assert batch_shuffle_partitions(s) == 3


def test_batch_shuffle_partitions_falls_back_to_fixed_key(
    spark, restore_partition_counts
):
    """A session not built by get_session has no AQE initial count; its
    batch plans start from spark.sql.shuffle.partitions."""
    spark.conf.unset(BATCH_PARTITIONS_KEY)
    spark.conf.set(_FIXED_KEY, "13")
    assert batch_shuffle_partitions(spark) == 13


def test_batch_groupby_initial_exchange_uses_batch_count(
    spark, restore_partition_counts
):
    s = get_session()
    df = s.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    initial = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in initial
    parts = re.findall(r"Exchange hashpartitioning\(.*, (\d+)\)", initial)
    assert parts == [str(batch_shuffle_partitions(s))]
    assert parts != [s.conf.get(_FIXED_KEY)]


def _dedup_state_instances(spark, src, ckpt, n_file):
    """Add one file of events, drain a dedup_stream query over ``src``
    from ``ckpt`` and return the state-store instance counts it
    reported."""
    from streaming_data_spark.streaming import pipeline as sp

    with open(os.path.join(src, f"part-{n_file}.json"), "w") as fh:
        for i in range(20):
            fh.write(json.dumps({"id": i % 5 + 10 * n_file,
                                 "ts": f"2024-01-01 00:00:{i:02d}"}) + "\n")
    stream = spark.readStream.schema("id long, ts timestamp").json(src)
    query = sp.run_to_completion(
        sp.dedup_stream(stream, ["id"], "ts")
        .writeStream.format("noop").option("checkpointLocation", ckpt)
    )
    return {op["numStateStoreInstances"]
            for p in query.recentProgress
            for op in json.loads(p.json)["stateOperators"]}


def test_dedup_stream_state_partitions_follow_fixed_count_and_checkpoint(
    spark, tmp_path, restore_partition_counts
):
    """A new streaming query gets one state store per core; a query
    restarted from a checkpoint made with another count keeps the
    checkpoint's count (Spark restores it from the offset log)."""
    s = get_session()
    src = tmp_path / "src"
    src.mkdir()
    fresh = _dedup_state_instances(s, str(src), str(tmp_path / "fresh"), 0)
    assert fresh == {s.sparkContext.defaultParallelism}

    s.conf.set(_FIXED_KEY, "8")
    ckpt = str(tmp_path / "eight")
    assert _dedup_state_instances(s, str(src), ckpt, 1) == {8}
    s.conf.set(_FIXED_KEY, str(_local_cores()))
    assert _dedup_state_instances(s, str(src), ckpt, 2) == {8}


def test_default_driver_memory_leaves_half_the_host(monkeypatch):
    """The driver heap default is sized from physical memory (half,
    1g..32g), not a fixed 32g that a small host cannot back;
    SPARK_GRAFT_DRIVER_MEM stays the override."""
    from streaming_data_spark import session

    phys_gib = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 30
    mem = session._default_driver_memory()
    assert mem.endswith("g")
    assert 1 <= int(mem[:-1]) <= min(32, max(1, phys_gib // 2))

    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (15 << 30) // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session._default_driver_memory() == "7g"
    pages["SC_PHYS_PAGES"] = (512 << 30) // 4096
    assert session._default_driver_memory() == "32g"
    pages["SC_PHYS_PAGES"] = (1 << 30) // 4096
    assert session._default_driver_memory() == "1g"

"""Spill-aware conf sizing (session.size_shuffle): the arithmetic that
keeps reduce partitions in the 128-256 MB band at any scale, and the
session's one-wave default it floors to."""

from __future__ import annotations

import pytest

from elevate_data_pipeline_spark.session import (
    MAX_SCAN_SPLIT_BYTES,
    MIN_SCAN_SPLIT_BYTES,
    TARGET_SHUFFLE_PARTITION_BYTES,
    get_spark,
    size_shuffle,
)

TB = 1 << 40


def test_partitions_cover_bytes_and_fill_waves():
    s = size_shuffle(TB, n_executors=100, cores_per_executor=8)
    # enough partitions that each holds <= the target bytes
    assert s["shuffle_partitions"] * TARGET_SHUFFLE_PARTITION_BYTES >= TB
    # whole waves: a multiple of total cores
    assert s["shuffle_partitions"] % 800 == 0
    assert s["conf"]["spark.sql.shuffle.partitions"] == str(s["shuffle_partitions"])


def test_100tb_on_1000_executors_stays_in_band():
    s = size_shuffle(100 * TB, n_executors=1000, cores_per_executor=8)
    per_partition = 100 * TB / s["shuffle_partitions"]
    assert per_partition <= TARGET_SHUFFLE_PARTITION_BYTES
    # but not absurdly over-split: within one extra wave of the minimum
    assert per_partition > TARGET_SHUFFLE_PARTITION_BYTES / 2
    assert s["max_partition_bytes"] == MAX_SCAN_SPLIT_BYTES


def test_small_input_floors_to_one_wave_and_min_split():
    s = size_shuffle(1 << 20, n_executors=1, cores_per_executor=32)
    assert s["shuffle_partitions"] == 32  # one wave, never fewer
    assert s["max_partition_bytes"] == MIN_SCAN_SPLIT_BYTES


def test_shuffle_fraction_scales_reduce_side_only():
    full = size_shuffle(10 * TB, 100, 8, shuffle_fraction=1.0)
    pruned = size_shuffle(10 * TB, 100, 8, shuffle_fraction=0.1)
    assert pruned["shuffle_partitions"] < full["shuffle_partitions"]
    assert pruned["max_partition_bytes"] == full["max_partition_bytes"]


def test_rejects_bad_inputs():
    with pytest.raises(ValueError):
        size_shuffle(0)
    with pytest.raises(ValueError):
        size_shuffle(TB, shuffle_fraction=0.0)


def test_get_spark_defaults_shuffle_partitions_to_one_wave(spark):
    """Without an override get_spark sets shuffle partitions to the
    session's core count (one wave); an explicit override wins."""
    dp = spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(dp + 1))
        assert get_spark("edp-tests") is spark
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(dp)
        get_spark("edp-tests", **{"spark.sql.shuffle.partitions": str(dp + 3)})
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(dp + 3)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

"""Per-job derived input-split sizing (round 4): the scaling-efficiency fix
must stay a pure function with the documented clamps."""

from intelligent_log_analysis_anomaly_detection_tool_spark.session import (
    derive_max_partition_bytes,
)

MIB = 1024 * 1024


def test_cap_at_stock_default():
    # 100 TB on 1000 executors x 8 cores: formula >> cap -> stock 128 MB
    assert derive_max_partition_bytes(100 * 1024**4, 8000) == 128 * MIB


def test_floor_guards_small_inputs():
    # high parallelism (>= 16 cores): stock 128 MB, full stop — every
    # sub-stock split measured WORSE on the local[32] concurrent DAG
    # (58 s at 128 MB vs 66-137 s at 96/24/8 MB, BENCH.md round 4)
    assert derive_max_partition_bytes(200 * MIB, 32) == 128 * MIB
    assert derive_max_partition_bytes(200 * MIB, 64) == 128 * MIB
    # low parallelism: 24 MB floor above the per-task-overhead knee
    assert derive_max_partition_bytes(200 * MIB, 8) == 24 * MIB
    assert derive_max_partition_bytes(200 * MIB, 2) == 25 * MIB


def test_mid_range_targets_waves():
    # 820 MB at 8 cores -> ~32 tasks (4 waves) instead of ~7 stragglers
    got = derive_max_partition_bytes(820 * MIB, 8)
    assert abs((820 * MIB) / got - 32) < 2


def test_degenerate_inputs_fall_back_to_cap():
    assert derive_max_partition_bytes(0, 8) == 128 * MIB
    assert derive_max_partition_bytes(10 * MIB, 0) == 128 * MIB

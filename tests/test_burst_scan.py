"""W3 trim-on-emit step (burst.burst_scan) on hand-built epoch sequences:
the one kernel the batch scan and the streaming state function share."""

from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.burst import (
    burst_scan,
)


def test_fires_at_min_repeats():
    rows, counts, firsts, lasts, kept = burst_scan(list(range(5)), [], 60, 5)
    assert (rows, counts, firsts, lasts) == ([4], [5], [0], [4])
    # a fire AT min_repeats keeps the whole deque
    assert kept == [0, 1, 2, 3, 4]


def test_fire_above_min_repeats_trims_to_half():
    rows, counts, firsts, lasts, kept = burst_scan(list(range(6)), [], 60, 5)
    assert (rows, counts, firsts, lasts) == ([4, 5], [5, 6], [0, 0], [4, 5])
    assert kept == [4, 5]  # last min_repeats // 2 events
    # the refill fires again once the trimmed deque is back at min_repeats
    rows, counts, firsts, _, kept = burst_scan([6, 7, 8], kept, 60, 5)
    assert (rows, counts, firsts) == ([2], [5], [4])
    assert kept == [4, 5, 6, 7, 8]


def test_eviction_keeps_row_exactly_window_old():
    rows, counts, firsts, _, kept = burst_scan([0, 30, 60], [], 60, 3)
    assert (rows, counts, firsts) == ([2], [3], [0])
    assert kept == [0, 30, 60]
    rows, _, _, _, kept = burst_scan([0, 30, 61], [], 60, 3)
    assert rows == []
    assert kept == [30, 61]


def test_carried_state_equals_one_call():
    """Any split of a sequence into consecutive calls (Arrow batches of one
    group, or streaming triggers) gives the fires of a single call."""
    epochs = []
    t = 0
    for gap in [1] * 25 + [70] + [2] * 30 + [0] * 12 + [61, 5, 5] + [1] * 40:
        t += gap
        epochs.append(t)
    whole = burst_scan(epochs, [], 60, 8)
    assert len(whole[0]) > 10  # fires, trims and refills along the way
    for cuts in ([7], [8, 9], [30, 31, 32, 33], list(range(1, len(epochs)))):
        got = [[], [], [], []]
        kept = []
        for lo, hi in zip([0, *cuts], [*cuts, len(epochs)]):
            rows, counts, firsts, lasts, kept = burst_scan(
                epochs[lo:hi], kept, 60, 8
            )
            got[0] += [lo + r for r in rows]
            got[1] += counts
            got[2] += firsts
            got[3] += lasts
        assert tuple(got) == whole[:4], cuts
        assert kept == whole[4], cuts

"""The closed loop's bookkeeping and the tail percentile rule."""

from harness import closed_loop, tail_percentile


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert tail_percentile([1.0] * 99) is None
    assert tail_percentile(list(range(100))) == ("p90", 89)
    assert tail_percentile(list(range(1000))) == ("p99", 989)


def test_closed_loop_times_only_the_block_and_counts_failures():
    calls = []

    def step(i, timed):
        calls.append(i)
        if i == 1:
            raise ValueError("repetition 1 fails")
        with timed() as extra:
            extra["i"] = i

    settled = []
    samples, raised = closed_loop(step, 0, min_reps=3, settle=lambda: settled.append(1))
    assert calls == [0, 1, 2]
    assert raised == 1
    assert [s.extra["i"] for s in samples] == [0, 2]
    assert len(settled) == 2
    assert all(s.wall_s >= 0 and s.cpu_s >= 0 and s.io_mb >= 0 for s in samples)

"""Span self-time arithmetic and the per-layer roll-up."""

from spans import GroupStats, Segments, Span, Tracer, covered, layer_table, self_times


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    # clipped to the parent's interval; empty and inverted pieces ignored
    assert covered([(-5, 2), (9, 20), (4, 4)], 0, 10) == 3


def test_self_time_subtracts_children_not_grandchildren():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("rep", "r0"):
        clock.t = 1
        with tr.span("a", "r0"):
            clock.t = 2
            with tr.span("b", "r0"):
                clock.t = 5
            clock.t = 6
        clock.t = 7
        with tr.span("c", "r0"):
            clock.t = 9
        clock.t = 10
    st = self_times(tr.spans)
    by_name = {s.name: st[s.sid] for s in tr.spans}
    # rep: 10 - (a: 1..6) - (c: 7..9) ; a: 5 - (b: 2..5)
    assert by_name == {"rep": 3, "a": 2, "b": 3, "c": 2}
    assert [s.parent for s in tr.spans] == [None, 0, 1, 0]


def test_overlapping_children_are_not_double_counted():
    spans = [
        Span(0, "p", "r", None, 0, 10),
        Span(1, "x", "r", 0, 1, 6),
        Span(2, "y", "r", 0, 4, 8),
    ]
    assert self_times(spans)[0] == 3


def test_counts_go_to_innermost_open_span():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    with tr.span("pipeline", "r0") as outer:
        tr.count("commits", 1)
        with tr.span("snapshots", "r0"):
            pass
        tr.count("commits", 1)
    assert outer.counts == {"commits": 2}


def test_layer_table_sums_per_rep_and_takes_median():
    spans = [
        Span(0, "extract", "t1", None, 0, 2, {"rows_out": 10}),
        Span(1, "extract", "t1", None, 3, 4, {"rows_out": 5}),
        Span(2, "extract", "t3", None, 10, 11, {"rows_out": 15}),
        Span(3, "extract", "t5", None, 20, 25, {"rows_out": 16}),
        Span(4, "scoring", "t1", None, 4, 5),
    ]
    groups = {
        spans[0].group: GroupStats(jobs=1, tasks=2, shuffle_bytes=2_000_000, run_ms=[10, 30]),
        spans[1].group: GroupStats(jobs=1, tasks=1, spill_bytes=500_000, run_ms=[20]),
        "perfbench/other": GroupStats(jobs=9),
    }
    table = layer_table(spans, groups)
    ex = table["extract"]
    # per-rep sums: wall t1 = 2 + 1, t3 = 1, t5 = 5; rows 15, 15, 16
    assert ex["wall_s"] == 3
    assert ex["rows_out"] == 15
    # only t1 ran jobs: the medians over three reps are 0 ...
    assert ex["jobs"] == 0 and ex["shuffle_mb"] == 0
    # ... and one rep alone gives its own pooled values
    t1 = layer_table(spans[:2], groups)["extract"]
    assert t1["jobs"] == 2 and t1["tasks"] == 3
    assert t1["shuffle_mb"] == 2 and t1["spill_mb"] == 0.5
    assert t1["task_skew"] == 30 / 20
    assert table["scoring"]["wall_s"] == 1 and table["scoring"]["jobs"] == 0


def test_task_skew_without_tasks_is_zero():
    assert GroupStats().task_skew == 0
    assert GroupStats(run_ms=[0, 0, 4]).task_skew == 4


def test_segments_end_at_commits_and_are_named_by_the_committed_table():
    clock = FakeClock()
    tr = Tracer(clock=clock)
    layer = {"mentions": "extract", "pairs": "pairs"}.get
    with tr.span("pipeline", "r0"):
        clock.t = 1
        with Segments(tr, "r0", lambda t: layer(t, "pipeline"), "pipeline") as seg:
            clock.t = 3
            with tr.span("snapshots", "r0"):  # the commit runs inside its segment
                clock.t = 4
            seg.committed("mentions")
            clock.t = 6
            seg.committed("pairs")
            clock.t = 7
            seg.committed("lineage")
            clock.t = 9
        clock.t = 10
    got = [(s.name, s.parent, s.start, s.end) for s in tr.spans]
    assert got == [
        ("pipeline", None, 0, 10),
        ("extract", 0, 1, 4),
        ("snapshots", 1, 3, 4),
        ("pairs", 0, 4, 6),
        ("pipeline", 0, 6, 7),
        ("pipeline", 0, 7, 9),
    ]
    st = self_times(tr.spans)
    assert [st[s.sid] for s in tr.spans] == [2, 2, 1, 2, 1, 2]


def test_finish_rejects_a_span_that_is_not_innermost():
    tr = Tracer(clock=FakeClock())
    outer = tr.begin("a", "r0")
    tr.begin("b", "r0")
    try:
        tr.finish(outer)
    except RuntimeError:
        pass
    else:
        raise AssertionError("finish accepted an outer span")

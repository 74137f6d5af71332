import pytest

from perfbench import spans


def test_union_length_merges_and_clips():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert spans.union_length([(0, 10)], 2, 5) == 3.0
    assert spans.union_length([(0, 1), (4, 6)], 2, 5) == 1.0
    assert spans.union_length([(3, 2)]) == 0.0


def test_self_time_subtracts_union_of_children():
    ss = [
        spans.Span("root", 0.0, 10.0, None),
        spans.Span("a", 1.0, 4.0, 0),
        spans.Span("b", 3.0, 6.0, 0),  # overlaps a: counted once
        spans.Span("a.inner", 1.5, 2.0, 1),
        spans.Span("c", 9.0, 12.0, 0),  # runs past its parent: clipped
    ]
    st = spans.self_times(ss)
    assert st == pytest.approx([10 - 5 - 1, 3 - 0.5, 3, 0.5, 3])
    by_name = spans.self_time_by_name(ss + [spans.Span("a", 20.0, 21.0, None)])
    assert by_name["a"] == pytest.approx(2.5 + 1)


def test_recorder_nests_and_records_self_time():
    rec = spans.Recorder()
    with rec.span("outer") as o:
        with rec.span("inner") as i:
            pass
    assert rec.spans[i].parent == o and rec.spans[o].parent is None
    assert rec.spans[o].end >= rec.spans[i].end >= rec.spans[i].start >= rec.spans[o].start
    d = rec.as_dicts()
    assert d[0]["self_s"] == pytest.approx(rec.spans[o].dur - rec.spans[i].dur)


def test_recorder_closes_span_on_error():
    rec = spans.Recorder()
    with pytest.raises(ValueError):
        with rec.span("boom"):
            raise ValueError
    assert rec.spans[0].end == rec.spans[0].end  # not NaN
    with rec.span("next") as n:
        pass
    assert rec.spans[n].parent is None


def test_added_span_is_a_child_of_the_open_span():
    rec = spans.Recorder()
    with rec.span("call") as c:
        rec.add("gap", rec.spans[c].start, rec.spans[c].start)
    rec.add("top", 1.0, 2.0)
    assert rec.spans[1].parent == c and rec.spans[1].dur == 0.0
    assert rec.spans[2].parent is None and rec.spans[2].dur == 1.0

from perfbench.trace import Tracer, self_times, subtree_ids, union_length


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end}


def test_union_length_merges_overlaps():
    assert union_length([(1, 3), (2, 5), (7, 8)]) == 5
    assert union_length([]) == 0


def test_self_time_subtracts_covered_child_time():
    spans = [span(0, None, 0, 10), span(1, 0, 1, 3), span(2, 0, 2, 5),
             span(3, 0, 7, 8), span(4, 1, 1.5, 2.5)]
    st = self_times(spans)
    assert st[0] == 10 - 5  # children cover [1,5] and [7,8]
    assert st[1] == 2 - 1   # grandchild counts against its parent only
    assert st[4] == 1


def test_child_outside_parent_is_clipped():
    st = self_times([span(0, None, 0, 4), span(1, 0, 3, 6)])
    assert st[0] == 3


def test_tracer_nests_and_disabled_records_nothing():
    tr = Tracer("r1")
    with tr.span("op"):
        with tr.span("build.merge", n=1):
            pass
    assert [(s["name"], s["parent"], s["run_id"]) for s in tr.spans] == [
        ("op", None, "r1"), ("build.merge", 0, "r1")]
    assert tr.spans[1]["attrs"] == {"n": 1}
    assert subtree_ids(tr.spans, 0) == {0, 1}
    off = Tracer("r2", enabled=False)
    with off.span("op"):
        pass
    assert off.spans == []

"""Self-time arithmetic and graceful degradation of the kernel tracer."""

import types

import pytest

from perfbench import ktrace

FAKE_EXTRACT = '''
def parse_all_objects(data):
    clock[0] += 3
    return {(1, 0): "a", (2, 0): "b", (3, 0): "c", (4, 0): "d"}

def resolve(value, objects):
    return objects.get((value.obj_id, value.gen))

def _content_events(content, depth=0):
    clock[0] += 5
    yield ("text", 1)
    if depth == 0:  # a form XObject, executed in place
        yield from _content_events(content, depth + 1)
    clock[0] += 2
    yield ("text", 2)

def kernel(data):
    objects = parse_all_objects(data)
    for key in ((1, 0), (1, 0), (2, 0), (9, 0)):
        resolve(Ref(*key), objects)
    spans = []
    for ev in _content_events(data):
        clock[0] += 1  # emit
        spans.append(ev)
    return {"spans": spans, "errors": []}
'''


class Ref:
    def __init__(self, obj_id, gen):
        self.obj_id, self.gen = obj_id, gen


def fake_modules(clock, source=FAKE_EXTRACT):
    objects = types.ModuleType("fake_objects")
    objects.Ref = Ref
    extract = types.ModuleType("fake_extract")
    extract.clock, extract.Ref = clock, Ref
    exec(source, extract.__dict__)
    return extract, objects


@pytest.fixture
def clock(monkeypatch):
    c = [0]
    monkeypatch.setattr(ktrace, "_now", lambda: c[0])
    return c


def run_one(extract, objects):
    tracer = ktrace.Tracer(extract, objects)
    with tracer.installed():
        tracer.begin_doc()
        res = extract.kernel(b"")
        tracer.end_doc()
    return tracer, res


def test_self_times_subtract_direct_children_only():
    spans = [
        ["root", 0, 100, -1],
        ["a", 10, 40, 0],
        ["a", 15, 25, 1],  # nested under the first "a"
        ["b", 50, 70, 0],
    ]
    selfs, root = ktrace.self_times(spans)
    assert selfs == {"root": 50, "a": 30 - 10 + 10, "b": 20}
    assert root == 100 == sum(selfs.values())


def test_nested_content_events_self_time_and_counts(clock):
    extract, objects = fake_modules(clock)
    tracer, res = run_one(extract, objects)
    m = ktrace.layer_metrics(tracer)
    # outer 5 + 2, form 5 + 2: all tokenizing work, none double counted
    assert m["core.content.tokenize_us"] == pytest.approx(14 / 1e3)
    assert m["core.xref.parse_us"] == pytest.approx(3 / 1e3)
    assert m["core.extract.emit_us"] == pytest.approx(4 / 1e3)
    assert m["core.extract.kernel_us"] == pytest.approx(21 / 1e3)
    # the consumer saw 4 events; the form's are not counted twice
    assert len(res["spans"]) == 4 == m["core.content.events_per_doc"]
    # 2 distinct existing refs of 4 parsed objects; the dangling one is not reached
    assert m["core.xref.objects_reached_frac"] == 0.5
    assert m["core.xref.objects_per_doc"] == 4
    phases = sum(v for k, v in m.items() if k.endswith("_us") and k != "core.extract.kernel_us" and v)
    assert phases == pytest.approx(m["core.extract.kernel_us"])


def test_wrappers_are_removed_after_the_block(clock):
    extract, objects = fake_modules(clock)
    orig = extract._content_events
    run_one(extract, objects)
    assert extract._content_events is orig


def test_missing_name_reports_null_and_root_still_reports(clock):
    # the parse phase renamed away, as a lazy document open would do
    extract, objects = fake_modules(clock, FAKE_EXTRACT.replace("parse_all_objects", "open_document"))
    tracer, _ = run_one(extract, objects)
    assert "parse_all_objects" in tracer.missing
    m = ktrace.layer_metrics(tracer)
    assert m["core.xref.parse_us"] is None
    assert m["core.xref.objects_per_doc"] is None
    assert m["core.xref.objects_reached_frac"] is None
    assert m["core.extract.kernel_us"] > 0
    assert m["core.content.tokenize_us"] == pytest.approx(14 / 1e3)

import sys
import types

import pytest

from tracing import (
    JobView,
    LayerHook,
    Span,
    Tracer,
    layer_shares,
    self_times,
    traced_layers,
)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("job", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a: union is 1..6
        Span("c", 2.0, 3.0, parent=1),  # grandchild: only a loses it
        Span("d", 9.0, 12.0, parent=0),  # clipped to the parent's end
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 2, 3, 1, 3])


def test_tracer_links_parents_and_jobs():
    t = Tracer()
    with t.job(7):
        with t.span("migrate.run"):
            with t.span("readers.read_table"):
                pass
        assert t.first_in_job("casts.exec")
        assert not t.first_in_job("casts.exec")
    with t.span("outside"):
        pass
    names = [(s.name, s.parent, s.job_id) for s in t.spans]
    assert names == [("job", None, 7), ("migrate.run", 0, 7),
                     ("readers.read_table", 1, 7), ("outside", None, None)]
    assert all(s.end >= s.start for s in t.spans)


def _view():
    spans = [
        Span("job", 0.0, 10.0, job_id=1),
        Span("migrate.run", 0.0, 6.0, parent=0, job_id=1,
             counters={"jobs": 1}),
        Span("readers.scan", 0.5, 1.0, parent=1, job_id=1, probe=True,
             counters={"jobs": 5}),
        Span("casts.exec", 1.0, 1.75, parent=1, job_id=1, probe=True),
        Span("sinks.write_table", 2.0, 5.0, parent=1, job_id=1,
             counters={"jobs": 2, "input_records": 40}),
        Span("migrate.verify", 6.0, 9.0, parent=0, job_id=1,
             counters={"jobs": 3}),
        Span("job", 20.0, 21.0, job_id=2),
    ]
    return JobView(spans, 1)


def test_job_view_metrics():
    v = _view()
    assert len(v.spans) == 6  # job 2 is left out
    assert v.marginal("casts.exec", "readers.scan") == pytest.approx(0.25)
    assert v.marginal("mapping.exec", "casts.exec") == 0.0
    assert v.readback_count_s() == pytest.approx(1.0)
    # probes are tracing overhead, not engine work
    assert v.engine_counter("jobs") == 6
    assert v.engine_counter("jobs", under=("migrate.run",)) == 3
    assert v.engine_counter("input_records") == 40


def test_layer_shares_add_up_to_the_job():
    v = _view()
    shares = layer_shares(v)
    assert sum(shares.values()) == pytest.approx(10.0)
    assert shares["trace-probes"] == pytest.approx(1.25)
    assert shares["bench-loop"] == pytest.approx(1.0)


def test_traced_layers_wraps_and_restores(monkeypatch):
    mod = types.ModuleType("fake_layer")
    mod.build = lambda x, k=0: ("plan", x, k)
    monkeypatch.setitem(sys.modules, "fake_layer", mod)
    original = mod.build
    t = Tracer()
    with traced_layers(t, [LayerHook("fake_layer", "build", "fake.build")]):
        with t.job(0):
            assert mod.build(1, k=2) == ("plan", 1, 2)
    assert mod.build is original
    assert [s.name for s in t.spans] == ["job", "fake.build"]
    assert t.spans[1].parent == 0


def test_traced_layers_restores_after_an_error(monkeypatch):
    mod = types.ModuleType("fake_layer")
    mod.build = lambda: 1
    monkeypatch.setitem(sys.modules, "fake_layer", mod)
    original = mod.build
    with pytest.raises(ZeroDivisionError):
        with traced_layers(Tracer(),
                           [LayerHook("fake_layer", "build", "fake.build")]):
            1 / 0
    assert mod.build is original


def test_spans_opened_by_a_probe_are_not_layer_time():
    spans = [
        Span("job", 0.0, 10.0, job_id=1),
        Span("text.minhash_signatures", 1.0, 2.0, parent=0, job_id=1),
        Span("dedup.probe", 3.0, 6.0, parent=0, job_id=1, probe=True),
        Span("text.minhash_signatures", 4.0, 5.0, parent=2, job_id=1),
    ]
    v = JobView(spans, 1)
    assert v.total("text.minhash_signatures") == pytest.approx(1.0)
    assert v.self_time("text.minhash_signatures") == pytest.approx(1.0)
    shares = layer_shares(v)
    assert shares["trace-probes"] == pytest.approx(3.0)
    assert shares["text"] == pytest.approx(1.0)


def test_candidate_count_runs_after_the_job(monkeypatch):
    calls = []
    cleared = []

    def minhash_lsh_pairs(df, diag=None):
        calls.append(diag is not None)
        if diag is not None:
            diag["candidate_pairs"] = 42
        return "pairs"

    mod = types.ModuleType("fake_dedup")
    mod.minhash_lsh_pairs = minhash_lsh_pairs
    monkeypatch.setitem(sys.modules, "fake_dedup", mod)
    df = types.SimpleNamespace(sparkSession=types.SimpleNamespace(
        catalog=types.SimpleNamespace(
            clearCache=lambda: cleared.append(True))))
    t = Tracer()
    hook = LayerHook("fake_dedup", "minhash_lsh_pairs", "dedup.lsh")
    with traced_layers(t, [hook]):
        with t.job(0):
            assert mod.minhash_lsh_pairs(df) == "pairs"
        # inside the job only the job's own call ran
        assert calls == [False]
    t.run_deferred()
    assert calls == [False, True] and cleared == [True]
    assert t.spans[1].attrs["candidate_pairs"] == 42
    assert not t.deferred

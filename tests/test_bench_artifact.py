"""bench.py per-query artifact target selection (VERDICT r14 #1).

Two consecutive rounds lost the driver's round-over-round per-query
comparison (PERF n_common=0) because an existing inferred-name
``BENCH_LOCAL_r{N}.json`` made the write silently skip.  The fix
falls back to a suffixed sibling on collision; these tests pin that
contract without importing Spark (the selector is pure filesystem
logic).
"""

from __future__ import annotations

import importlib.util
import os
import re

import pytest

_BENCH = os.path.join(os.path.dirname(__file__), "..", "bench.py")
_spec = importlib.util.spec_from_file_location("bench_mod", _BENCH)
bench_mod = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_mod)

select = bench_mod._select_local_target


def _touch(d, name):
    with open(os.path.join(d, name), "w") as f:
        f.write("{}")


def test_env_pinned_round_refreshes_own_artifact(tmp_path):
    d = str(tmp_path)
    _touch(d, "BENCH_LOCAL_r07.json")
    n, target = select(d, "7", 32)
    assert n == 7
    # pinned rounds are an intentional request: same name, even if it exists
    assert target == os.path.join(d, "BENCH_LOCAL_r07.json")


def test_env_pinned_round_moves_existing_artifact_aside(tmp_path):
    """A pinned round whose artifact exists keeps the old record under
    a name round inference never reads; a second pinned run keeps
    both earlier records."""
    d = str(tmp_path)
    _touch(d, "BENCH_r06.json")
    with open(os.path.join(d, "BENCH_LOCAL_r07.json"), "w") as f:
        f.write('{"old": 1}')
    n, target = select(d, "7", 32)
    assert n == 7 and target == os.path.join(d, "BENCH_LOCAL_r07.json")
    assert not os.path.exists(target)
    aside = os.path.join(d, "BENCH_LOCAL_r07_prev1.json")
    with open(aside) as f:
        assert f.read() == '{"old": 1}'
    for name in os.listdir(d):
        if name != "BENCH_r06.json":
            assert not re.fullmatch(r"BENCH_r\d+\.json", name)
            assert not re.fullmatch(r"BENCH_LOCAL_r\d+\.json", name)
    # round inference still reads only BENCH_r06.json
    assert select(d, None, 32)[0] == 7
    _touch(d, "BENCH_LOCAL_r07.json")
    select(d, "7", 32)
    assert sorted(os.listdir(d)) == [
        "BENCH_LOCAL_r07_prev1.json",
        "BENCH_LOCAL_r07_prev2.json",
        "BENCH_r06.json",
    ]


def test_inferred_round_is_max_bench_plus_one(tmp_path):
    d = str(tmp_path)
    _touch(d, "BENCH_r03.json")
    _touch(d, "BENCH_r14.json")
    n, target = select(d, None, 32)
    assert n == 15
    assert target == os.path.join(d, "BENCH_LOCAL_r15.json")


def test_collision_falls_back_to_core_suffix_not_skip(tmp_path):
    """The r13/r14 failure mode: inferred name exists -> the medians
    must land in a suffixed sibling, never be dropped."""
    d = str(tmp_path)
    _touch(d, "BENCH_r14.json")
    _touch(d, "BENCH_LOCAL_r15.json")
    n, target = select(d, None, 32)
    assert n == 15
    assert target == os.path.join(d, "BENCH_LOCAL_r15_32c.json")


def test_double_collision_counts_up(tmp_path):
    d = str(tmp_path)
    _touch(d, "BENCH_r14.json")
    _touch(d, "BENCH_LOCAL_r15.json")
    _touch(d, "BENCH_LOCAL_r15_8c.json")
    n, target = select(d, None, 8)
    assert target == os.path.join(d, "BENCH_LOCAL_r15_8c_2.json")


def test_inferred_never_overwrites(tmp_path):
    """Exhausted fallbacks yield None (no write) rather than clobber."""
    d = str(tmp_path)
    _touch(d, "BENCH_r14.json")
    _touch(d, "BENCH_LOCAL_r15.json")
    _touch(d, "BENCH_LOCAL_r15_32c.json")
    for k in range(2, 10):
        _touch(d, f"BENCH_LOCAL_r15_32c_{k}.json")
    n, target = select(d, None, 32)
    assert target is None


def test_malformed_env_round_falls_back_to_inference(tmp_path):
    d = str(tmp_path)
    _touch(d, "BENCH_r09.json")
    n, target = select(d, "ninety", 32)
    assert n == 10
    assert target == os.path.join(d, "BENCH_LOCAL_r10.json")


class _FakeState:
    def __init__(self):
        self.calls = []

    def update(self, batch, epoch_id=None, epoch_lineage=None):
        self.calls.append((batch, epoch_id, epoch_lineage))


class _OuterState(_FakeState):
    """An ``update`` that folds through another timed class."""

    def __init__(self):
        super().__init__()
        self.inner = _FakeState()

    def update(self, batch, epoch_id=None, epoch_lineage=None):
        self.inner.update(batch, epoch_id=epoch_id)
        self.calls.append((batch, epoch_id, epoch_lineage))


def test_timed_folds_records_each_fold_and_restores():
    """Draw-1 fold timings: inside the context every fold appends
    {op, epoch, sec} and passes its arguments through unchanged;
    outside it ``update`` is the class's own method again."""
    orig = _FakeState.update
    st = _FakeState()
    record: list = []
    with bench_mod.timed_folds([_FakeState], record):
        assert _FakeState.update is not orig
        st.update("b0", epoch_id=0, epoch_lineage="ck")
        st.update("b1", 1)
    assert _FakeState.update is orig
    st.update("b2", epoch_id=2)
    assert st.calls == [("b0", 0, "ck"), ("b1", 1, None), ("b2", 2, None)]
    assert [(r["op"], r["epoch"]) for r in record] == [
        ("_FakeState", 0),
        ("_FakeState", 1),
    ]
    assert all(isinstance(r["sec"], float) and r["sec"] >= 0 for r in record)


def test_timed_folds_counts_a_nested_fold_once():
    record: list = []
    outer = _OuterState()
    with bench_mod.timed_folds([_FakeState, _OuterState], record):
        outer.update("b", epoch_id=5)
    assert outer.inner.calls == [("b", 5, None)]
    assert [(r["op"], r["epoch"]) for r in record] == [("_OuterState", 5)]


def test_timed_folds_restores_after_a_failed_fold():
    class Boom(_FakeState):
        def update(self, batch, epoch_id=None, epoch_lineage=None):
            raise RuntimeError("boom")

    orig = Boom.update
    record: list = []
    with pytest.raises(RuntimeError, match="boom"):
        with bench_mod.timed_folds([Boom], record):
            Boom().update("b", epoch_id=0)
    assert Boom.update is orig and record == []


def test_fold_classes_define_their_own_update():
    """The wrapper swaps each class's OWN ``update`` attribute."""
    for cls in bench_mod._fold_classes():
        assert "update" in cls.__dict__

"""Spark-free unit tests for ParquetStateStore's manifest/ledger
semantics — the pure-Python protocol surface (epoch lineage scoping,
snapshot supersede arithmetic, partitioning persistence, monotone
high-water marks) that the heavier Spark tests exercise only
indirectly through full operator folds."""

from __future__ import annotations

import json
import os

from connected_component_spark.streaming.store import (
    MemEpochGuard,
    ParquetStateStore,
)


def _store(tmp_path):
    return ParquetStateStore(str(tmp_path / "st"))


def test_fresh_store_has_no_state(tmp_path):
    st = _store(tmp_path)
    assert st.manifest() is None
    assert st.committed() == 0
    assert st.last_epoch() is None
    assert not st.should_skip_epoch(0, "ck")


def test_commit_advances_ledger_and_epoch(tmp_path):
    st = _store(tmp_path)
    st.commit(0, {"p": 1}, epoch_id=0, tables=("a",), epoch_lineage="ck")
    st.commit(1, {"p": 1}, epoch_id=1, tables=("a", "b"), epoch_lineage="ck")
    m = st.manifest()
    assert m["batches"] == 2 and m["last_epoch"] == 1
    assert m["tables"] == {"a": [0, 1], "b": [1]}
    assert st.should_skip_epoch(1, "ck") and st.should_skip_epoch(0, "ck")
    assert not st.should_skip_epoch(2, "ck")


def test_epoch_skip_is_lineage_scoped(tmp_path):
    """A stream restarted on a fresh checkpoint numbers batches from 0
    again — different lineage, must NOT be skipped."""
    st = _store(tmp_path)
    st.commit(0, {}, epoch_id=3, tables=("a",), epoch_lineage="ck1")
    assert st.should_skip_epoch(3, "ck1")
    assert not st.should_skip_epoch(0, "ck2")
    assert not st.should_skip_epoch(3, "ck2")


def test_none_epoch_keeps_mark_monotone(tmp_path):
    """A direct (non-stream) update carries no epoch id — the stored
    high-water mark and lineage must survive it unchanged."""
    st = _store(tmp_path)
    st.commit(0, {}, epoch_id=5, tables=("a",), epoch_lineage="ck")
    st.commit(1, {}, epoch_id=None, tables=("a",))
    m = st.manifest()
    assert m["last_epoch"] == 5 and m["epoch_lineage"] == "ck"
    assert st.should_skip_epoch(5, "ck")


def test_snapshot_tables_supersede_prior_dirs(tmp_path):
    """A snapshot table keeps ONLY the latest committed dir in the
    ledger, and the superseded dir is removed from disk after the
    atomic swap."""
    st = _store(tmp_path)
    d0 = st._batch_dir("snap", 0)
    d1 = st._batch_dir("snap", 1)
    os.makedirs(d0)
    st.commit(0, {}, 0, tables=("snap",), snapshot_tables=("snap",))
    os.makedirs(d1)
    st.commit(1, {}, 1, tables=("snap",), snapshot_tables=("snap",))
    assert st.manifest()["tables"]["snap"] == [1]
    assert not os.path.exists(d0) and os.path.exists(d1)


def test_partitioning_persists_and_merges(tmp_path):
    st = _store(tmp_path)
    st.commit(0, {}, 0, tables=("idx",), partitioning={"idx": ("cell",)})
    # a later commit without the kwarg must not erase the declaration
    st.commit(1, {}, 1, tables=("idx",))
    assert st.manifest()["partitioning"] == {"idx": ["cell"]}


def test_manifest_write_is_atomic_no_temp_residue(tmp_path):
    st = _store(tmp_path)
    for i in range(5):
        st.commit(i, {}, i, tables=("a",))
    residue = [p for p in os.listdir(st.root) if p.startswith("._manifest_")]
    assert residue == []
    # the manifest on disk parses and matches the accessor view
    with open(os.path.join(st.root, "_manifest.json")) as fh:
        assert json.load(fh)["batches"] == st.committed() == 5


def test_mem_guard_mirrors_manifest_semantics():
    g = MemEpochGuard()
    assert not g.should_skip(0, "ck")
    g.mark(2, "ck")
    assert g.should_skip(2, "ck") and g.should_skip(1, "ck")
    assert not g.should_skip(3, "ck")
    assert not g.should_skip(2, "other")  # lineage-scoped
    g.mark(None, "ck")  # no-op: None never advances the mark
    assert g.should_skip(2, "ck")


def test_batch_has_data_and_discard(tmp_path):
    """r12: emptiness of a landed batch dir is derived from its DATA
    files (hidden/_SUCCESS entries don't count), and an uncommitted
    empty dir can be discarded without touching the ledger."""
    st = _store(tmp_path)
    bdir = os.path.join(st.root, "idx", "batch=000000")
    os.makedirs(os.path.join(bdir, "cell=3"))
    open(os.path.join(bdir, "_SUCCESS"), "w").close()
    open(os.path.join(bdir, "cell=3", ".part.crc"), "w").close()
    assert not st.batch_has_data("idx", 0)
    open(os.path.join(bdir, "cell=3", "part-0.parquet"), "w").close()
    assert st.batch_has_data("idx", 0)
    st.discard_batch("idx", 0)
    assert not os.path.exists(bdir)
    assert not st.batch_has_data("idx", 0)  # missing dir == no data


def test_write_many_surfaces_every_error(tmp_path, spark):
    """advice r11: when several concurrent state writes fail, ALL the
    errors surface (ExceptionGroup), not just the first-recorded one —
    and the single-failure path still raises the bare exception."""
    import pytest
    from pyspark.sql import functions as F

    st = _store(tmp_path)
    boom = spark.range(3).select(F.raise_error(F.lit("boom")).alias("x"))
    # single write: the bare exception propagates (no group wrapper)
    with pytest.raises(Exception, match="boom") as ei:
        st.write_many([("a", 0, boom)])
    assert not isinstance(ei.value, ExceptionGroup)
    # two failing writes: BOTH surface — either as an ExceptionGroup,
    # or (when fail-fast cancellation killed the sibling before it
    # recorded) whatever error the cancelled job raised; in every case
    # at least one underlying "boom" is visible and nothing committed
    with pytest.raises(Exception) as eg:
        st.write_many([("a", 1, boom), ("b", 1, boom)])
    errs = (
        list(eg.value.exceptions)
        if isinstance(eg.value, ExceptionGroup)
        else [eg.value]
    )
    assert any("boom" in str(e) for e in errs)
    # nothing above became visible: the fold never committed
    assert st.manifest() is None

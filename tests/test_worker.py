"""Engine tasks leave their Python worker without cached zip finders.

PySpark workers call importlib.invalidate_caches() before every task, and
on CPython 3.11 that re-parses the directory of every cached zipimporter.
These tests pin the mechanism (no timing): after a task body returns, no
zipimporter is cached, imports from the zip still work, and the task's
outputs are unchanged."""

import importlib
import importlib.machinery
import os
import sys
import zipfile
import zipimport

import numpy as np
import pyarrow.parquet as pq
import pyarrow.types as pt
import pytest

from jsonschema_infer_spark._worker import release_zip_finders
from jsonschema_infer_spark.config import default_config
from jsonschema_infer_spark.operators import state as S
from jsonschema_infer_spark.operators import validate as V
from jsonschema_infer_spark.operators.pipeline import _fused_task

MODS = ("jis_zip_probe_a", "jis_zip_probe_b")


def _zip_finders() -> list:
    return [
        p for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip holding two modules, first on sys.path; sys.path, the
    modules and their finders are restored afterwards."""
    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as z:
        for name in MODS:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    saved = list(sys.path)
    sys.path.insert(0, archive)
    importlib.invalidate_caches()
    try:
        yield archive
    finally:
        sys.path[:] = saved
        for name in MODS:
            sys.modules.pop(name, None)
        for p in [p for p in sys.path_importer_cache if p.startswith(archive)]:
            del sys.path_importer_cache[p]


def _run(path: str, out_dir, spec=None) -> tuple:
    """_fused_task over every row group of ``path`` as task 0."""
    n = pq.ParquetFile(path).metadata.num_row_groups
    return _fused_task(
        path, 0, n, default_config(), "conv_id", "turn_idx", str(out_dir), 0,
        None, spec,
    )


def _spec_for(path: str, out_dir) -> list:
    """The contract spec of ``path``, as constraint_spec derives it."""
    st, _ = _run(path, out_dir)
    temporal = {
        f.name for f in pq.ParquetFile(path).schema_arrow
        if pt.is_timestamp(f.type) or pt.is_date(f.type)
    }
    return V.constraint_spec(
        S.finalize(st, default_config()), state=st, temporal_cols=temporal
    )


def _partials(path) -> list:
    """A spilled part file's rows in a canonical order: arrow's threaded
    group_by emits groups and distinct turns in no fixed order. A
    partial's turns are its mask bits, else its list, else (an empty
    list) mn..mx."""
    rows = pq.read_table(path).to_pylist()
    for r in rows:
        m, t = r.pop("mask"), r["turns"]
        if m is not None:
            t = [b for b in range(64) if m >> b & 1]
        r["turns"] = sorted(t) if t else list(range(r["mn"], r["mx"] + 1))
    return sorted(rows, key=lambda r: r["conv"])


def test_fused_task_releases_zip_finders(tx_paths, zip_on_path, tmp_path):
    path = tx_paths["viol"]
    for d in ("spec", "base", "zip"):
        os.makedirs(tmp_path / d)
    spec = _spec_for(path, tmp_path / "spec")

    # the reference run: the zip is on sys.path but nothing imported from it
    saved = list(sys.path)
    sys.path.remove(zip_on_path)
    try:
        want = _run(path, tmp_path / "base", spec)
    finally:
        sys.path[:] = saved

    a = importlib.import_module(MODS[0])
    assert a.NAME == MODS[0]
    assert zip_on_path in _zip_finders()

    got = _run(path, tmp_path / "zip", spec)

    assert _zip_finders() == []
    b = importlib.import_module(MODS[1])
    assert b.NAME == MODS[1] and b.__file__.startswith(zip_on_path)

    assert len(got) == len(want) == 3
    assert S.state_to_jsonable(got[0]) == S.state_to_jsonable(want[0])
    assert got[1] == want[1] > 0
    assert np.array_equal(got[2], want[2])
    part = "part-00000.parquet"
    assert _partials(tmp_path / "zip" / part) == _partials(tmp_path / "base" / part)


def test_merge_task_releases_zip_finders(tx_paths, zip_on_path):
    import pyarrow as pa

    keys = pq.read_table(tx_paths["viol"], columns=["conv_id", "turn_idx"])
    parts = list(V._integrity_fold("conv_id", "turn_idx")(keys.to_batches()))
    want = V._merge_partials_local(pa.Table.from_batches(parts))
    assert want["dup_rows_excess"] > 0

    importlib.import_module(MODS[0])
    assert zip_on_path in _zip_finders()

    got = pa.Table.from_batches(list(V._merge_task(iter(parts)))).to_pylist()

    assert _zip_finders() == []
    assert got == [want]
    # a shuffle partition with no partials still yields its zero row
    empty = pa.Table.from_batches(list(V._merge_task(iter([])))).to_pylist()
    assert empty == [{"dup_rows_excess": 0, "ordering_violations": 0}]


def test_release_zip_finders_keeps_file_finders_and_is_idempotent(zip_on_path):
    importlib.import_module(MODS[0])
    file_finders = {
        p: f for p, f in sys.path_importer_cache.items()
        if isinstance(f, importlib.machinery.FileFinder)
    }
    assert file_finders and zip_on_path in _zip_finders()

    release_zip_finders()
    after_once = dict(sys.path_importer_cache)
    release_zip_finders()

    assert _zip_finders() == []
    assert dict(sys.path_importer_cache) == after_once
    for p, f in file_finders.items():
        assert sys.path_importer_cache[p] is f

"""The Python boundary of the index operators (index.py): the narrowed
zip rescan that every index kernel installs in its worker process, a
blob scan whose kernel returns no rows, and the update's touched cells
without a live blob, checked against brute force."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest

from kdtree_spark import bruteforce as bf
from kdtree_spark.grid import COORD_LIMIT, Grid
from kdtree_spark.index import (SpatialIndex, _rescan_changed_zips_only,
                                cell_lists, map_arrow, scan_blobs)
from kdtree_spark.queries.knn import knn_join
from kdtree_spark.queries.ranges import range_count, range_report

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, module: str, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", body)


def test_rewritten_zip_is_reread(tmp_path, monkeypatch):
    """An unchanged archive keeps its directory across
    importlib.invalidate_caches(); one rewritten on disk after a first
    import is re-read, and the new module body imports."""
    _rescan_changed_zips_only()
    name = f"kds_zip_{uuid.uuid4().hex[:8]}"
    z = str(tmp_path / f"{name}.zip")
    _write_zip(z, name, "VALUE = 1\n")
    monkeypatch.syspath_prepend(z)
    monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module(name).VALUE == 1
    importlib.invalidate_caches()  # a read that records the archive
    files = zipimport._zip_directory_cache[z]
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[z] is files  # not re-read
    _write_zip(z, name, "VALUE = 22  # a longer body\n")
    del sys.modules[name]
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[z] is not files
    assert importlib.import_module(name).VALUE == 22


def test_addpyfile_mid_session_imports_in_later_task(spark, tmp_path):
    """A .py file (and a zip) shipped with addPyFile after index kernels
    have run in the workers import in a later task."""
    keys = spark.createDataFrame(pd.DataFrame(
        {"k": np.arange(16, dtype=np.int64)}))

    def run(v):
        return map_arrow(keys, lambda c: {"k": c["k"], "v": [v()] * len(
            c["k"])}, "k long, v long").toPandas()

    assert len(run(lambda: 0)) == 16
    name = f"kds_late_{uuid.uuid4().hex[:8]}"
    (tmp_path / f"{name}.py").write_text("VALUE = 7\n")
    _write_zip(tmp_path / f"{name}_z.zip", f"{name}_z", "VALUE = 8\n")
    spark.sparkContext.addPyFile(str(tmp_path / f"{name}.py"))
    spark.sparkContext.addPyFile(str(tmp_path / f"{name}_z.zip"))

    def late():
        return (importlib.import_module(name).VALUE * 10
                + importlib.import_module(f"{name}_z").VALUE)
    got = run(late)
    assert len(got) == 16 and (got["v"] == 78).all()


_MARKER_SCRIPT = textwrap.dedent("""
    import json, os, sys, zipimport
    import numpy as np
    import pandas as pd
    sys.path.insert(0, sys.argv[1])
    from kdtree_spark.index import map_arrow
    from kdtree_spark.pipeline.common import sorted_group_map
    from kdtree_spark.session import get_spark

    spark = get_spark("worker-boundary", cpus=2, shuffle_partitions=8)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    MARK = "kds-boundary-marker/"
    SCHEMA = "pid long, task long, had boolean"

    def plant():
        from pyspark import TaskContext
        z = next(p for p in sys.path
                 if p.endswith(".zip") and p in zipimport._zip_directory_cache)
        files = zipimport._zip_directory_cache[z]
        had = MARK in files
        files[MARK] = next(iter(files.values()))
        return {"pid": [os.getpid()],
                "task": [TaskContext.get().taskAttemptId()], "had": [had]}

    keys = pd.DataFrame({"k": np.arange(32, dtype=np.int64)})
    left = spark.createDataFrame(keys.assign(a=1))
    # 24 tasks either way: map_arrow runs one task per partition of
    # the local frame (one per task thread), sorted_group_map one per
    # shuffle partition
    if sys.argv[2] == "map_arrow":
        run = lambda: map_arrow(left, lambda c: plant(), SCHEMA)
        runs = 12
    else:
        run = lambda: sorted_group_map(
            left, "k", lambda pdf: pd.DataFrame(plant()), SCHEMA)
        runs = 3
    rows = []
    for _ in range(runs):
        rows += [r.asDict() for r in run().collect()]
    spark.stop()
    print(json.dumps(rows))
""")


def _marked_tasks(path: str) -> None:
    """A marker key that one task plants in the zip directory cache of
    an archive on the worker path is still there in that worker's later
    tasks (a full rescan replaces the directory and drops it). Own
    session, 2 task threads, 24 tasks through `path`."""
    out = subprocess.run(
        [sys.executable, "-c", _MARKER_SCRIPT, ROOT, path], cwd=ROOT,
        capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    rows = pd.DataFrame(json.loads(out.stdout.strip().splitlines()[-1]))
    assert rows["task"].nunique() >= 8
    reused = 0
    for _, w in rows.groupby("pid"):
        first = w["task"].min()
        later = w[w["task"] > first]
        reused += later["task"].nunique()
        assert later["had"].all(), w.sort_values("task")
    assert reused >= 1  # some worker ran more than one task


def test_tasks_run_the_narrowed_rescan():
    """Index kernels really narrow the per-task rescan (index.map_arrow,
    the mapInArrow behind every blob scan)."""
    _marked_tasks("map_arrow")


def test_pandas_kernels_run_the_narrowed_rescan():
    """So do the pipelines' pandas kernels, in a fresh session whose
    workers never ran an index kernel (pipeline.common.sorted_group_map,
    a mapInPandas)."""
    _marked_tasks("sorted_group_map")


def _points(rng, n: int, fmode: bool, xmax: int) -> np.ndarray:
    if fmode:
        return np.column_stack([rng.uniform(0, xmax, n),
                                rng.uniform(0, COORD_LIMIT, n)])
    return np.column_stack([rng.integers(0, xmax, n),
                            rng.integers(0, COORD_LIMIT, n)])


@pytest.mark.parametrize("fmode", [False, True], ids=["int", "f64"])
def test_empty_side_groups_exact(spark, fmode):
    """Touched cells without a live blob, on Grid(4): an insert into a
    cell that has no blob row (the update's placeholder row builds its
    first tree), a delete of every point of one cell, then kNN queries
    whose home cell is the emptied cell (the needy path) and range
    count/report over it, then inserts back into the emptied cell,
    which must not gain a second (cell, salt) row — each step checked
    against brute force."""
    rng = np.random.default_rng(61 + fmode)
    grid = Grid(4)
    cw = grid.cw
    n, k = 3000, 5
    pts = _points(rng, n, fmode, 2 * cw)  # cells with cx in {0, 1} only
    live = dict(zip(range(n), map(tuple, pts)))

    def frame(ids, p, id_col="pid"):
        return spark.createDataFrame(pd.DataFrame(
            {id_col: np.asarray(ids, np.int64), "x": p[:, 0], "y": p[:, 1]}))

    def check(index, q, boxes):
        ids = np.array(list(live), np.int64)
        p = np.array(list(live.values()))
        got = (knn_join(index, frame(range(len(q)), q, "qid"), k)
               .toPandas().sort_values(["qid", "rank"]))
        exp_d, exp_i = bf.knn(p, ids, q, k)
        np.testing.assert_array_equal(
            got["nid"].to_numpy(np.int64).reshape(len(q), k), exp_i)
        np.testing.assert_allclose(
            got["dist_sq"].to_numpy(np.float64).reshape(len(q), k), exp_d)
        barr = np.array(boxes, np.int64)
        rc = (range_count(index, boxes).toPandas()
              .sort_values("box_id")["cnt"].to_numpy())
        np.testing.assert_array_equal(rc, bf.range_count(p, barr[:, 1:]))
        rr = range_report(index, boxes).toPandas()
        assert sorted(zip(rr["box_id"], rr["pid"])) == sorted(
            (b, i) for b, _, i in bf.range_report(p, ids, barr[:, 1:]))

    idx = SpatialIndex.build(spark, frame(list(live), pts), grid=grid,
                             n_hint=n)
    # the cell at cx = cy = 3 has no blob: its inserts build one
    new = _points(rng, 40, fmode, cw) % cw + 3 * cw
    new_ids = np.arange(n, n + len(new))
    idx = idx.update(inserts=frame(new_ids, new))
    live.update(zip(new_ids.tolist(), map(tuple, new)))
    corner = [(0, 3 * cw, 3 * cw, 4 * cw - 1, 4 * cw - 1)]
    check(idx, new[:4] - 7, corner)
    # every point of the cell at cx = cy = 0 goes
    gone = [i for i, (x, y) in live.items() if x < cw and y < cw]
    assert gone
    idx = idx.update(deletes=frame(gone, np.array([live[i] for i in gone])))
    for i in gone:
        del live[i]
    home0 = [(0, 0, 0, cw - 1, cw - 1), (1, cw // 2, cw // 2, cw + 5, cw + 5)]
    q = _points(rng, 6, fmode, cw) % cw  # home cell: the emptied one
    check(idx, q, home0 + [(2, *c[1:]) for c in corner])
    # the emptied cell keeps its blob row, so its next inserts go to
    # that row, not to a placeholder beside it
    back = _points(rng, 30, fmode, cw) % cw
    back_ids = np.arange(2 * n, 2 * n + len(back))
    idx = idx.update(inserts=frame(back_ids, back))
    live.update(zip(back_ids.tolist(), map(tuple, back)))
    assert idx.df.groupBy("cell", "salt").count().agg(
        {"count": "max"}).collect()[0][0] == 1
    check(idx, q, home0)


def test_salted_cell_with_an_empty_salt_exact(spark):
    """A cell salted at build (hot_cell_cap) whose pids leave one salt
    without points has blob rows for the other salts only; an update's
    inserts go to salts[pid % len(salts)] over those rows, and its
    deletes to whichever blob holds the pid. Every insert is found
    afterwards, and kNN and range count match brute force."""
    rng = np.random.default_rng(67)
    grid = Grid(4)
    cw = grid.cw
    n, k = 600, 5
    pts = _points(rng, n, False, cw) % cw  # one cell: cx = cy = 0
    # pid % 3 is never 2, so salt 2 of the cell's three gets no point
    ids = 3 * np.arange(n) + rng.integers(0, 2, n)
    live = dict(zip(ids.tolist(), map(tuple, pts)))

    def frame(i, p, id_col="pid"):
        return spark.createDataFrame(pd.DataFrame(
            {id_col: np.asarray(i, np.int64), "x": p[:, 0], "y": p[:, 1]}))

    idx = SpatialIndex.build(spark, frame(ids, pts), grid=grid, n_hint=n,
                             hot_cell_cap=250)
    salts = sorted(r["salt"] for r in idx.df.select("salt").collect())
    assert salts == [0, 1], salts
    new = _points(rng, 60, False, cw) % cw
    new_ids = np.arange(10**6, 10**6 + len(new))  # every residue mod 3
    gone = ids[:50]
    idx = idx.update(inserts=frame(new_ids, new),
                     deletes=frame(gone, pts[:50]))
    for i in gone.tolist():
        del live[i]
    live.update(zip(new_ids.tolist(), map(tuple, new)))
    assert sorted(r["salt"] for r in idx.df.select("salt").collect()) == [0, 1]
    p = np.array(list(live.values()))
    lid = np.array(list(live), np.int64)
    box = [(0, 0, 0, cw - 1, cw - 1), (1, cw // 4, cw // 4, cw // 2, cw)]
    rr = range_report(idx, box[:1]).toPandas()
    assert sorted(rr["pid"]) == sorted(lid.tolist())
    rc = range_count(idx, box).toPandas().sort_values("box_id")["cnt"]
    np.testing.assert_array_equal(
        rc.to_numpy(), bf.range_count(p, np.array(box, np.int64)[:, 1:]))
    q = _points(rng, 8, False, cw) % cw
    got = (knn_join(idx, frame(range(len(q)), q, "qid"), k)
           .toPandas().sort_values(["qid", "rank"]))
    exp_d, exp_i = bf.knn(p, lid, q, k)
    np.testing.assert_array_equal(
        got["nid"].to_numpy(np.int64).reshape(len(q), k), exp_i)
    np.testing.assert_allclose(
        got["dist_sq"].to_numpy(np.float64).reshape(len(q), k), exp_d)


def test_scan_blobs_empty_kernel_output_schema(spark):
    """A kernel that returns {} (no rows) through index.scan_blobs
    yields an empty frame whose columns and types are exactly the
    declared schema: map_arrow builds the empty table from that schema,
    not from what the kernel returned."""
    from pyspark.sql.types import _parse_datatype_string

    schema = ("qid long, x double, ub double, cell long, fin0 boolean, "
              "probe array<bigint>, blob binary")
    calls = spark.sparkContext.accumulator(0)

    def kernel(cell, salt, shapes, blob):
        calls.add(1)
        return {}

    blobs = spark.createDataFrame([(1, 0, b"a"), (2, 0, b"b"), (3, 0, b"c")],
                                  "cell long, salt int, blob binary")
    cells = cell_lists(spark, np.array([1, 2, 2]), {"qid": np.arange(3)})
    out = scan_blobs([blobs], cells, kernel, schema)
    assert out.collect() == []
    assert calls.value == 2  # the kernel ran, once per joined blob row
    assert out.schema == _parse_datatype_string(schema)
    got = out.toPandas()
    assert got.empty and list(got.columns) == out.columns

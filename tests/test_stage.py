"""``querylib.stage``: the one cache every Delta/Iceberg gate stages its
tables through — keyed by code and input content, built once under a
lock, marked only when complete."""

from __future__ import annotations

import ast
import glob
import importlib.util
import multiprocessing
import os
import re
import tempfile
import time

from databricks_import_pyspark_scripts_spark import querylib
from databricks_import_pyspark_scripts_spark.querylib import stage

QUERYLIB = os.path.dirname(querylib.__file__)


def _sf_dir(root, sub: str, payload: bytes) -> str:
    d = os.path.join(str(root), sub, "sf0.01")
    os.makedirs(d)
    with open(os.path.join(d, "events.parquet"), "wb") as f:
        f.write(payload)
    return d


def _build_slowly(path: str, log: str) -> None:
    with open(os.path.join(path, "A"), "w") as f:
        f.write("a")
    time.sleep(2.0)
    early = os.path.exists(f"{path}.staged")
    with open(os.path.join(path, "B"), "w") as f:
        f.write("b")
    with open(log, "a") as f:
        f.write(f"{os.getpid()} {int(early)}\n")


def _stage_in_child(sf_dir, tmp, log, barrier, out):
    tempfile.tempdir = tmp
    barrier.wait()
    t0 = time.monotonic()
    path = stage(sf_dir, "two_proc", lambda p: _build_slowly(p, log))
    out.put((path, time.monotonic() - t0,
             os.path.exists(os.path.join(path, "A")),
             os.path.exists(os.path.join(path, "B"))))


def test_two_processes_build_once(tmp_path):
    """Two spawned processes stage the same name over the same inputs at
    the same moment: one builds, the other waits on the lock and returns
    the finished table; the marker never precedes the build's last
    file."""
    tmp = str(tmp_path / "tmp")
    os.makedirs(tmp)
    sf_dir = _sf_dir(tmp_path, "in", b"rows")
    log = str(tmp_path / "builds.log")
    ctx = multiprocessing.get_context("spawn")
    barrier, out = ctx.Barrier(2), ctx.Queue()
    procs = [ctx.Process(target=_stage_in_child,
                         args=(sf_dir, tmp, log, barrier, out))
             for _ in range(2)]
    for p in procs:
        p.start()
    results = [out.get(timeout=120) for _ in procs]
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    with open(log) as f:
        builds = f.read().split()
    assert len(builds) == 2, builds          # one "pid early" line
    assert builds[1] == "0", "marker published before B was written"
    (path_a, wait_a, *files_a), (path_b, wait_b, *files_b) = results
    assert path_a == path_b
    assert files_a == files_b == [True, True]
    # the non-builder blocked on the lock instead of taking the fast path
    assert min(wait_a, wait_b) >= 1.0, (wait_a, wait_b)
    assert os.path.exists(f"{path_a}.staged")


def test_stage_key_tracks_code_and_inputs(tmp_path, monkeypatch):
    """Unchanged code and inputs reuse the build; changed code or
    different input files (even under the same basename) build anew in
    a new directory."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(querylib, "_DIGESTS", {})
    built = []

    def build(path):
        built.append(path)

    a = _sf_dir(tmp_path, "a", b"one")
    first = stage(a, "key", build)
    assert stage(a, "key", build) == first and built == [first]

    # changed code: a build defined in a module file whose bytes change
    # between two processes (a fresh digest memo stands in for the second)
    mod = tmp_path / "gate_mod.py"

    def load(src: str):
        mod.write_text(src)
        spec = importlib.util.spec_from_file_location("gate_mod", mod)
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)
        return m

    src = "BUILT = []\n\ndef build(path):\n    BUILT.append(path)\n"
    old = load(src)
    old_path = stage(a, "key", old.build)
    monkeypatch.setattr(querylib, "_DIGESTS", {})
    new = load(src + "# writer changed\n")
    new_path = stage(a, "key", new.build)
    assert new_path != old_path
    assert old.BUILT == [old_path] and new.BUILT == [new_path]

    # same basename, different input files: different table
    b = _sf_dir(tmp_path, "b", b"two-rows")
    assert os.path.basename(a) == os.path.basename(b)
    other = stage(b, "key", build)
    assert other != first and built == [first, other]


def test_gates_on_same_basename_inputs_read_their_own_data(
        spark, sf_dir, tmp_path, monkeypatch):
    """Two input directories named alike (``/a/sf0.001`` and
    ``/b/sf0.001``) holding different events stage different Delta
    tables, so each gate run reads its own data."""
    import pyarrow.parquet as pq

    from databricks_import_pyspark_scripts_spark.querylib import (
        delta_queries,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    counts = {}
    half = events.slice(0, len(events) // 2)
    for sub, rows in (("a", events), ("b", half)):
        d = tmp_path / sub / os.path.basename(sf_dir)
        d.mkdir(parents=True)
        pq.write_table(rows, str(d / "events.parquet"))
        counts[sub] = (delta_queries.delta_snapshot_agg(spark, str(d))
                       .filter("version = 1").groupBy().sum("n")
                       .collect()[0][0])
        assert counts[sub] == sum(e % 3 in (0, 1) for e in
                                  rows.column("event_id").to_pylist())
    assert counts["a"] != counts["b"]


def test_querylib_has_no_private_staging_cache():
    """Only ``stage`` creates gate staging directories: no other querylib
    code names the temp dir or a build marker, nor hand-versions a cache
    path, and every stage name is used once."""
    names = []
    for p in sorted(glob.glob(os.path.join(QUERYLIB, "*.py"))):
        with open(p) as f:
            src = f.read()
        if p.endswith("__init__.py"):
            fn = next(n for n in ast.parse(src).body
                      if isinstance(n, ast.FunctionDef) and n.name == "stage")
            lines = src.splitlines(True)
            src = "".join(lines[:fn.lineno - 1] + lines[fn.end_lineno:])
        rel = os.path.basename(p)
        assert "gettempdir(" not in src, rel
        assert not re.search(r"_SUCCESS|_STAGED", src), rel
        assert not re.search(r"_gate_\S*_v\d", src), rel
        names += re.findall(r'stage\(sf_dir, "(\w+)"', src)
    assert len(names) == 44
    assert len(set(names)) == len(names), names

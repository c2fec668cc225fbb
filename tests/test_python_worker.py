"""The engine's Python worker daemon (``worker_daemon.py``).

A zip importer re-reads its archive only when the archive changed, warm
workers spend no time re-reading pyspark.zip, ``addPyFile`` still reaches
warm workers, and a session built outside the repo still imports the
engine in its workers.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport
from pathlib import Path

from historic_score_etl_pipeline_spark import worker_daemon

REPO_ROOT = Path(__file__).resolve().parent.parent


def _write_zip(archive: Path, module: str, body: str) -> None:
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{module}.py", body)


def test_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    tag = uuid.uuid4().hex[:8]
    m1, m2 = f"hsep_zip_m1_{tag}", f"hsep_zip_m2_{tag}_longer"
    archive = tmp_path / "mods.zip"
    _write_zip(archive, m1, "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_if_changed)
    for name in (m1, m2):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module(m1).VALUE == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)

    importlib.invalidate_caches()  # no stamp yet: read and stamp
    assert reads.count(str(archive)) == 1
    importlib.invalidate_caches()  # unchanged: no read
    assert reads.count(str(archive)) == 1

    before = archive.stat()
    _write_zip(archive, m2, "VALUE = 2\n")
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    assert archive.stat().st_size != before.st_size
    importlib.invalidate_caches()  # changed: read again
    assert reads.count(str(archive)) == 2
    assert importlib.import_module(m2).VALUE == 2

    archive.unlink()
    importlib.invalidate_caches()  # cannot be stat'ed: read (and fail)
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 4


def test_warm_worker_skips_unchanged_archives(spark):
    def probe(batches):
        import importlib
        import time
        import zipimport

        import pyarrow as pa

        for _ in batches:
            start = time.perf_counter()
            importlib.invalidate_caches()
            ms = (time.perf_counter() - start) * 1e3
            fn = zipimport.zipimporter.invalidate_caches
            yield pa.RecordBatch.from_pylist([{
                "ms": ms, "fn": f"{fn.__code__.co_filename}:{fn.__name__}"}])

    df = spark.range(4).repartition(4)
    df.mapInArrow(probe, "ms double, fn string").collect()  # warm the workers
    rows = df.mapInArrow(probe, "ms double, fn string").collect()
    assert rows
    wrapper = worker_daemon.invalidate_if_changed
    assert {r.fn for r in rows} == {
        f"{wrapper.__code__.co_filename}:{wrapper.__name__}"}
    assert max(r.ms for r in rows) < 5.0, rows


def test_add_py_file_reaches_warm_workers(spark, tmp_path):
    def import_all(names):
        def kernel(batches):
            import importlib

            import pyarrow as pa

            for _ in batches:
                yield pa.RecordBatch.from_pylist([
                    {"name": n, "value": importlib.import_module(n).VALUE}
                    for n in names])
        return kernel

    df = spark.range(2).repartition(2)
    df.mapInArrow(lambda batches: batches, df.schema).collect()  # warm

    tag = uuid.uuid4().hex[:8]
    py_mod, zip_mod = f"hsep_addpy_{tag}", f"hsep_addzip_{tag}"
    py_file = tmp_path / f"{py_mod}.py"
    py_file.write_text("VALUE = 7\n")
    zip_file = tmp_path / f"{zip_mod}.zip"
    _write_zip(zip_file, zip_mod, "VALUE = 8\n")
    sc = spark.sparkContext
    sc.addPyFile(str(py_file))
    sc.addPyFile(str(zip_file))
    try:
        rows = df.mapInArrow(import_all([py_mod, zip_mod]),
                             "name string, value long").collect()
    finally:
        for name in (py_mod, zip_mod):
            sys.modules.pop(name, None)
    assert {(r.name, r.value) for r in rows} == {(py_mod, 7), (zip_mod, 8)}


_OUTSIDE_REPO_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from historic_score_etl_pipeline_spark.session import get_spark

def kernel(batches):
    import pyarrow as pa
    import historic_score_etl_pipeline_spark as engine
    for _ in batches:
        yield pa.RecordBatch.from_pylist([{{"engine": engine.__file__}}])

spark = get_spark(app_name="worker-outside-repo", cpus=2)
rows = spark.range(2).repartition(2).mapInArrow(kernel, "engine string").collect()
print(json.dumps(sorted({{r.engine for r in rows}})))
spark.stop()
"""


def test_session_built_outside_the_repo_runs_python_tasks(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    script = _OUTSIDE_REPO_SCRIPT.format(repo=str(REPO_ROOT))
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    engine_init = REPO_ROOT / "historic_score_etl_pipeline_spark" / "__init__.py"
    assert json.loads(out.stdout.strip().splitlines()[-1]) == [str(engine_init)]

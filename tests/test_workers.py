"""The worker-side pin of ``savio_training_dask_2019_spark.workers``: a
reused Python worker stops re-reading the archives on its launch
``PYTHONPATH`` at every task, and everything else keeps Spark's import-cache
invalidation."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in its own driver process: a local[1] session has one core, so its
# tasks run one after another on one reused Python worker. The probe is
# defined in __main__, so it is pickled by value; importing the package in
# its body stands for unpickling a package kernel.
_LOCAL1_SCRIPT = r"""
import json, os, sys, zipfile, zipimport

driver_invalidate = zipimport.zipimporter.__dict__["invalidate_caches"]

from savio_training_dask_2019_spark.session import get_spark

spark = get_spark(master="local[1]")
sc = spark.sparkContext
one = spark.range(1, numPartitions=1)


def run(fn):
    def kernel(batches):
        import pyarrow as pa

        import savio_training_dask_2019_spark  # noqa: F401

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"j": [json.dumps(fn())]})

    return json.loads(one.mapInArrow(kernel, "j string").collect()[0].j)


def launch_importers():
    launch = {
        os.path.abspath(p)
        for p in os.environ["PYTHONPATH"].split(os.pathsep)
        if os.path.isfile(p)
    }
    return {
        "pid": os.getpid(),
        "files": {
            key: id(imp._files)
            for key, imp in sys.path_importer_cache.items()
            if isinstance(imp, zipimport.zipimporter) and imp.archive in launch
        },
    }


def shipped():
    import graft_shipped_py
    import graft_shipped_zip

    return {"zip": graft_shipped_zip.VALUE, "py": graft_shipped_py.VALUE}


first, second = run(launch_importers), run(launch_importers)
tmp = sys.argv[1]
with zipfile.ZipFile(os.path.join(tmp, "graft_shipped.zip"), "w") as z:
    z.writestr("graft_shipped_zip.py", "VALUE = 'from zip'\n")
with open(os.path.join(tmp, "graft_shipped_py.py"), "w") as f:
    f.write("VALUE = 'from py'\n")
sc.addPyFile(os.path.join(tmp, "graft_shipped.zip"))
sc.addPyFile(os.path.join(tmp, "graft_shipped_py.py"))
print(json.dumps({
    "first": first,
    "second": second,
    "shipped": run(shipped),
    "driver_untouched": (
        zipimport.zipimporter.__dict__["invalidate_caches"] is driver_invalidate
    ),
}))
spark.stop()
"""


@pytest.fixture(scope="module")
def local1(tmp_path_factory):
    """The JSON report of ``_LOCAL1_SCRIPT``, run once for the module."""
    tmp = tmp_path_factory.mktemp("local1")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    r = subprocess.run(
        [sys.executable, "-c", _LOCAL1_SCRIPT, str(tmp)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def test_reused_worker_keeps_launch_archive_directories(local1):
    """In the second task on one reused worker, every importer of a launch
    ``PYTHONPATH`` archive still holds the directory it held in the first
    task: the task setup's ``importlib.invalidate_caches()`` re-read none of
    them. The driver's ``zipimporter.invalidate_caches`` is untouched."""
    first, second = local1["first"], local1["second"]
    assert first["pid"] == second["pid"]
    assert first["files"]
    changed = {
        key: ident
        for key, ident in first["files"].items()
        if second["files"].get(key) != ident
    }
    assert not changed, changed
    assert local1["driver_untouched"]


def test_add_py_file_after_pin_still_imports(local1):
    """A zip and a ``.py`` shipped with ``sc.addPyFile`` after the first
    kernel tasks installed the pin import in a later task on the same
    session."""
    assert local1["shipped"] == {"zip": "from zip", "py": "from py"}


def _zip(path, **modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_pin_skips_exactly_the_launch_archives(tmp_path, monkeypatch):
    """On a worker, an importer of an archive named on the launch
    ``PYTHONPATH`` keeps its directory across ``invalidate_caches``; an
    importer of any other archive re-reads its rewritten archive. Off a
    worker, or on a Python whose ``zipimporter`` has no
    ``invalidate_caches``, the pin installs nothing."""
    from pyspark.core.files import SparkFiles

    from savio_training_dask_2019_spark import workers

    stdlib = zipimport.zipimporter.__dict__["invalidate_caches"]
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    launch, shipped = str(tmp_path / "launch.zip"), str(tmp_path / "shipped.zip")
    _zip(launch, mod="A = 1\n")
    _zip(shipped, mod="A = 1\n")
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([launch, str(tmp_path)]))

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    workers._pin_launch_archives()
    assert zipimport.zipimporter.__dict__["invalidate_caches"] is stdlib

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.delattr(zipimport.zipimporter, "invalidate_caches")
    workers._pin_launch_archives()
    assert not hasattr(zipimport.zipimporter, "invalidate_caches")

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib, raising=False)
    workers._pin_launch_archives()
    imps = {p: zipimport.zipimporter(p) for p in (launch, shipped)}
    held = {p: imp._files for p, imp in imps.items()}
    for p in imps:
        _zip(p, mod="A = 2\n", new="B = 2\n")
    for imp in imps.values():
        imp.invalidate_caches()
    assert imps[launch]._files is held[launch]
    assert imps[shipped]._files is not held[shipped]
    assert "new.py" in imps[shipped]._files


_LOAD_SCRIPT = r"""
import pickle, sys

with open(sys.argv[1], "rb") as f:
    pickle.load(f)
print("savio_training_dask_2019_spark.workers" in sys.modules)
"""


def test_kmeans_and_multimodal_kernels_install_the_pin(spark, tmp_path, monkeypatch):
    """Unpickling each k-means and multimodal kernel in a fresh interpreter
    imports the package, and with it ``workers``: the kernels are
    module-level functions, pickled by reference, so a worker that runs
    only them still installs the pin. A closure kernel would be pickled
    by value and import nothing of the package."""
    from pyspark import cloudpickle

    from savio_training_dask_2019_spark.operators import kmeans, multimodal

    frame = type(spark.range(1))
    kernels = {}
    for method in ("mapInArrow", "mapInPandas"):
        original = getattr(frame, method)

        def recording(self, fn, *args, _original=original, **kwargs):
            kernels[fn.__name__ + str(len(kernels))] = fn
            return _original(self, fn, *args, **kwargs)

        monkeypatch.setattr(frame, method, recording)

    vecs = spark.createDataFrame([(1, [0.1, 0.2])], "id long, v array<float>")
    kmeans.kmeans_lloyd_exact(vecs, "v", "id", k=1, iters=1)
    one = spark.range(1)
    multimodal.decode_meta(one)
    multimodal.synthesize_raw_images(one, "id", "id")
    multimodal.resize_images(one)
    multimodal.synthesize_raw_video(one, "id", "id")
    multimodal.sample_frames(one)
    multimodal.image_features(one)
    multimodal.synthesize_raw_audio(one, "id", "id")
    multimodal.audio_features(one)
    assert len(kernels) == 9, sorted(kernels)

    env = dict(os.environ, PYTHONPATH=REPO)
    for name, fn in kernels.items():
        path = tmp_path / f"{name}.pkl"
        path.write_bytes(cloudpickle.dumps(fn))
        r = subprocess.run(
            [sys.executable, "-c", _LOAD_SCRIPT, str(path)],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        assert r.stdout.strip() == "True", name

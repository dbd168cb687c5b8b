"""Per-task overhead of the Python workers that run this package's kernels
(``mapInArrow``, ``applyInArrow``, ``mapInPandas``, ``pandas_udf``).

At the start of every task, PySpark's worker calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``) so that
files shipped since the previous task become importable. In a reused worker
that call also makes every cached ``zipimporter`` re-parse its archive's whole
directory in pure Python. A worker holds ~16 such importers, all on three
archives that Spark puts on the worker's launch ``PYTHONPATH``:
``python/lib/pyspark.zip``, py4j's source zip and the spark-core jar. On a
4-vCPU host (PySpark 4.1.2, Python 3.11) the re-parse took a one-row
``mapInArrow`` task from ~0.05 to ~0.3 s of worker CPU, more than most
kernels spend on their own work.

Invariance argument: Spark builds the launch ``PYTHONPATH`` from its own
install plus the launcher's ``PYTHONPATH`` (``PythonUtils.sparkPythonPath``)
and never rewrites those files while a worker lives. Files shipped at run time
(``addPyFile``, ``addArchive``, ``addFile``) land under the ``SparkFiles``
root, which is a different ``sys.path`` entry. Re-reading a launch archive
therefore always returns the directory the importer already holds, so
skipping the re-read changes no import.

On import this module makes ``zipimporter.invalidate_caches`` a no-op for
exactly the archives named on the launch ``PYTHONPATH``; every other
importer, every ``FileFinder`` (the ``SparkFiles`` root among them) and every
zip shipped with ``addPyFile`` keeps Spark's invalidation. The package
``__init__`` imports this module, so the first package kernel unpickled on a
worker installs the pin once per worker process; later tasks on that worker
skip the re-read. It acts only on a worker (``SparkFiles._is_running_on_worker``
is set by the task setup that precedes kernel unpickling), never on the
driver, and not at all on a Python whose ``zipimporter`` has no
``invalidate_caches``.

Unpickling a kernel imports the package only when the kernel reaches it:
cloudpickle ships a module-level function by reference (its module and
name, imported on load), but a closure by value, and such a closure
installs the pin only if its body imports a package module or it reads a
package function. A kernel that needs neither is a module-level function
whose parameters :func:`bind` attaches.
"""

from __future__ import annotations

import functools
import os
import zipimport
from typing import Callable

from pyspark.core.files import SparkFiles


def _launch_archives() -> frozenset[str]:
    """The archive files named on this process's launch ``PYTHONPATH``, as
    the absolute paths ``zipimporter.archive`` holds."""
    entries = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    return frozenset(os.path.abspath(p) for p in entries if p and os.path.isfile(p))


def _pin_launch_archives() -> None:
    reread = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if reread is None or not SparkFiles._is_running_on_worker:
        return
    pinned = _launch_archives()

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        if self.archive not in pinned:
            reread(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_pin_launch_archives()


def bind(fn: Callable, name: str, /, *args) -> functools.partial:
    """``functools.partial(fn, *args)``: the module-level kernel ``fn``
    with its leading parameters bound, ready for ``mapInArrow`` or
    ``mapInPandas``. Spark prints a kernel's ``__name__`` in plans and a
    partial has none, so it is set to ``name``."""
    bound = functools.partial(fn, *args)
    bound.__name__ = name
    return bound

"""Keep Spark Python workers off their zip path: skip re-reading
unchanged zip archives when a worker invalidates its import caches, and
in the package's worker daemon import pyspark and py4j from their
installed copies instead of Spark's zips, where the two match.

Cause. Before every call a Spark Python worker runs
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
so that files added with ``addPyFile`` become importable. On Python
3.10-3.12 ``zipimport.zipimporter.invalidate_caches`` then re-reads the
whole central directory of its archive. A worker's path starts with
``pyspark.zip`` (~1.3k entries) and the spark-core jar (~5.4k entries), and
every subpackage imported from them has its own importer, so one call re-reads
about 16 directories, ~27k records. Inside a reused worker on a 4-vCPU VM
that costs 0.1-0.2 s per call, and every Python round trip pays it:
executor tasks (``mapInArrow``, ``mapInPandas``, pandas UDFs) and a
registered data source's planning calls (``schema``, ``partitions``,
``pushFilters``) alike. One ``fasta_stats`` pass makes one of them: its
scan is planned in the driver (``sources/splits.py``) and read in one
``mapInArrow`` task per split.

Fix. This module wraps the method so that an importer re-reads its
archive only when the archive's ``(st_mtime_ns, st_size, st_ino)``
signature differs from the one recorded when zipimport's cached directory
for that archive was last read, or when that cached directory is no
longer the one recorded. Otherwise the importer takes the cached
directory, which is what a re-read would have produced. All importers of
one archive share that directory, so a changed archive is read once, not
once per importer, and an unchanged call takes ~0.2 ms.

Why the stat key is safe. Rewriting an archive, whether in place or by
renaming a new file over it, changes its size, its mtime or its inode; an
archive that cannot be stat'ed, or that fails to read, falls through to
the original method, which drops it from the cache as before. The
signature is taken before the read, so a write that races the read leaves
a recorded signature older than the file, and the next call reads again.
Only an in-place rewrite to the same size within one mtime tick goes
unnoticed; nothing rewrites ``pyspark.zip`` or a jar under a running
worker.

Where it applies. The wrapper is installed when this package is imported
inside a Spark Python worker, recognised by ``PYTHON_WORKER_FACTORY_SECRET``
in the environment (Spark sets it for the daemon and every worker it
starts, executor and planner workers alike); the driver keeps the
original method. The package's worker daemon (``_daemon``, the default
for local sessions) imports the package and reads each archive once
before it forks, so its workers skip the re-reads from their first call
on. Under another daemon a worker imports the package when it unpickles
code from it, which is after its first call's invalidation, and workers
that never import the package keep the original. On Python 3.13+, where
``invalidate_caches`` only drops the cached directory and later imports
read it lazily, the wrapper records nothing and always calls the
original.

Installed copies over the zips. Before anything in the process has
imported pyspark, which in a Spark Python process means this is the
package daemon starting, :func:`use_installed_twins` drops ``pyspark.zip``
and the py4j zip from ``sys.path`` where the copy the rest of the path
imports is the same release with the same module sizes (see ``_daemon``
for why only then). Installed copies carry compiled ``.pyc``; the zips
make every daemon compile pyspark from source.
"""

from __future__ import annotations

import os
import sys
import zipimport
from importlib.machinery import PathFinder

_original = zipimport.zipimporter.invalidate_caches

#: archive path -> (stat signature, the directory dict read at it)
_read_at: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    archive = self.archive
    cache = zipimport._zip_directory_cache
    seen = _read_at.pop(archive, None)
    try:
        st = os.stat(archive)
    except OSError:
        _original(self)
        return
    sig = (st.st_mtime_ns, st.st_size, st.st_ino)
    if seen is not None and seen[0] == sig and seen[1] is cache.get(archive):
        _read_at[archive] = seen
        self._files = seen[1]
        return
    _original(self)
    files = cache.get(archive)
    # the read succeeded (3.10-3.12: the importer holds the cached dict)
    if files is not None and getattr(self, "_files", None) is files:
        _read_at[archive] = (sig, files)


def _zipped_package(entry: str) -> str | None:
    """The package a ``sys.path`` entry of Spark's worker path zips."""
    name = os.path.basename(entry)
    if name == "pyspark.zip":
        return "pyspark"
    if name.startswith("py4j-") and name.endswith("-src.zip"):
        return "py4j"
    return None


def _is_twin(archive: str, package: str, path: list[str]) -> bool:
    """Whether the copy of ``package`` that ``path`` imports holds the
    ``version.py`` of the one in ``archive``, byte for byte, and the same
    size for every file both hold."""
    import zipfile

    spec = PathFinder.find_spec(package, path)
    origin = spec.origin if spec is not None else None
    if not origin or os.path.basename(origin) != "__init__.py":
        return False
    root = os.path.dirname(os.path.dirname(origin))
    try:
        with zipfile.ZipFile(archive) as zf:
            version = zf.read(f"{package}/version.py")
            sizes = {i.filename: i.file_size for i in zf.infolist()
                     if not i.is_dir()}
        with open(os.path.join(root, package, "version.py"), "rb") as fh:
            if fh.read() != version:
                return False
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    for name, size in sizes.items():
        try:
            if os.stat(os.path.join(root, name)).st_size != size:
                return False
        except FileNotFoundError:
            pass  # zip only (its tests and benchmarks): no worker imports it
    return True


def use_installed_twins() -> None:
    """Drop from ``sys.path`` (and the importer caches) each of Spark's
    pyspark and py4j zips whose installed copy is its twin."""
    for entry in [e for e in sys.path if _zipped_package(e)]:
        rest = [e for e in sys.path if e != entry]
        if _is_twin(entry, _zipped_package(entry), rest):
            sys.path[:] = rest
            sys.path_importer_cache.pop(entry, None)
            zipimport._zip_directory_cache.pop(entry, None)


if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
    if "pyspark" not in sys.modules:
        use_installed_twins()
    zipimport.zipimporter.invalidate_caches = _invalidate_caches

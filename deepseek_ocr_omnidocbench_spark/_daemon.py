"""pyspark daemon whose workers skip re-reads of unchanged zip archives.

Every Python task calls ``importlib.invalidate_caches()``, and CPython's
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory, once per importer (pyspark.zip holds 16).  Run as
``python -m`` (``spark.python.daemon.module``), this module swaps in
``invalidate_if_changed`` and starts the stock daemon; the workers it
forks inherit the swap.  Importing the module patches nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive -> (st_mtime_ns, st_size) at its last re-read; per process and
# per archive, like zipimport's own _zip_directory_cache
_stamps: dict[str, tuple[int, int] | None] = {}


def invalidate_if_changed(importer: zipimport.zipimporter) -> None:
    """``importer.invalidate_caches()``, but the stdlib re-read runs only
    when the archive's (mtime, size) stamp moved or it cannot be stat'ed.
    Importers of an unchanged archive share its cached directory."""
    archive = importer.archive
    try:
        st = os.stat(archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _stamps.get(archive) == stamp:
        importer._files = files
        return
    _reread(importer)
    _stamps[archive] = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark import daemon

    # stamp every archive once here, so forked workers start up to date
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
    daemon.manager()

"""Python worker daemon of engine sessions: pyspark's stock daemon
(``pyspark.daemon.manager``) without its per-task stalls.

``get_spark`` registers this module as ``spark.python.daemon.module``;
``runtime/session.py`` says what the two changes below save.

* ``zipimporter.invalidate_caches`` re-reads an archive only when its
  ``(st_mtime_ns, st_size, st_ino)`` changed.  pyspark calls
  ``importlib.invalidate_caches()`` at the start of every task so that a
  newly shipped or rewritten ``addPyFile`` zip is seen; that still holds.
* The modules every worker needs are imported once here and the heap is
  frozen (``gc.freeze``): forked workers inherit them, and the
  ``gc.collect()`` a reused worker runs after each task skips them.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken just before its directory was last read
_stamps: dict[str, tuple[int, int, int]] = {}


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _reread(self)  # gone: the stock method empties the importer
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if cached is not None and _stamps.get(self.archive) == stamp:
        # unchanged, or already re-read through another importer of the
        # same archive (one per sub-package of a zipped package)
        self._files = cached
        return
    _reread(self)
    _stamps[self.archive] = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.worker  # noqa: F401
    from pyspark import daemon

    # stamp every archive on the path once, so forked workers start stamped
    importlib.invalidate_caches()
    # forget the engine packages that ``-m`` imported: a task resolves
    # the engine through its own path (a shipped addPyFile zip first)
    for name in [m for m in sys.modules if m.partition(".")[0] == "eristropy_spark"]:
        del sys.modules[name]
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()

"""Python worker daemon for the engine's sessions (`spark.python.daemon.module`).

pyspark's worker calls `importlib.invalidate_caches()` at the start of every
task. On Python 3.11 that makes each `zipimporter` re-read its archive's
whole directory: pyspark.zip holds ~1,300 entries, and every package imported
from it has its own importer. This daemon re-reads an archive only when its
`(st_mtime_ns, st_size)` changed since the last read, then runs pyspark's
own daemon. Every worker forks from it, so every task inherits the change.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_read_directory = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp taken before its last read, the directory read)
_directories: dict[str, tuple[tuple[int, int], dict]] = {}


def invalidate_caches(self) -> None:
    """`zipimporter.invalidate_caches`, skipping the read of an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _directories.pop(self.archive, None)
        _read_directory(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    seen = _directories.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    _read_directory(self)
    _directories[self.archive] = (stamp, self._files)


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # one read per archive, inherited by every fork
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()

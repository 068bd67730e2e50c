"""pyspark's Python-worker daemon. Its forked workers re-read a zip import
archive's directory only when the archive's (st_mtime_ns, st_size) changed, not
on every task's ``importlib.invalidate_caches()`` (~50 reads of pyspark.zip).
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}  # archive -> its stat before the last read


def invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        return _reread(self)  # gone: the stdlib empties the importer and its cache
    stamp = (st.st_mtime_ns, st.st_size)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp == _stamps.get(self.archive) and cached is not None:
        self._files = cached  # read already, by this or another importer of the archive
        return
    _reread(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark.daemon import manager
    manager()

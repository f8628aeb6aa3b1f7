"""Scratch space: throwaway directories and the fixture cache.

:func:`scratch_dir` is the one way package code gets a temp directory:
it yields a fresh directory and removes it however the body ends, so a
query that writes through a sink and reads back must materialize its
result inside the ``with`` block.

:func:`cached_parquet_dir` is the shared publish contract for derived
test fixtures (the nested-chunk fixture in plans/relational.py and the
date-partitioned report warehouse in sources/report_warehouse.py):
synthesize once per source fingerprint, write to a unique temp dir,
atomically rename into place. Concurrent callers see a complete
directory or none; a regenerated source file (mtime/size change)
invalidates the cache instead of serving stale rows. Its
``spark_graft_*`` directories outlive the process on purpose.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator
from contextlib import contextmanager
from typing import Callable


@contextmanager
def scratch_dir() -> Iterator[str]:
    """Yield a fresh directory under the temp dir; remove it on exit,
    however the body ends."""
    path = tempfile.mkdtemp(prefix="graft_scratch_")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def cached_parquet_dir(
    cache_name: str,
    src_file: str,
    write: Callable[[str], None],
) -> str:
    """Return a scratch directory holding ``write``'s output, creating it
    on first use. ``write(path)`` must produce a parquet directory at
    ``path``; it runs only on cache miss. The cache key fingerprints
    ``src_file`` (mtime + size)."""
    st = os.stat(src_file)
    key = hashlib.md5(
        f"{cache_name}|{src_file}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{cache_name}_{key}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        try:
            write(tmp)
        except BaseException:
            # A failed Spark write leaves a partial directory; reap it so
            # retries don't accumulate orphaned .tmp-* trees in tempdir.
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            # Only a concurrent publish makes the rename failure benign;
            # anything else (permissions, stray same-named file) must
            # surface here, not as a confusing read error downstream.
            if not os.path.isdir(path):
                raise
    return path

"""Structured Streaming operators: the order kernel
(``backtest_stream``), the events-table entry points
(``events_stream``) and streaming document dedup
(``documents_stream``)."""

import atexit
import functools
import shutil
import tempfile


@functools.cache
def _scratch_root() -> str:
    """The one parent of every temporary directory the streaming
    modules write in this process, removed at interpreter exit."""
    root = tempfile.mkdtemp(prefix="stream_scratch_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def scratch_dir(prefix: str) -> str:
    """A fresh directory under ``_scratch_root``: it outlives every
    query of the session (a drained DataFrame reads its files) but not
    the process."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())

"""Per-process scratch paths for fixture sinks and streaming landing dirs.

Operators that materialize to local disk (partitioned sinks, bucketed
warehouses, NDJSON landing dirs) previously shared fixed /tmp paths; two
engine processes running concurrently (the round driver + a test run, or
two test sessions) would race one another's rmtree/write/read cycles and
fail nondeterministically. Keying every scratch root by pid isolates
processes completely while staying deterministic within one process —
re-running an operator in the same session still reuses (and
deliberately clears) its own directory. The root honours ``TMPDIR``
and is removed when the process exits.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile


def scratch_root() -> str:
    """This process's scratch root."""
    return os.path.join(tempfile.gettempdir(), f"cdc_pubsub_spark_{os.getpid()}")


def work_dir(name: str) -> str:
    """Scratch path for one named fixture, isolated per process."""
    return os.path.join(scratch_root(), name)


def _remove_scratch_root() -> None:
    # The root is resolved at exit, so a forked child that exits normally
    # removes its own root, never its parent's.
    shutil.rmtree(scratch_root(), ignore_errors=True)


atexit.register(_remove_scratch_root)

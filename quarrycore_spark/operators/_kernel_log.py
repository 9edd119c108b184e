"""Per-batch kernel timing for the Arrow-batched operators.

When SPARK_GRAFT_KERNEL_LOG names a path prefix, each ``kernel_span``
appends one ``rows seconds`` line to ``{prefix}.{tag}.{pid}``: one file
per worker process, so no two writers share a file. A span wraps the
kernel loop only. The Arrow input and the output frame build stay
outside it, so the operator's stage wall minus the logged kernel time is
the Arrow-boundary cost. With the variable unset a span costs one
environment lookup.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager


@contextmanager
def kernel_span(tag: str, rows: int):
    """Time the enclosed kernel loop over a batch of `rows` rows."""
    prefix = os.environ.get("SPARK_GRAFT_KERNEL_LOG")
    if not prefix:
        yield
        return
    t0 = time.time()
    yield
    with open(f"{prefix}.{tag}.{os.getpid()}", "a") as f:
        f.write(f"{rows} {time.time() - t0:.4f}\n")

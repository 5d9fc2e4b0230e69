"""Session-scoped scratch directories for write-and-read-back queries.

Several declared queries stage data through local temp directories
(JSON/CSV/ORC/XML sink round-trips, streaming sinks + checkpoints).
Each call needs a FRESH directory — a sink round-trip that appended
into a reused dir would read back stale rows — but a long-lived session
(bench battery: 4 runs x query, plus two-SF parity) would otherwise
leak dozens of orphaned dirs per session. Every scratch dir is
therefore registered here and removed at interpreter exit.

Derived artifacts that ARE meant to outlive the session (streaming
chunk feeds, ANN index generations) go through :func:`staged` instead:
one directory per source fingerprint, built privately and published
with one rename, so every later call and every concurrent session
reads the same complete copy.

At 100 TB these paths are object-store URIs managed by the table
format's transaction log; the local tempdir is the test-scale stand-in.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from typing import Callable

_REGISTERED: list[str] = []


def scratch_dir(prefix: str) -> str:
    """mkdtemp that is cleaned up at process exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    _REGISTERED.append(d)
    return d


def staged(
    sf_dir: str,
    table: str,
    root: str,
    build: Callable[[str], None],
    suffix: str = "",
) -> str:
    """Directory holding ``build``'s output for the current contents of
    ``{sf_dir}/{table}.parquet``, built at most once per source.

    The path is ``<tempdir>/<root>/<sf_dir flattened>_<mtime_ns>_<size>``
    (plus ``_<suffix>``), so a regenerated source gets a new directory
    instead of serving a stale one. A directory holding ``_READY`` is
    complete and returned as is. Otherwise ``build(tmp)`` fills a
    private ``<path>.tmp-<pid>-<uuid8>``, the marker is written into
    it, and one rename publishes it: a reader sees the whole artifact
    or nothing. A concurrent builder that published first wins; the
    loser discards its copy. A build that raises leaves nothing behind.
    """
    st = os.stat(f"{sf_dir}/{table}.parquet")
    name = f"{sf_dir.strip('/').replace('/', '_')}_{st.st_mtime_ns}_{st.st_size}"
    path = os.path.join(
        tempfile.gettempdir(), root, f"{name}_{suffix}" if suffix else name
    )
    marker = os.path.join(path, "_READY")
    if os.path.exists(marker):
        return path
    tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        build(tmp)
        open(os.path.join(tmp, "_READY"), "w").close()
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(marker):
            raise
    return path


@atexit.register
def _cleanup() -> None:
    while _REGISTERED:
        shutil.rmtree(_REGISTERED.pop(), ignore_errors=True)

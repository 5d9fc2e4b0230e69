"""tmpdirs.staged: the one fingerprint/build/publish mechanism behind
every staged streaming feed and ANN index generation. No Spark: a fake
source file and plain-Python builds."""

from __future__ import annotations

import os
import tempfile

import pytest

from glaciersgee_spark import tmpdirs


@pytest.fixture
def src(tmp_path, monkeypatch):
    """A corpus dir holding a fake ``events.parquet``, with the temp
    root redirected into ``tmp_path/t``."""
    root = tmp_path / "t"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"rows")
    return str(sf)


def _leftovers(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, n), root)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
    )


def test_build_runs_once_and_path_is_fingerprinted(src):
    calls = []

    def build(tmp):
        calls.append(tmp)
        with open(os.path.join(tmp, "out.txt"), "w") as f:
            f.write("built")

    first = tmpdirs.staged(src, "events", "ggee_t", build, "v1")
    again = tmpdirs.staged(src, "events", "ggee_t", build, "v1")
    assert first == again
    assert len(calls) == 1
    st = os.stat(f"{src}/events.parquet")
    flat = src.strip("/").replace("/", "_")
    assert first == os.path.join(
        tempfile.gettempdir(),
        "ggee_t",
        f"{flat}_{st.st_mtime_ns}_{st.st_size}_v1",
    )
    assert sorted(os.listdir(first)) == ["_READY", "out.txt"]
    # the private build dir was renamed away, not copied
    assert _leftovers(os.path.join(tempfile.gettempdir(), "ggee_t")) == [
        os.path.basename(first),
        os.path.join(os.path.basename(first), "_READY"),
        os.path.join(os.path.basename(first), "out.txt"),
    ]


def test_failed_build_leaves_nothing_behind(src):
    def build(tmp):
        open(os.path.join(tmp, "half.txt"), "w").close()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        tmpdirs.staged(src, "events", "ggee_t", build)
    assert _leftovers(tempfile.gettempdir()) == ["ggee_t"]


def test_loser_of_the_publish_race_adopts_the_winner(src):
    def build(tmp):
        # another session publishes the same stage while this one builds
        path = tmp.rsplit(".tmp-", 1)[0]
        os.makedirs(path)
        open(os.path.join(path, "_READY"), "w").close()
        open(os.path.join(path, "winner.txt"), "w").close()
        open(os.path.join(tmp, "loser.txt"), "w").close()

    path = tmpdirs.staged(src, "events", "ggee_t", build)
    assert sorted(os.listdir(path)) == ["_READY", "winner.txt"]
    assert os.listdir(os.path.dirname(path)) == [os.path.basename(path)]


def test_unmarked_target_is_not_adopted(src):
    """A directory at the target without the marker is not a published
    stage: the rename onto it fails and the error propagates."""

    def build(tmp):
        path = tmp.rsplit(".tmp-", 1)[0]
        os.makedirs(path)
        open(os.path.join(path, "partial.txt"), "w").close()

    with pytest.raises(OSError):
        tmpdirs.staged(src, "events", "ggee_t", build)
    root = os.path.join(tempfile.gettempdir(), "ggee_t")
    assert len(os.listdir(root)) == 1  # the unmarked dir; tmp is gone


def test_changed_source_gets_a_new_path(src):
    def build(tmp):
        pass

    first = tmpdirs.staged(src, "events", "ggee_t", build)
    st = os.stat(f"{src}/events.parquet")
    os.utime(
        f"{src}/events.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 10**9)
    )
    second = tmpdirs.staged(src, "events", "ggee_t", build)
    assert second != first
    assert os.path.exists(os.path.join(second, "_READY"))
    assert os.path.exists(os.path.join(first, "_READY"))

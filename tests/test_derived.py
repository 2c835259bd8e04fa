"""``readers.derived``, the one build-once idiom for files derived from
an sf directory's tables, and the guard that keeps it the only one.

The helper tests need no Spark: their writers write plain files, and
their source "tables" are plain files whose version is their stat.
"""

from __future__ import annotations

import ast
import os
import uuid

import pytest

from etl_8x8_spark.sources import readers

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_ROOT, "etl_8x8_spark")
_TOOLS = os.path.join(_ROOT, "tools")

CALLS: list[str] = []


def write_a(path: str) -> None:
    CALLS.append(path)
    with open(os.path.join(path, "part"), "w") as fh:
        fh.write("a")


def write_b(path: str) -> None:
    CALLS.append(path)
    with open(os.path.join(path, "part"), "w") as fh:
        fh.write("b")


@pytest.fixture
def env(tmp_path, monkeypatch):
    scratch = tmp_path / "scratch"
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(scratch))
    sf = tmp_path / "sf1"
    sf.mkdir()
    (sf / "t.parquet").write_bytes(b"v1")
    CALLS.clear()
    return str(sf), str(scratch)


def published(scratch: str, name: str = "fx") -> list[str]:
    return sorted(
        e for e in os.listdir(scratch)
        if e.startswith(f"{name}_sf1_") and ".tmp-" not in e
    )


def test_second_call_reuses_without_writing(env):
    sf, _ = env
    first = readers.derived(sf, "fx", ["t"], write_a)
    again = readers.derived(sf, "fx", ["t"], write_a)
    assert again == first
    assert CALLS == [CALLS[0]]
    assert open(os.path.join(first, "part")).read() == "a"


def test_touched_source_rebuilds_and_prunes(env):
    sf, scratch = env
    first = readers.derived(sf, "fx", ["t"], write_a)
    st = os.stat(os.path.join(sf, "t.parquet"))
    os.utime(
        os.path.join(sf, "t.parquet"),
        ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000),
    )
    second = readers.derived(sf, "fx", ["t"], write_a)
    assert second != first and len(CALLS) == 2
    assert published(scratch) == [os.path.basename(second)]


def test_changed_writer_rebuilds_and_prunes(env):
    sf, scratch = env
    first = readers.derived(sf, "fx", ["t"], write_a)
    second = readers.derived(sf, "fx", ["t"], write_b)
    assert second != first and len(CALLS) == 2
    assert published(scratch) == [os.path.basename(second)]
    assert open(os.path.join(second, "part")).read() == "b"


def test_racing_publish_keeps_the_winner(env):
    """A builder that finds ``final`` taken at publish time drops its
    own tmp dir and returns the winner's directory untouched."""
    sf, scratch = env

    def lose(path: str) -> None:
        final = path.rsplit(".tmp-", 1)[0]
        os.makedirs(final)
        with open(os.path.join(final, "part"), "w") as fh:
            fh.write("winner")
        with open(os.path.join(path, "part"), "w") as fh:
            fh.write("loser")

    got = readers.derived(sf, "fx", ["t"], lose)
    assert open(os.path.join(got, "part")).read() == "winner"
    assert os.listdir(scratch) == [os.path.basename(got)]


def test_stale_tmp_pruned_and_others_kept(env):
    sf, scratch = env
    os.makedirs(scratch)
    stale = f"fx_sf1_{'0' * 16}.tmp-{uuid.uuid4().hex}"
    keep = [f"fy_sf1_{'0' * 16}", f"fx_sf1x_{'0' * 16}", "fx_sf1_run"]
    for d in [stale, *keep]:
        os.makedirs(os.path.join(scratch, d))
    got = readers.derived(sf, "fx", ["t"], write_a)
    assert sorted(os.listdir(scratch)) == sorted(
        [os.path.basename(got), *keep]
    )


def test_failed_writer_pruned_by_next_publish(env):
    sf, scratch = env

    def fail(path: str) -> None:
        open(os.path.join(path, "half"), "w").close()
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        readers.derived(sf, "fx", ["t"], fail)
    assert len(os.listdir(scratch)) == 1  # the failed writer's tmp dir
    got = readers.derived(sf, "fx", ["t"], write_a)
    assert os.listdir(scratch) == [os.path.basename(got)]


# -- guard: derived is the only build-once idiom -----------------------------

_MARKERS = {
    "_SUCCESS", "_DONE", "_ALL_COMMITTED", "ALL_COMMITTED", "_ALL_WRITTEN",
    "_V2_DONE", "_COPIES_DONE",
}
_MARKER_CALLS = {"needs_build", "mark_built"}


def _marker_uses(source: str) -> list[int]:
    """Lines that name a marker file (a string literal, or a piece of
    an f-string) or call a marker helper."""
    return sorted({
        n.lineno
        for n in ast.walk(ast.parse(source))
        if (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and os.path.basename(n.value) in _MARKERS
        )
        or (isinstance(n, ast.Attribute) and n.attr in _MARKER_CALLS | _MARKERS)
        or (isinstance(n, ast.Name) and n.id in _MARKER_CALLS | _MARKERS)
    })


def test_guard_catches_each_marker_shape():
    bad = (
        'os.path.exists(os.path.join(p, "_SUCCESS"))\n'
        'm = f"{p}/_DONE"\n'
        "if txn_log.needs_build(base):\n"
        "    txn_log.mark_built(base)\n"
        "open(os.path.join(base, txn_log.ALL_COMMITTED)).close()\n"
        '# a comment naming _SUCCESS is fine\n'
        'x = "_SUCCESS_RATE"\n'
    )
    assert _marker_uses(bad) == [1, 2, 3, 4, 5]


def test_no_marker_idiom_outside_readers():
    found = []
    for top in (_PKG, _TOOLS):
        for root, _, names in os.walk(top):
            for name in names:
                path = os.path.join(root, name)
                if not name.endswith(".py") or path.endswith(
                    os.path.join("sources", "readers.py")
                ):
                    continue
                with open(path) as fh:
                    found += [
                        f"{os.path.relpath(path, _ROOT)}:{line}"
                        for line in _marker_uses(fh.read())
                    ]
    assert found == []

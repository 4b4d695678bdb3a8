"""The per-session fixture memo (scratch.session_fixture).

No Spark: the memo only reads ``spark.sparkContext.applicationId``, so a
stub session stands in and ``build`` writes a marker file.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from parquet_modular_encryption_spark import scratch


def _session(app_id: str = "app-1"):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture(autouse=True)
def _empty_memo(monkeypatch):
    monkeypatch.setattr(scratch, "_FIXTURE_CACHE", {})


class _Build:
    """Counts its calls; writes a marker file into the fixture dir."""

    def __init__(self, fail: bool = False):
        self.calls = 0
        self.fail = fail
        self.paths: list[str] = []

    def __call__(self, path: str) -> None:
        self.calls += 1
        self.paths.append(path)
        with open(os.path.join(path, "part-0"), "w") as fh:
            fh.write("x")
        if self.fail:
            raise RuntimeError("write failed")


def test_second_call_with_same_key_skips_build():
    build = _Build()
    first = scratch.session_fixture(_session(), "fx", build, "/sf")
    second = scratch.session_fixture(_session(), "fx", build, "/sf")
    assert first == second
    assert build.calls == 1
    assert os.path.isfile(os.path.join(first, "part-0"))


def test_deleted_fixture_is_rebuilt():
    import shutil

    build = _Build()
    first = scratch.session_fixture(_session(), "fx", build, "/sf")
    shutil.rmtree(first)
    second = scratch.session_fixture(_session(), "fx", build, "/sf")
    assert build.calls == 2
    assert os.path.isfile(os.path.join(second, "part-0"))


def test_failed_build_leaves_no_entry_and_no_directory():
    failing = _Build(fail=True)
    with pytest.raises(RuntimeError, match="write failed"):
        scratch.session_fixture(_session(), "fx", failing, "/sf")
    assert scratch._FIXTURE_CACHE == {}
    assert failing.calls == 1
    assert not os.path.exists(failing.paths[0])

    build = _Build()
    path = scratch.session_fixture(_session(), "fx", build, "/sf")
    assert build.calls == 1
    assert os.path.isfile(os.path.join(path, "part-0"))


def test_names_sharing_sf_dir_get_their_own_directories():
    jsonl, ivf = _Build(), _Build()
    a = scratch.session_fixture(_session(), "q39b_jsonl", jsonl, "/sf")
    b = scratch.session_fixture(_session(), "q54e", ivf, "/sf")
    assert a != b
    assert (jsonl.calls, ivf.calls) == (1, 1)


def test_new_session_rebuilds():
    build = _Build()
    a = scratch.session_fixture(_session("app-1"), "fx", build, "/sf")
    b = scratch.session_fixture(_session("app-2"), "fx", build, "/sf")
    assert a != b
    assert build.calls == 2

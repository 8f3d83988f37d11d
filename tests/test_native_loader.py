"""The native kernel loader (functions/native_registry._load): a
missing or failing C toolchain degrades to the Python walker with one
logged warning, and any other error propagates instead of silently
moving every decode to the ~100× slower path."""

from __future__ import annotations

import logging
import subprocess

import pytest

from zigchain_indexer_clickhouse_spark.functions import native_registry


def _fresh_loader(monkeypatch, tmp_path, run) -> None:
    """A loader that has not tried yet, with an empty private cache
    (so it must compile) and ``run`` in place of the compiler call."""
    cache = tmp_path / "cache"
    cache.mkdir(mode=0o700)
    monkeypatch.setattr(native_registry, "_LIB", None)
    monkeypatch.setattr(native_registry, "_LIB_TRIED", False)
    monkeypatch.setattr(native_registry, "_cache_dir", lambda: str(cache))
    monkeypatch.setattr(native_registry.subprocess, "run", run)


@pytest.mark.parametrize("err", [
    FileNotFoundError(2, "No such file or directory", "gcc"),
    subprocess.CalledProcessError(1, ["gcc"]),
], ids=["no-gcc", "gcc-fails"])
def test_missing_toolchain_degrades_with_one_warning(
        monkeypatch, tmp_path, caplog, err):
    def run(*args, **kwargs):
        raise err

    _fresh_loader(monkeypatch, tmp_path, run)
    with caplog.at_level(logging.WARNING, logger=native_registry.__name__):
        assert native_registry.native_available() is False
        assert native_registry.native_available() is False  # cached
    warnings = [r for r in caplog.records
                if r.name == native_registry.__name__
                and r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert str(err) in warnings[0].getMessage()


def test_unexpected_loader_error_propagates(monkeypatch, tmp_path):
    def run(*args, **kwargs):
        raise TypeError("unexpected")

    _fresh_loader(monkeypatch, tmp_path, run)
    with pytest.raises(TypeError, match="unexpected"):
        native_registry.native_available()
    # not cached as "unavailable": the next call tries (and fails) again
    with pytest.raises(TypeError, match="unexpected"):
        native_registry.native_available()

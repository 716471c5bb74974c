"""The graded session recipe and the heap rule, checked without a JVM.

``bench.py`` is the graded harness and builds its session inline;
``session.bench_session`` is the copy the CLI and every script use. The
recorders below stand in for ``get_spark``/``tune_adaptive`` and stop
``bench.main`` once both have been called, so the two recipes are
compared argument by argument."""

from __future__ import annotations

import inspect

import pytest

from gossiphs_spark import session


class _Stop(Exception):
    pass


def _record(monkeypatch):
    """Replace get_spark/tune_adaptive with recorders; tune_adaptive (the
    recipe's last step) stops the caller."""
    calls = {}
    real_get, real_tune = session.get_spark, session.tune_adaptive

    def get_spark(*a, **kw):
        b = inspect.signature(real_get).bind(*a, **kw)
        b.apply_defaults()
        calls["get_spark"] = dict(b.arguments)
        return "SPARK"

    def tune_adaptive(*a, **kw):
        b = inspect.signature(real_tune).bind(*a, **kw)
        b.apply_defaults()
        calls["tune_adaptive"] = dict(b.arguments)
        raise _Stop

    monkeypatch.setattr(session, "get_spark", get_spark)
    monkeypatch.setattr(session, "tune_adaptive", tune_adaptive)
    return calls


@pytest.mark.parametrize("cores", [1, 4, 16, 32])
def test_bench_session_is_bench_recipe(monkeypatch, tmp_path, cores):
    import bench

    (tmp_path / "part-0.parquet").write_bytes(b"x" * 4096)
    monkeypatch.setattr(bench, "CPUS", cores)
    monkeypatch.setattr(bench, "SF_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cores))

    calls = _record(monkeypatch)
    with pytest.raises(_Stop):
        bench.main()
    from_bench = dict(calls)

    calls.clear()
    with pytest.raises(_Stop):
        session.bench_session(str(tmp_path), cores=cores)
    assert calls == from_bench
    assert calls["tune_adaptive"]["approx_input_bytes"] == 4096


def test_bench_session_default_cores_follow_env(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    calls = _record(monkeypatch)
    with pytest.raises(_Stop):
        session.bench_session(str(tmp_path))
    assert calls["get_spark"]["cores"] == 6
    assert calls["get_spark"]["shuffle_partitions"] == 16


def _meminfo(monkeypatch, kb):
    def fake_open(path, *a, **kw):
        assert path == "/proc/meminfo"
        if kb is None:
            raise OSError("unreadable")
        import io
        return io.StringIO(f"MemFree: 1 kB\nMemTotal: {kb} kB\n")

    monkeypatch.setattr(session, "open", fake_open, raising=False)


def test_heap_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    _meminfo(monkeypatch, 16456384)
    assert session.driver_memory() == "3g"
    assert session.driver_memory(jvms=4) == "3g"


@pytest.mark.parametrize("kb,jvms,want", [
    (16456384, 1, "8035m"),        # half of a 16 GB host
    (64 * 1024 * 1024, 1, "8192m"),  # capped at 8g
    (16456384, 4, "2008m"),        # four JVMs share the half
    (None, 1, "8g"),               # no meminfo: the cap
])
def test_heap_half_of_ram_capped(monkeypatch, kb, jvms, want):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _meminfo(monkeypatch, kb)
    assert session.driver_memory(jvms=jvms) == want

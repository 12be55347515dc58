"""Env knobs fail loudly on bad values instead of being clamped or passed
through to Spark unchecked."""

import pytest

from colonnade_spark import session


def test_max_partition_bytes_validated(monkeypatch):
    name = "SPARK_GRAFT_MAX_PARTITION_BYTES"
    for good in ("32m", "1g", "512MB", "1048576", " 64k "):
        monkeypatch.setenv(name, good)
        assert session.env_byte_size(name, "32m") == good
    for bad in ("32 megs", "1.5g", "0", "-1m", "m", "32x"):
        monkeypatch.setenv(name, bad)
        # raises before any session is built or reused
        with pytest.raises(ValueError, match=name):
            session.get_spark("knob-check", cores=1)


@pytest.mark.parametrize("module,name", [
    ("bench", "BENCH_CORPUS_FILES"), ("bench", "BENCH_SCALE_LOW"),
    ("bench", "BENCH_SCALE_HIGH"), ("bench", "SPARK_GRAFT_CPUS"),
    ("bench_extra", "BENCH_EXTRA_PASSES"), ("bench_extra", "SPARK_GRAFT_CPUS"),
])
def test_bench_knobs_validated(monkeypatch, module, name):
    """The bench harnesses parse their integer knobs through env_int: a bad
    value raises before any Spark session starts."""
    import importlib
    import sys

    def no_spark(*a, **k):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(session, "get_spark", no_spark)
    monkeypatch.setattr(sys, "argv", [f"{module}.py"])
    for bad in ("0", "-3", "1.5", "many", ""):
        monkeypatch.setenv(name, bad)
        with pytest.raises(ValueError, match=name):
            # BENCH_CORPUS_FILES is read at import; the rest in main()
            sys.modules.pop(module, None)
            importlib.import_module(module).main()
    sys.modules.pop(module, None)

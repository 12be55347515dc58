"""Env knobs fail loudly on bad values instead of being clamped or passed
through to Spark unchecked."""

from types import SimpleNamespace

import pytest

from colonnade_spark import session
from colonnade_spark.textops import _kernel_partitions

_FAKE_SPARK = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=4))


def test_kernel_part_mult_validated(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_KERNEL_PART_MULT", raising=False)
    assert _kernel_partitions(_FAKE_SPARK) == 4
    monkeypatch.setenv("SPARK_GRAFT_KERNEL_PART_MULT", "3")
    assert _kernel_partitions(_FAKE_SPARK) == 12
    for bad in ("0", "-2", "1.5", "two", ""):
        monkeypatch.setenv("SPARK_GRAFT_KERNEL_PART_MULT", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_KERNEL_PART_MULT"):
            _kernel_partitions(_FAKE_SPARK)


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

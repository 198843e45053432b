"""The manifest's driver-side fast path must fail closed: a default
filesystem it cannot identify is not assumed local, and only real read
errors fall back (loudly) to the Spark read path."""

from __future__ import annotations

import logging

import pyarrow.dataset as pads
import pytest

from boltspark.engine import encode_table, manifest


@pytest.fixture(scope="module")
def man_path(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("mfc")
    df = spark.range(200).selectExpr("id AS k", "id % 7 AS v")
    res = encode_table(df, str(d / "b"), str(d / "m"), key_cols=("k",),
                       n_parts=2, resume=False)
    return res.manifest_path


class _NoConf:
    """A session whose Hadoop conf is unreachable (as under Spark
    Connect) but which can still read through Spark."""

    def __init__(self, spark):
        self.read = spark.read

    @property
    def sparkContext(self):
        raise RuntimeError("no JVM gateway")


def test_unreadable_default_fs_is_not_local(spark, man_path, monkeypatch):
    fake = _NoConf(spark)
    assert manifest._default_fs_is_local(fake) is False
    assert manifest._local_dir(man_path, fake) is None

    def _no_local_read(*a, **k):
        raise AssertionError("the local pyarrow path must not run")

    monkeypatch.setattr(pads, "dataset", _no_local_read)
    rows = manifest._meta_rows(fake, man_path)
    monkeypatch.undo()
    assert sorted(rows) == sorted(manifest._meta_rows(spark, man_path))
    assert rows


def test_meta_rows_read_error_falls_back_and_logs(spark, man_path,
                                                  monkeypatch, caplog):
    expect = sorted(manifest._meta_rows(spark, man_path))

    def _unreadable(*a, **k):
        raise PermissionError("denied")

    monkeypatch.setattr(pads, "dataset", _unreadable)
    with caplog.at_level(logging.WARNING, logger="boltspark"):
        got = sorted(manifest._meta_rows(spark, man_path))
    assert got == expect
    assert any("falling back" in r.getMessage() for r in caplog.records
               if r.name == "boltspark")


def test_meta_rows_non_read_error_propagates(spark, man_path, monkeypatch):
    def _bug(*a, **k):
        raise KeyError("not a read error")

    monkeypatch.setattr(pads, "dataset", _bug)
    with pytest.raises(KeyError):
        manifest._meta_rows(spark, man_path)

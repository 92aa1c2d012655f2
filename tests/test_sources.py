"""Source negotiation: parquet path in the sandbox, informative error for
the Iceberg path when the runtime is absent."""

import pytest

from qfspark import sources
from qfspark.sources import iceberg_available, read_table

from .conftest import SF_DIR


def test_read_table_parquet(spark):
    df = read_table(spark, f"{SF_DIR}/documents.parquet")
    assert df.count() > 0
    assert "doc_id" in df.columns


def test_read_table_auto_picks_parquet_for_paths(spark):
    df = read_table(spark, f"{SF_DIR}/events.parquet", fmt="auto")
    assert df.count() > 0


def test_iceberg_errors_informatively_when_missing(spark):
    if iceberg_available(spark):
        pytest.skip("iceberg runtime present")
    with pytest.raises(RuntimeError, match="Iceberg runtime"):
        read_table(spark, "warehouse.db.web_pages", fmt="iceberg")


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError):
        read_table(spark, "x.parquet", fmt="orc2")


def test_paths_never_probe_for_iceberg(spark, tmp_path, monkeypatch):
    """A path is never a catalog table, so ``table_dir`` and an auto
    ``write_checkpoint`` decide without the JVM class probe (which
    raises, and pyspark converts, on every call); an identifier still
    probes."""
    probes = []

    def _probe(_spark):
        probes.append(1)
        raise AssertionError("iceberg probe for a path")

    monkeypatch.setattr(sources, "iceberg_available", _probe)
    path = str(tmp_path / "ckpt")
    assert sources.table_dir(spark, path) == path
    sources.write_checkpoint(spark.range(3), path, fmt="auto")
    assert spark.read.parquet(path).count() == 3
    assert not probes
    monkeypatch.setattr(sources, "iceberg_available",
                        lambda _spark: probes.append(1) or False)
    assert sources.table_dir(spark, "db.shards") == "db.shards"
    assert probes == [1]

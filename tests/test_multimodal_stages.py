"""The Iceberg source seam: without a catalog it fails with a clear message
instead of a Spark resolution error."""

import pytest


def test_iceberg_seam_unavailable_is_clear(spark):
    from ocr_toolkit_spark.sources import iceberg

    assert not iceberg.catalog_available(spark)
    with pytest.raises(RuntimeError, match="Parquet emulation"):
        iceberg.read_documents(spark)

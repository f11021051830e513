"""Batch-keyed table storage (storage.py): store reads and the prune valve."""

from pyspark.sql.types import LongType, StringType, StructField, StructType

from boann_ocsf_security_data_platform_spark.storage import (
    prune_batches,
    read_batches,
    write_batch,
)

SCHEMA = StructType(
    [StructField("k", StringType()), StructField("_batch_id", LongType())]
)


def test_read_batches_and_prune_batches(spark, tmp_path):
    """An absent store reads as empty; a store holding a non-Parquet part
    file fails the read instead of reading as empty. prune_batches drops
    only integer batch partitions below the horizon."""
    import os

    import pytest

    # absent path -> empty frame with the declared schema
    absent = read_batches(spark, str(tmp_path / "absent"), SCHEMA)
    assert absent.schema == SCHEMA and absent.count() == 0

    # corrupt store -> the read fails loudly
    corrupt = tmp_path / "corrupt" / "_batch_id=0"
    corrupt.mkdir(parents=True)
    (corrupt / "part-00000.parquet").write_text("not parquet")
    with pytest.raises(Exception):
        read_batches(spark, str(tmp_path / "corrupt"), SCHEMA).collect()

    store = str(tmp_path / "store")
    for b in range(4):
        write_batch(spark.createDataFrame([(f"k{b}",)], "k string"), store, b)
    os.makedirs(os.path.join(store, "_batch_id=abc"))
    os.makedirs(os.path.join(store, "other"))
    assert read_batches(spark, store, SCHEMA).count() == 4

    prune_batches(spark, store, keep_from_batch_id=2)
    assert sorted(n for n in os.listdir(store) if not n.startswith(".")) == [
        "_batch_id=2",
        "_batch_id=3",
        "_batch_id=abc",
        "other",
    ]
    got = read_batches(spark, store, SCHEMA).collect()
    assert sorted((r.k, r._batch_id) for r in got) == [("k2", 2), ("k3", 3)]
    # pruning an absent store is a no-op
    prune_batches(spark, str(tmp_path / "absent"), keep_from_batch_id=2)

"""Datastore I/O twin (sources/datastore.py) vs the reference's
mutation semantics: upsert-by-key, delete-by-key, idempotent batches
(datastoreio.py:314-510), and the ReadFromDatastore query model."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloud_dataflow_batch_processing_spark.sources.datastore import (
    KEY_COL,
    Query,
    delete_entities,
    read_entities,
    write_entities,
)


@pytest.fixture()
def wh(tmp_path):
    return str(tmp_path / "entity_warehouse")


def _entities(spark, rows):
    return spark.createDataFrame(
        rows, f"{KEY_COL} string, city string, pop long"
    )


def test_upsert_then_read(spark, wh):
    v = write_entities(
        _entities(spark, [("k1", "ams", 1), ("k2", "nyc", 2)]),
        "proj",
        "City",
        warehouse=wh,
    )
    assert v == 0
    got = read_entities(spark, "proj", Query(kind="City"), warehouse=wh)
    assert sorted((r[KEY_COL], r["pop"]) for r in got.collect()) == [
        ("k1", 1),
        ("k2", 2),
    ]


def test_upsert_overwrites_by_key_newest_wins(spark, wh):
    write_entities(_entities(spark, [("k1", "ams", 1), ("k2", "nyc", 2)]), "proj", "City", warehouse=wh)
    v = write_entities(_entities(spark, [("k2", "nyc", 99), ("k3", "sfo", 3)]), "proj", "City", warehouse=wh)
    assert v == 1
    got = read_entities(spark, "proj", Query(kind="City"), warehouse=wh)
    assert sorted((r[KEY_COL], r["pop"]) for r in got.collect()) == [
        ("k1", 1),
        ("k2", 99),
        ("k3", 3),
    ]


def test_upsert_batch_is_idempotent(spark, wh):
    batch = _entities(spark, [("k1", "ams", 1)])
    write_entities(batch, "proj", "City", warehouse=wh)
    write_entities(batch, "proj", "City", warehouse=wh)  # retried commit
    got = read_entities(spark, "proj", Query(kind="City"), warehouse=wh)
    assert got.count() == 1


def test_duplicate_keys_in_batch_rejected(spark, wh):
    with pytest.raises(ValueError, match="duplicate keys"):
        write_entities(
            _entities(spark, [("k1", "ams", 1), ("k1", "ams", 2)]),
            "proj",
            "City",
            warehouse=wh,
        )


def test_null_key_rejected(spark, wh):
    with pytest.raises(ValueError, match="complete"):
        write_entities(
            _entities(spark, [(None, "ams", 1)]), "proj", "City", warehouse=wh
        )
    df = spark.createDataFrame([("x", 1)], "city string, pop long")
    with pytest.raises(ValueError, match="__key__"):
        write_entities(df, "proj", "City", warehouse=wh)


def test_delete_by_key(spark, wh):
    write_entities(
        _entities(spark, [("k1", "ams", 1), ("k2", "nyc", 2)]),
        "proj",
        "City",
        warehouse=wh,
    )
    v = delete_entities(
        spark.createDataFrame([("k1",)], f"{KEY_COL} string"),
        "proj",
        "City",
        warehouse=wh,
    )
    assert v == 1
    got = read_entities(spark, "proj", Query(kind="City"), warehouse=wh)
    assert [r[KEY_COL] for r in got.collect()] == ["k2"]


def test_query_filters_projection_order_limit(spark, wh):
    write_entities(
        _entities(
            spark,
            [("k1", "ams", 10), ("k2", "nyc", 30), ("k3", "sfo", 20), ("k4", "ber", 40)],
        ),
        "proj",
        "City",
        warehouse=wh,
    )
    q = Query(
        kind="City",
        filters=[("pop", ">=", 20), ("city", ">", "a")],
        projection=["pop"],
        order=["-pop"],
        limit=2,
    )
    got = read_entities(spark, "proj", q, warehouse=wh)
    assert got.columns == [KEY_COL, "pop"]
    assert [r["pop"] for r in got.collect()] == [40, 30]
    with pytest.raises(ValueError, match="unsupported filter op"):
        read_entities(
            spark, "proj", Query(kind="City", filters=[("pop", "!=", 1)]), warehouse=wh
        )


def test_namespaces_isolate_kinds(spark, wh):
    write_entities(_entities(spark, [("k1", "ams", 1)]), "proj", "City", namespace="a", warehouse=wh)
    write_entities(_entities(spark, [("k9", "nyc", 9)]), "proj", "City", namespace="b", warehouse=wh)
    got_a = read_entities(spark, "proj", Query(kind="City"), namespace="a", warehouse=wh)
    assert [r[KEY_COL] for r in got_a.collect()] == ["k1"]


def test_num_splits_maps_to_partitions(spark, wh):
    write_entities(
        _entities(spark, [(f"k{i}", "x", i) for i in range(20)]),
        "proj",
        "City",
        warehouse=wh,
    )
    got = read_entities(spark, "proj", Query(kind="City"), num_splits=5, warehouse=wh)
    assert got.rdd.getNumPartitions() == 5


def test_missing_kind_raises(spark, wh):
    with pytest.raises(FileNotFoundError):
        read_entities(spark, "proj", Query(kind="Nope"), warehouse=wh)


def test_schema_widening_upsert(spark, wh):
    """A later batch may carry new properties (Datastore entities are
    schemaless property maps); old entities read NULL for them."""
    write_entities(_entities(spark, [("k1", "ams", 1)]), "proj", "City", warehouse=wh)
    wider = spark.createDataFrame(
        [("k2", "nyc", 2, "us")], f"{KEY_COL} string, city string, pop long, country string"
    )
    write_entities(wider, "proj", "City", warehouse=wh)
    got = read_entities(spark, "proj", Query(kind="City"), warehouse=wh)
    rows = {r[KEY_COL]: r.asDict() for r in got.collect()}
    assert rows["k1"]["country"] is None
    assert rows["k2"]["country"] == "us"


def test_upsert_delete_read_through_filesystem_uri(spark, tmp_path):
    """The warehouse's version listing, commit check and prune go
    through the Hadoop FileSystem of a ``file://`` URI — the code path
    an hdfs:/gs: warehouse takes."""
    wh = f"file://{tmp_path}/uri_warehouse"
    assert write_entities(_entities(spark, [("k1", "ams", 1), ("k2", "nyc", 2)]), "proj", "City", warehouse=wh) == 0
    assert write_entities(_entities(spark, [("k2", "nyc", 99)]), "proj", "City", warehouse=wh) == 1
    keys = spark.createDataFrame([("k1",)], f"{KEY_COL} string")
    assert delete_entities(keys, "proj", "City", warehouse=wh) == 2
    got = read_entities(spark, "proj", Query(kind="City"), warehouse=wh)
    assert [(r[KEY_COL], r["pop"]) for r in got.collect()] == [("k2", 99)]


def test_mutations_keep_two_versions(spark, wh):
    """Each mutation prunes the kind to {previous, new} snapshot, so a
    frame read before the last mutation still collects."""
    import os

    write_entities(_entities(spark, [("k1", "ams", 1)]), "proj", "City", warehouse=wh)
    write_entities(_entities(spark, [("k2", "nyc", 2)]), "proj", "City", warehouse=wh)
    before = read_entities(spark, "proj", Query(kind="City"), warehouse=wh)
    keys = spark.createDataFrame([("k1",)], f"{KEY_COL} string")
    assert delete_entities(keys, "proj", "City", warehouse=wh) == 2
    kind_dir = os.path.join(wh, "proj", "__default__", "City")
    assert sorted(os.listdir(kind_dir)) == ["batch=1", "batch=2"]
    assert sorted(r[KEY_COL] for r in before.collect()) == ["k1", "k2"]
    got = read_entities(spark, "proj", Query(kind="City"), warehouse=wh)
    assert [r[KEY_COL] for r in got.collect()] == ["k2"]

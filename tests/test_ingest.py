"""The north-star pipeline: archives → snapshot-managed image table
with the exact input_hint schema, time travel, and lineage manifests."""

import pytest

from mhtml_to_html_spark.operators.ingest import ingest_images, read_images
from mhtml_to_html_spark.plans.catalog import SnapshotCatalog
from mhtml_to_html_spark.sources.corpus import archives_df, image_meta


@pytest.mark.spark
def test_ingest_snapshots_and_time_travel(spark, tmp_path):
    catalog = SnapshotCatalog(str(tmp_path / "warehouse"))
    snap0 = ingest_images(archives_df(spark, 4, 2, partitions=2), catalog, round_idx=0)
    snap1 = ingest_images(archives_df(spark, 8, 2, partitions=2), catalog, round_idx=1)
    assert snap1 > snap0

    first = read_images(spark, catalog, snap0)
    latest = read_images(spark, catalog)
    assert first.count() == 8
    assert latest.count() == 16
    # exact input_hint schema
    assert latest.schema.simpleString() == (
        "struct<image_id:string,bytes:binary,w:int,h:int,fmt:string,caption:string,phash:bigint>"
    )
    # values match the golden generator
    row = {r["image_id"]: r for r in latest.collect()}["img_000003"]
    meta = image_meta(3)
    assert bytes(row["bytes"]) == meta["bytes"]
    assert row["caption"] == meta["caption"]
    assert (row["w"], row["h"], row["fmt"]) == (meta["w"], meta["h"], meta["fmt"])

    # lineage: the manifest records parent pointers and per-file rows
    manifest = catalog.manifest(snap1)
    assert manifest["parent_id"] == snap0
    table = manifest["tables"]["images"]
    assert table["rows"] == 16
    assert sum(f["rows"] for f in table["files"]) == 16


@pytest.mark.spark
def test_snapshot_lineage_comes_from_the_written_files(spark, tmp_path):
    """Writing k materialized tables runs exactly k Spark jobs, the
    writes themselves: each file's row count comes from its parquet
    footer, with no read-back job. The manifest lists every data file
    the write produced, and each table's rows sum over its files.
    Loading a table runs no job either (no schema inference): the
    manifest records its schema."""
    import os

    from mhtml_to_html_spark.frontier.spark_frontier import local_frame

    sc = spark.sparkContext
    tables = {
        "spread": spark.range(0, 10, 1, 3).localCheckpoint(eager=True),
        "local": local_frame(spark, [("a", 1), ("b", 2)], "key string, n long"),
        "empty": local_frame(spark, [], "key string, n long"),
    }
    catalog = SnapshotCatalog(str(tmp_path / "warehouse"))
    group = "snapshot-lineage-test"
    sc.setJobGroup(group, "write_snapshot")
    try:
        snap = catalog.write_snapshot(tables, round_idx=0)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == len(tables)

    manifest = catalog.manifest(snap)
    for name, want in (("spread", 10), ("local", 2), ("empty", 0)):
        table = manifest["tables"][name]
        path = os.path.join(str(tmp_path / "warehouse"), "snapshots", f"snap_{snap:06d}", name)
        written = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        assert [f["file"] for f in table["files"]] == written
        assert table["rows"] == want == sum(f["rows"] for f in table["files"])
        load_group = f"snapshot-load-{name}"
        sc.setJobGroup(load_group, "load_table")
        try:
            loaded = catalog.load_table(spark, snap, name)
            assert loaded.schema.simpleString() == tables[name].schema.simpleString()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            assert not sc.statusTracker().getJobIdsForGroup(load_group)
            assert loaded.count() == want
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)


@pytest.mark.spark
def test_manifest_write_is_atomic(spark, tmp_path, monkeypatch):
    """A crash partway through a manifest write leaves no snapshot
    behind: the previous snapshot stays the latest, and it loads."""
    import json

    catalog = SnapshotCatalog(str(tmp_path / "warehouse"))
    first = catalog.write_snapshot({"t": spark.range(3)}, round_idx=0)

    def crash(obj, fh, **kw):
        fh.write(json.dumps(obj)[:20])
        raise OSError("disk went away")

    monkeypatch.setattr(json, "dump", crash)
    with pytest.raises(OSError, match="disk went away"):
        catalog.write_snapshot({"t": spark.range(5)}, round_idx=1)
    monkeypatch.undo()

    assert catalog.list_snapshots() == [first]
    assert catalog.latest()["snapshot_id"] == first
    assert catalog.load_table(spark, first, "t").count() == 3

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

"""End-to-end Spark pipeline: corpus → split → registry → images, with
the input_hint pixel/caption invariants (PSNR>=40dB for lossy, exact
otherwise; caption equality)."""

import numpy as np
import pytest

from mhtml_to_html_spark.images.synth import decode_image, psnr, synth_image
from mhtml_to_html_spark.operators.images_extract import extract_images
from mhtml_to_html_spark.operators.registry import registry_keys, select_index
from mhtml_to_html_spark.operators.split import split_archives
from mhtml_to_html_spark.sources.corpus import archives_df, image_meta

N_ARCHIVES = 12
IMAGES_PER = 3


@pytest.fixture(scope="module")
def parts(spark):
    df = split_archives(archives_df(spark, N_ARCHIVES, IMAGES_PER, partitions=4))
    df.cache().count()
    return df


def test_every_archive_split(parts):
    counts = {r["archive_id"]: r["n"] for r in parts.groupBy("archive_id").count().withColumnRenamed("count", "n").collect()}
    assert len(counts) == N_ARCHIVES
    # 1 document + (image + caption) per image
    assert all(n == 1 + 2 * IMAGES_PER for n in counts.values()), counts


def test_spark_split_matches_pure_python(parts):
    from mhtml_to_html_spark.mime import parse_mhtml
    from mhtml_to_html_spark.sources.corpus import build_archive

    rows = parts.filter("archive_id = 'arc_000003'").orderBy("seq").collect()
    oracle = parse_mhtml(build_archive(3, IMAGES_PER))
    assert len(rows) == len(oracle.parts)
    for row, part in zip(rows, oracle.parts):
        assert row["part_id"] == part.part_id
        assert bytes(row["data"]) == part.data
        assert row["content_type"] == part.content_type


def test_index_selection_matches(parts, spark):
    idx = {r["archive_id"]: r["index_id"] for r in select_index(parts).collect()}
    inline = {r["archive_id"]: r["index_id"] for r in parts.select("archive_id", "index_id").distinct().collect()}
    assert idx == inline
    assert all(v.endswith(".html") for v in idx.values())


def test_registry_first_wins(parts):
    keys = registry_keys(parts)
    dupes = keys.groupBy("archive_id", "key").count().filter("count > 1").count()
    assert dupes == 0


def test_images_extracted_with_invariants(parts):
    golden_ids = {image_meta(i)["image_id"] for i in range(N_ARCHIVES * IMAGES_PER)}
    extracted = [r for r in extract_images(parts).collect() if r["image_id"] in golden_ids]
    assert len(extracted) == N_ARCHIVES * IMAGES_PER
    for row in extracted:
        gid = int(row["image_id"].split("_")[1])
        source = synth_image(gid, row["w"], row["h"])
        decoded = decode_image(bytes(row["bytes"]), row["fmt"])
        assert decoded.shape == source.shape
        if row["fmt"] == "lossy":
            assert psnr(source, decoded) >= 40.0, f"PSNR gate failed for {row['image_id']}"
        else:
            assert np.array_equal(decoded, source), f"pixels differ for {row['image_id']}"
        meta = image_meta(gid)
        assert row["caption"] == meta["caption"], "caption equality failed"
        assert row["w"] == meta["w"] and row["h"] == meta["h"]
        if row["fmt"] != "lossy":
            assert row["phash"] == meta["phash"]


@pytest.mark.spark
def test_compressed_image_parts_extracted(spark):
    """An archive carrying real PNG/GIF/JPEG parts (the formats actual
    crawled MHTML inlines) flows split -> extract with pixel-exact
    lossless decodes and the format sniffed from magic, not extension."""
    import base64

    from tests.helpers.mhtml_builder import encode_base64_body, mhtml_doc, part
    from mhtml_to_html_spark.images.synth import phash64
    from mhtml_to_html_spark.media import encode_gif, encode_jpeg, encode_png
    from mhtml_to_html_spark.operators.multimodal import _decode_image, _to_rgb3

    png_px = synth_image(301, 20, 14)
    gif_px = synth_image(302, 16, 12) // 64 * 64
    jpg_bytes = encode_jpeg(synth_image(303, 24, 16), quality=90)
    doc = mhtml_doc(
        parts=[
            part(
                content_type="text/html",
                location="https://example.com/",
                body='<img src="a.png"><img src="b.gif"><img src="c.jpg">',
            ),
            part(
                content_type="image/png",
                transfer_encoding="base64",
                location="https://example.com/a.png",
                body=encode_base64_body(encode_png(png_px)),
            ),
            part(
                content_type="text/plain",
                location="https://example.com/a.txt",
                body="a png caption",
            ),
            part(
                content_type="image/gif",
                transfer_encoding="base64",
                location="https://example.com/b.gif",
                body=encode_base64_body(encode_gif([gif_px])),
            ),
            part(
                content_type="image/jpeg",
                transfer_encoding="base64",
                location="https://example.com/c.jpg",
                body=encode_base64_body(jpg_bytes),
            ),
        ]
    )
    archives = spark.createDataFrame(
        [("arc_png", bytearray(doc))], "archive_id string, content binary"
    )
    rows = {r["image_id"]: r for r in extract_images(split_archives(archives)).collect()}
    assert set(rows) == {"a", "b", "c"}
    assert (rows["a"]["fmt"], rows["a"]["w"], rows["a"]["h"]) == ("png", 20, 14)
    assert rows["a"]["caption"] == "a png caption"
    assert rows["a"]["phash"] == phash64(png_px)
    assert (rows["b"]["fmt"], rows["b"]["w"], rows["b"]["h"]) == ("gif", 16, 12)
    assert rows["b"]["phash"] == phash64(gif_px)
    # JPEG is lossy: the phash must match a direct decode of the bytes
    assert rows["c"]["fmt"] == "jpeg"
    assert rows["c"]["phash"] == phash64(_to_rgb3(_decode_image(jpg_bytes)))


@pytest.mark.spark
def test_progressive_jpeg_part_extracted(spark):
    """A progressive (SOF2) JPEG part — the dominant encoding for
    large web JPEGs — flows split -> extract identically to baseline:
    sniffed as jpeg, dims from the frame header, phash over the full
    multi-scan decode."""
    from tests.helpers.mhtml_builder import encode_base64_body, mhtml_doc, part
    from mhtml_to_html_spark.images.synth import phash64
    from mhtml_to_html_spark.media import encode_jpeg_progressive
    from mhtml_to_html_spark.operators.multimodal import _decode_image, _to_rgb3

    jpg_bytes = encode_jpeg_progressive(synth_image(304, 28, 20), quality=90)
    doc = mhtml_doc(
        parts=[
            part(
                content_type="text/html",
                location="https://example.com/",
                body='<img src="p.jpg">',
            ),
            part(
                content_type="image/jpeg",
                transfer_encoding="base64",
                location="https://example.com/p.jpg",
                body=encode_base64_body(jpg_bytes),
            ),
            part(
                content_type="text/plain",
                location="https://example.com/p.txt",
                body="a progressive caption",
            ),
        ]
    )
    archives = spark.createDataFrame(
        [("arc_prog", bytearray(doc))], "archive_id string, content binary"
    )
    rows = extract_images(split_archives(archives)).collect()
    assert len(rows) == 1
    row = rows[0]
    assert (row["image_id"], row["fmt"], row["w"], row["h"]) == ("p", "jpeg", 28, 20)
    assert row["caption"] == "a progressive caption"
    assert row["phash"] == phash64(_to_rgb3(_decode_image(jpg_bytes)))


@pytest.mark.spark
def test_favicon_ico_part_extracted(spark):
    """An image/x-icon favicon part (the reference inlines these as
    data URIs; our image axis decodes them) flows split -> extract
    with the largest-entry pixels behind the phash."""
    from tests.helpers.mhtml_builder import encode_base64_body, mhtml_doc, part
    from mhtml_to_html_spark.images.synth import phash64
    from mhtml_to_html_spark.media import encode_ico
    from mhtml_to_html_spark.operators.multimodal import _decode_image, _to_rgb3

    ico_bytes = encode_ico([synth_image(305, 16, 16), synth_image(306, 32, 32)])
    doc = mhtml_doc(
        parts=[
            part(
                content_type="text/html",
                location="https://example.com/",
                body='<link rel="icon" href="favicon.ico">',
            ),
            part(
                content_type="image/x-icon",
                transfer_encoding="base64",
                location="https://example.com/favicon.ico",
                body=encode_base64_body(ico_bytes),
            ),
        ]
    )
    archives = spark.createDataFrame(
        [("arc_ico", bytearray(doc))], "archive_id string, content binary"
    )
    rows = extract_images(split_archives(archives)).collect()
    assert len(rows) == 1
    row = rows[0]
    assert (row["image_id"], row["fmt"], row["w"], row["h"]) == ("favicon", "ico", 32, 32)
    assert row["phash"] == phash64(_to_rgb3(_decode_image(ico_bytes)))

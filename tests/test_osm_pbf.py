"""The PBF source (sources/osm_pbf.py) — the splittable planet-scale
ingest path: protobuf wire codec units, XML↔PBF format parity on the
repository's seeded OSM fixture (sources/osm_fixture.py), and
blob-level intra-file parallelism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ariadne_cartograph_spark.sources import osm_pbf as P
from ariadne_cartograph_spark.sources.osm import (
    _iter_osm_rows,
    read_osm_elements,
    split_elements,
)


def test_varint_zigzag_roundtrip():
    for v in [0, 1, 127, 128, 300, 2**35, 2**63 - 1]:
        assert P._uvarint(P._enc_uvarint(v), 0) == (v, len(P._enc_uvarint(v)))
    for v in [0, -1, 1, -64, 63, -(2**40), 2**40, -(2**62)]:
        assert P._unzigzag(P._zigzag(v)) == v


def test_packed_delta_roundtrip():
    vals = [100, 90, 95, -5, 1_000_000_000_000, 42]
    enc = P._enc_packed(8, vals, zigzag=True, delta=True)
    # strip the field key + length prefix
    fields = list(P._fields(enc))
    assert fields[0][0] == 8 and fields[0][1] == 2
    assert P._packed(fields[0][2], zigzag=True, delta=True) == vals


@pytest.fixture(scope="module")
def pbf_path(tmp_path_factory, osm_fixture):
    rows = list(_iter_osm_rows(open(osm_fixture, "rb")))
    out = tmp_path_factory.mktemp("pbf") / "example.osm.pbf"
    P.write_pbf(rows, str(out), block_elements=1000)
    return str(out)


def test_pbf_roundtrip_exact(pbf_path, osm_fixture):
    """Every element field survives XML → PBF → decode bit-exactly
    (delta/zigzag/string-table/granularity coding verified end-to-end
    on every fixture element)."""
    rows = list(_iter_osm_rows(open(osm_fixture, "rb")))
    back = []
    with open(pbf_path, "rb") as f:
        for btype, off, size in P.scan_blob_index(pbf_path):
            if btype != "OSMData":
                continue
            f.seek(off)
            back.extend(P.decode_primitive_block(P._blob_payload(f.read(size))))
    a = {(r["kind"], r["id"]): r for r in rows}
    b = {(r["kind"], r["id"]): r for r in back}
    assert set(a) == set(b)
    for k in a:
        assert a[k] == b[k], k


def test_blob_index_is_multi_block(pbf_path, osm_doc):
    """1000-element blocks → the single file splits into one OSMData
    blob per 1000 elements, each independently decodable (THE
    splittability property XML lacks)."""
    idx = P.scan_blob_index(pbf_path)
    assert idx[0][0] == "OSMHeader"
    data = [e for e in idx if e[0] == "OSMData"]
    n = len(osm_doc.nodes) + len(osm_doc.ways) + len(osm_doc.relations)
    assert len(data) == -(-n // 1000) > 1  # ceil(n / 1000)


def _canon(df):
    return df.select(
        "kind", "id", "lat", "lon", "version", "changeset", "ts", "uid",
        "user", "visible",
        F.to_json("tags").alias("tags_j"),
        F.to_json("node_refs").alias("refs_j"),
        F.to_json("members").alias("members_j"),
    )


def test_spark_reader_matches_xml_reader(spark, pbf_path, osm_fixture, osm_doc):
    """Format parity at the DataFrame level: the PBF reader and the XML
    reader produce identical unified element frames, and one file's
    blocks decode across multiple tasks."""
    # intra-file parallelism: with AQE's small-shuffle coalescing off
    # (it folds this tiny fixture to 1 partition; at scale it keeps
    # data-sized partitions) one file's 8 blocks spread across tasks
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        pbf = P.read_osm_pbf(spark, f"file://{pbf_path}")
        assert pbf.rdd.getNumPartitions() > 1
    finally:
        spark.conf.set(key, old)
    pbf = P.read_osm_pbf(spark, f"file://{pbf_path}")
    xml = _canon(read_osm_elements(spark, osm_fixture))
    got = _canon(pbf).cache()
    assert xml.exceptAll(got).count() == 0
    assert got.exceptAll(xml).count() == 0
    t = split_elements(P.read_osm_pbf(spark, f"file://{pbf_path}"))
    assert t["nodes"].count() == len(osm_doc.nodes)
    assert t["ways"].count() == len(osm_doc.ways)
    assert t["relations"].count() == len(osm_doc.relations)
    got.unpersist()


def test_sharded_export_roundtrip(spark, tmp_path, osm_fixture, osm_doc):
    """The distributed sink: 4 partitions → 4 self-contained part
    files whose glob reads back the identical element frame (export →
    re-ingest is lossless, the directory IS a valid sharded extract)."""
    import os

    elements = read_osm_elements(spark, osm_fixture).repartition(4)
    out = str(tmp_path / "extract")
    manifest = P.write_pbf_sharded(elements, out, block_elements=500).collect()
    assert len(manifest) == 4
    assert sum(m.n_elements for m in manifest) == (
        len(osm_doc.nodes) + len(osm_doc.ways) + len(osm_doc.relations)
    )
    parts = [f for f in os.listdir(out) if f.endswith(".osm.pbf")]
    assert len(parts) == 4
    back = P.read_osm_pbf(spark, f"file://{out}/part-*.osm.pbf")
    a = _canon(read_osm_elements(spark, osm_fixture))
    b = _canon(back).cache()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    b.unpersist()


def test_ensure_pbf_fixture_caches(osm_fixture):
    import os

    p1 = P.ensure_pbf_fixture(osm_fixture)
    mtime = os.path.getmtime(p1)
    p2 = P.ensure_pbf_fixture(osm_fixture)
    assert p1 == p2 and os.path.getmtime(p2) == mtime  # no re-encode


@pytest.mark.slow
def test_pbf_permissive_quarantines_blob_and_file(spark, pbf_path, tmp_path):
    """Blob-granular quarantine: zeroing one OSMData blob's payload
    loses only that blob's elements (one marker row `path#offset`);
    a file that isn't PBF at all quarantines whole; failfast raises."""
    import shutil

    from ariadne_cartograph_spark.sources.osm import corrupt_files

    good = P.read_osm_pbf(spark, pbf_path).count()
    blobs = [b for b in P.scan_blob_index(pbf_path) if b[0] == "OSMData"]
    assert len(blobs) >= 3
    corrupted = tmp_path / "corrupt.osm.pbf"
    shutil.copy(pbf_path, corrupted)
    _, off, size = blobs[1]
    with open(corrupted, "r+b") as f:
        f.seek(off + 8)
        f.write(b"\x00" * min(64, size - 8))  # destroy the zlib stream
    garbage = tmp_path / "garbage.osm.pbf"
    garbage.write_bytes(b"this is not a pbf file at all" * 10)

    el = P.read_osm_pbf(
        spark, f"file://{tmp_path}/*.osm.pbf", mode="permissive"
    )
    bad = {r.path: r.error for r in corrupt_files(el).collect()}
    assert len(bad) == 2
    assert any(p.endswith(f"corrupt.osm.pbf#{off}") for p in bad)
    assert any(p.endswith("garbage.osm.pbf") for p in bad)
    from pyspark.sql import functions as F

    n_ok = el.filter(F.col("kind").isin("node", "way", "relation")).count()
    assert 0 < n_ok < good  # exactly the poisoned blob's elements lost

    with pytest.raises(Exception):
        P.read_osm_pbf(spark, f"file://{tmp_path}/corrupt.osm.pbf").count()

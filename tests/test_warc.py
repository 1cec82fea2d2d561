"""WARC kernel + distributed source/sink roundtrip."""

import re
import uuid

import pytest


def test_warc_kernel_roundtrip_and_framing_trap():
    from pcrawler_spark.kernels.warc import build_warc, parse_warc

    recs = [
        ("https://a.example/1", "2024-01-01T00:00:00Z", b"<html>one</html>"),
        # payload that LOOKS like a record boundary: Content-Length framing
        # must carry the reader straight through it
        ("https://a.example/2", "2024-01-02T00:00:00Z",
         b"before\r\n\r\nWARC/1.0\r\nWARC-Type: fake\r\n\r\nafter"),
        ("https://a.example/3", "2024-01-03T00:00:00Z", b""),  # empty payload
        # multi-byte UTF-8: Content-Length counts octets, not chars
        ("https://a.example/4", "2024-01-04T00:00:00Z",
         "xin chào thế giới".encode("utf-8")),
    ]
    blob = build_warc(recs)
    assert parse_warc(blob) == recs
    # WARC/1.0 requires a WARC-Record-ID per record: present once in every
    # header block, unique, and the same when the archive is rebuilt
    ids = re.findall(rb"\r\nWARC-Record-ID: <urn:uuid:([0-9a-f-]{36})>\r\n", blob)
    assert len(ids) == len(recs) == len(set(ids))
    assert all(uuid.UUID(i.decode()).version == 5 for i in ids)
    assert build_warc(recs) == blob


def test_warc_kernel_truncation_fails_loudly():
    from pcrawler_spark.kernels.warc import build_warc, parse_warc

    blob = build_warc([("u", "d", b"0123456789")])
    with pytest.raises(ValueError, match="truncated payload"):
        parse_warc(blob[:-14])  # cut into the payload
    with pytest.raises(ValueError, match="not a WARC record"):
        parse_warc(b"HTTP/1.1 200 OK\r\n\r\nnope\r\n\r\n")


def test_warc_spark_roundtrip_one_file_per_partition(spark, tmp_path):
    from pcrawler_spark.sources.warc import read_warc, write_warc

    rows = [(f"https://h{i % 3}.example/d/{i}", "2024-02-01T00:00:00Z",
             f"<html>doc {i} body</html>") for i in range(40)]
    df = spark.createDataFrame(
        rows, "url string, warc_date string, html string").repartition(4)
    out = str(tmp_path / "warc_out")
    manifest = write_warc(df, out).collect()
    assert sum(m["n_records"] for m in manifest) == 40
    assert len(manifest) <= 4 and len(manifest) >= 1  # ≤ one file/partition

    back = read_warc(spark, out)
    got = sorted((r["url"], r["warc_date"], r["html"]) for r in back.collect())
    assert got == sorted(rows)


def test_warc_rewrite_replaces_shards(spark, tmp_path):
    """Shards are named by partition and renamed into place from a hidden
    temp file, so writing the same frame again (what a retried or
    speculative task does) replaces each shard instead of duplicating its
    records, and leaves no temp file behind."""
    from pcrawler_spark.sources.warc import read_warc, write_warc

    rows = [(f"https://h{i % 3}.example/r/{i}", "2024-02-01T00:00:00Z",
             f"<html>doc {i}</html>") for i in range(24)]
    df = spark.createDataFrame(
        rows, "url string, warc_date string, html string").coalesce(3)
    out = tmp_path / "warc_twice"
    for _ in range(2):
        write_warc(df, str(out)).collect()
    assert sorted(p.name for p in out.iterdir()) == [
        "part-00000.warc", "part-00001.warc", "part-00002.warc"]
    got = sorted((r["url"], r["warc_date"], r["html"])
                 for r in read_warc(spark, str(out)).collect())
    assert got == sorted(rows)


def test_warc_gz_kernel_memberwise_roundtrip():
    from pcrawler_spark.kernels.warc import (build_warc, build_warc_gz,
                                             parse_warc_gz)

    recs = [("https://a/1", "2024-01-01T00:00:00Z", b"<html>x</html>"),
            ("https://a/2", "2024-01-02T00:00:00Z",
             b"boundary-lookalike\r\n\r\nWARC/1.0\r\n\r\ntail"),
            ("https://a/3", "2024-01-03T00:00:00Z",
             "tiếng Việt".encode("utf-8"))]
    blob = build_warc_gz(recs)
    assert parse_warc_gz(blob) == recs
    assert blob == build_warc_gz(recs)  # mtime=0 → byte-deterministic
    # one gzip member PER RECORD (the Common Crawl layout): member count =
    # gzip magic count, and members concatenate independently
    assert blob.count(b"\x1f\x8b\x08") == 3
    import pytest
    with pytest.raises(ValueError, match="truncated gzip member"):
        parse_warc_gz(blob[:-4])
    # a plain single-stream gzip of the whole file is NOT member-wise but
    # must still parse (degenerate single member)
    import gzip
    assert parse_warc_gz(gzip.compress(build_warc(recs), mtime=0)) == recs


def test_warc_gz_spark_roundtrip_and_mixed_dir(spark, tmp_path):
    from pcrawler_spark.sources.warc import read_warc, write_warc

    rows = [(f"https://h{i % 2}.example/d/{i}", "2024-03-01T00:00:00Z",
             f"<html>gz doc {i}</html>") for i in range(20)]
    df = spark.createDataFrame(
        rows, "url string, warc_date string, html string").repartition(2)
    out = str(tmp_path / "warc_mixed")
    # one compressed and one plain shard set in the SAME directory —
    # per-file magic detection must route each correctly
    write_warc(df, out, compress=True).collect()
    more = [("https://h9.example/d/99", "2024-03-02T00:00:00Z", "<html>plain</html>")]
    write_warc(spark.createDataFrame(
        more, "url string, warc_date string, html string"), out).collect()

    got = sorted((r["url"], r["warc_date"], r["html"])
                 for r in read_warc(spark, out).collect())
    assert got == sorted(rows + more)

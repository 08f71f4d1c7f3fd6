"""WARC source/sink: round-trip, determinism, resilience (el/warc.py)."""

from __future__ import annotations

import glob
import gzip
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from el.extract import extract_text_udf
from el.fixtures import gen_web_pages
from el.warc import read_warc, write_warc

N_PAGES = 300


@pytest.fixture(scope="module")
def warc_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("warc") / "crawl")
    pages = gen_web_pages(spark, N_PAGES, seed=7)
    summary = write_warc(pages, out, num_files=4).collect()
    assert sum(r["records"] for r in summary) == N_PAGES
    assert len(glob.glob(os.path.join(out, "*.warc.gz"))) == 4
    return out


def test_roundtrip_byte_identity(spark, warc_dir):
    pages = gen_web_pages(spark, N_PAGES, seed=7)
    back = read_warc(spark, warc_dir)
    assert back.count() == N_PAGES

    def sig(df):
        # multiset compare (recrawls duplicate urls): (url, ts, html
        # digest) with multiplicity
        return df.groupBy(
            "url", "warc_ts", F.sha2(F.col("html"), 256).alias("hsha")
        ).count()

    a, b = sig(pages), sig(back)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_sink_bytes_deterministic_across_partitioning(spark, tmp_path):
    """Output files are a pure function of the input SET: shuffling the
    source partitioning must not change a single byte (hash-partition
    by url + in-partition sort)."""
    pages = gen_web_pages(spark, 120, seed=11)

    def shas(out):
        write_warc(pages.repartition(out[1]), out[0], num_files=3).collect()
        return {
            os.path.basename(p): hashlib.sha256(open(p, "rb").read()).hexdigest()
            for p in glob.glob(os.path.join(out[0], "*.warc.gz"))
        }

    a = shas((str(tmp_path / "a"), 2))
    b = shas((str(tmp_path / "b"), 13))
    assert a == b and len(a) == 3


def test_uncompressed_and_truncation_degrade(spark, tmp_path):
    out = str(tmp_path / "plain")
    pages = gen_web_pages(spark, 60, seed=3)
    write_warc(pages, out, num_files=1, compress=False).collect()
    (path,) = glob.glob(os.path.join(out, "*.warc"))
    full = read_warc(spark, out).count()
    assert full == 60
    # chop the tail: reader degrades to the valid prefix, no exception
    data = open(path, "rb").read()
    trunc_dir = str(tmp_path / "trunc")
    os.makedirs(trunc_dir)
    with open(os.path.join(trunc_dir, "cut.warc"), "wb") as fh:
        fh.write(data[: int(len(data) * 0.6)])
    got = read_warc(spark, trunc_dir).count()
    assert 0 < got < 60


def test_gzip_members_are_per_record(warc_dir):
    """Common Crawl layout: each record its own gzip member, so the
    file is a concatenation of >1 member (not one big stream)."""
    path = sorted(glob.glob(os.path.join(warc_dir, "*.warc.gz")))[0]
    data = open(path, "rb").read()
    # count gzip magic headers at member boundaries by decompressing
    # one member at a time
    import zlib

    members = 0
    pos = 0
    while pos < len(data):
        dec = zlib.decompressobj(wbits=31)
        dec.decompress(data[pos:])
        members += 1
        pos = len(data) - len(dec.unused_data)
        if not dec.eof:
            break
    assert members > 1


def test_warc_ingest_feeds_extraction(spark, warc_dir):
    """The WARC source is a drop-in pipeline ingest: extract_sha per
    url off the WARC read equals extract_sha off the native corpus
    (EXTRACT_SPEC byte-identity carried across the format boundary)."""
    sha = F.sha2(extract_text_udf(F.col("html")), 256)
    native = gen_web_pages(spark, N_PAGES, seed=7).select(
        "url", sha.alias("sha0")
    )
    from_warc = read_warc(spark, warc_dir).select("url", sha.alias("sha1"))
    diff = native.join(from_warc, "url").where(
        ~(
            (F.col("sha0") == F.col("sha1"))
            | (F.col("sha0").isNull() & F.col("sha1").isNull())
        )
    )
    assert diff.count() == 0


def test_streaming_source_equals_batch(spark, warc_dir, tmp_path):
    """availableNow drain of the streaming WARC source == batch read
    of the same directory (same parse kernel, file-source discovery)."""
    from el.warc import read_warc, read_warc_stream

    stream = read_warc_stream(spark, warc_dir).select(
        "url", "warc_ts", F.sha2(F.col("html"), 256).alias("h")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("warc_stream_t")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("warc_stream_t")
    batch = read_warc(spark, warc_dir).select(
        "url", "warc_ts", F.sha2(F.col("html"), 256).alias("h")
    )
    assert got.count() == batch.count() == N_PAGES
    assert batch.exceptAll(got).count() == 0
    assert got.exceptAll(batch).count() == 0


def test_warc_to_pages_is_dropin_corpus(spark, warc_dir, tmp_path):
    """Bridge check: WARC -> WEB_PAGES shape. The synthetic fixture is
    pseudo-words (no real stopwords -> lang 'und' by design), so the
    schema/extraction half runs on the fixture crawl and the lang half
    on a handmade stopword-rich crawl."""
    import datetime

    from el.schemas import WEB_PAGES
    from el.warc import read_warc, warc_to_pages, write_warc

    pages = warc_to_pages(read_warc(spark, warc_dir))
    assert [f.name for f in pages.schema.fields] == [
        f.name for f in WEB_PAGES.fields
    ]
    # extraction parity: same EXTRACT_SPEC as the native path (pinned
    # byte-exactly in test_warc_ingest_feeds_extraction); here: the
    # html -> text derivation is populated for the extractable pages
    assert pages.where(F.col("text").isNotNull()).count() > 0
    assert pages.where(F.col("lang") == "und").count() == pages.count()

    # handmade stopword-rich crawl: heuristic lang must recover it
    texts = {
        "en": "the cat and the dog went to the house of that king in time",
        "fr": "le chat et la maison de les rois dans une ville est grande",
        "de": "der hund und die katze von dem haus ist mit den kindern ein",
    }
    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (f"https://x.test/{lang}", ts, f"<html><p>{t}</p></html>".encode())
        for lang, t in texts.items()
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    out = str(tmp_path / "mini")
    write_warc(df, out, num_files=1).collect()
    got = {
        r.url.rsplit("/", 1)[1]: r.lang
        for r in warc_to_pages(read_warc(spark, out)).collect()
    }
    assert got == {"en": "en", "fr": "fr", "de": "de"}


def test_sidecar_and_corrupt_gz_files_skipped(spark, tmp_path):
    """Batch reader: non-WARC sidecars never reach the kernel (glob),
    and a mislabeled .gz degrades to skipped, not a dead job."""
    out = str(tmp_path / "mix")
    write_warc(gen_web_pages(spark, 40, seed=5), out, num_files=1).collect()
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        fh.write("{}")
    with open(os.path.join(out, "broken.warc.gz"), "wb") as fh:
        fh.write(b"not gzip at all")
    from el.warc import read_warc as rw

    assert rw(spark, out).count() == 40


def test_sink_rejects_null_warc_ts(spark, tmp_path):
    import datetime

    rows = [
        ("https://x.test/a", datetime.datetime(2024, 1, 1), b"<p>x</p>"),
        ("https://x.test/b", None, b"<p>y</p>"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    with pytest.raises(Exception, match="warc_ts"):
        write_warc(df, str(tmp_path / "bad"), num_files=1).collect()

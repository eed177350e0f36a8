"""WARC source: codec round-trips, robustness, Spark reader, e2e parity."""

from __future__ import annotations

import datetime
import hashlib

import pytest

from pdf_extractor_spark.sources import warc as W


def _recs(n=5):
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    return [
        (
            f"https://host{i}.example/page/{i}",
            base + datetime.timedelta(seconds=i),
            f"<html><body>payload {i}</body></html>".encode(),
            "text/html",
        )
        for i in range(n)
    ]


def test_warc_roundtrip_plain_and_gzip():
    recs = _recs()
    for gz in (False, True):
        data = W.build_warc(recs, gzip_members=gz, warcinfo_filename="t.warc")
        rows = list(W.warc_rows(data))
        assert [r["url"] for r in rows] == [r[0] for r in recs]
        assert [r["warc_ts"] for r in rows] == [r[1] for r in recs]
        assert [bytes(r["html"]) for r in rows] == [r[2] for r in recs]
    # warcinfo record is present but skipped (response records only)
    headers = [h for h, _ in W.iter_warc_records(data)]
    assert headers[0]["warc-type"] == "warcinfo"
    assert len(headers) == len(recs) + 1


def test_warc_build_is_deterministic():
    recs = _recs(3)
    assert W.build_warc(recs) == W.build_warc(recs)


def test_warc_payload_may_contain_crlf_and_binary():
    payload = b"%PDF-1.4\r\n\r\nWARC/1.0\r\nbinary\x00bytes" + bytes(range(256))
    date = datetime.datetime(2024, 6, 1)
    data = W.build_warc(
        [("https://x.example/a.pdf", date, payload, "application/pdf")]
    )
    rows = list(W.warc_rows(data))
    assert len(rows) == 1 and bytes(rows[0]["html"]) == payload


def test_warc_skips_garbage_and_truncation():
    recs = _recs(4)
    plain = W.build_warc(recs, gzip_members=False)
    # garbage between records: everything still parses
    noisy = plain.replace(b"WARC/1.0\r\nWARC-Type", b"junk\r\nWARC/1.0\r\nWARC-Type")
    assert len(list(W.warc_rows(noisy))) == 4
    # truncated final record: the complete prefix survives
    assert len(list(W.warc_rows(plain[: len(plain) - 40]))) == 3
    # corrupt gzip member ends iteration without raising
    gz = W.build_warc(recs, gzip_members=True)
    cut = gz[: len(gz) // 2] + b"\x00garbage"
    rows = list(W.warc_rows(cut))
    assert 0 <= len(rows) < 4


def test_read_warc_spark_reader_and_extract_parity(spark, tmp_path):
    from pdf_extractor_spark.extract.udfs import extract_one
    from pdf_extractor_spark.fixtures.synth import make_document_row
    from pdf_extractor_spark.pipeline import extract_documents

    ids = list(range(24))  # includes doc 7 and 17: the PDF slots
    d = tmp_path / "warcs"
    d.mkdir()
    (d / "part-0.warc.gz").write_bytes(W.synth_warc_archive(ids[:12]))
    (d / "part-1.warc.gz").write_bytes(W.synth_warc_archive(ids[12:]))

    df = W.read_warc(spark, str(d), glob="*.warc.gz", n_partitions=4)
    rows = {r["url"]: r for r in df.collect()}
    assert len(rows) == 24

    extracted = {
        r["url"]: r for r in extract_documents(df, n_partitions=4).collect()
    }
    for i in ids:
        fixture = make_document_row(i)
        got = rows[fixture["url"]]
        assert bytes(got["html"]) == fixture["html"]  # byte-identical payload
        assert got["warc_ts"] == fixture["warc_ts"].replace(tzinfo=None)
        # end-to-end: extraction through the WARC path == the pure function
        want_text, *_ = extract_one(fixture["html"])
        assert extracted[fixture["url"]]["text"] == want_text
        assert extracted[fixture["url"]]["ok"]


def test_cdx_reader_roundtrip_and_surt(spark, tmp_path):
    """CDX source: lines written by build_cdx_line parse back exactly via
    read_cdx; SURT canonicalization handles scheme/www/case/no-path."""
    from pdf_extractor_spark.sources.cdx import (
        build_cdx_line,
        read_cdx,
        surt_urlkey,
    )
    from pyspark.sql import functions as F

    lines = [
        build_cdx_line(
            "example,docs)/page/1", "20240301101500",
            "https://docs.example/page/1", "text/html", "200", "d" * 32, 512,
        ),
        build_cdx_line(
            "org,wiki)/", "20240301101501",
            "https://www.wiki.org/", "text/plain", "404", "e" * 32, 7,
        ),
    ]
    p = tmp_path / "idx.cdx"
    p.write_text("\n".join(lines) + "\n")
    got = {r["urlkey"]: r for r in read_cdx(spark, str(p)).collect()}
    assert set(got) == {"example,docs)/page/1", "org,wiki)/"}
    r = got["example,docs)/page/1"]
    assert r["url"] == "https://docs.example/page/1"
    assert r["status"] == "200" and r["mime"] == "text/html"
    assert r["length"] == 512
    assert r["warc_ts"].strftime("%Y%m%d%H%M%S") == "20240301101500"

    surt = {
        r["u"]: r["k"]
        for r in spark.createDataFrame(
            [
                ("https://WWW.Docs.Example/Path?Q=1",),
                ("http://a.b.c.example/",),
                ("https://example.org",),
            ],
            ["u"],
        )
        .select("u", surt_urlkey(F.col("u")).alias("k"))
        .collect()
    }
    assert surt["https://WWW.Docs.Example/Path?Q=1"] == "example,docs)/path?q=1"
    assert surt["http://a.b.c.example/"] == "example,c,b,a)/"
    assert surt["https://example.org"] == "org,example)/"


def test_cdx_reader_tolerates_malformed_lines(spark, tmp_path):
    """One bad line in an external index must yield nulls, not kill the
    scan (ANSI-safe try_to_timestamp / try_cast): a classic-CDX header
    line and a legacy '\"length\": \"-\"' placeholder both survive."""
    from pdf_extractor_spark.sources.cdx import build_cdx_line, read_cdx

    good = build_cdx_line(
        "example,docs)/a", "20240301101500",
        "https://docs.example/a", "text/html", "200", "d" * 32, 9,
    )
    header = " CDX N b a m s k r M S V g"
    legacy = ('org,old)/ 20010101000000 {"url": "http://old.org/", '
              '"mime": "text/html", "status": "200", "digest": "x", '
              '"length": "-"}')
    p = tmp_path / "mixed.cdx"
    p.write_text("\n".join([header, good, legacy]) + "\n")
    rows = read_cdx(spark, str(p)).collect()
    assert len(rows) == 3
    by_key = {r["urlkey"]: r for r in rows}
    ok = by_key["example,docs)/a"]
    assert ok["length"] == 9 and ok["warc_ts"] is not None
    old = by_key["org,old)/"]
    assert old["length"] is None and old["warc_ts"] is not None
    assert by_key[""]["warc_ts"] is None  # header line -> null fields


# --- WET (conversion records) ---------------------------------------------------


def _wet_recs(n=5):
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    return [
        (
            f"https://host{i}.example/page/{i}",
            base + datetime.timedelta(seconds=i),
            f"extracted text body {i} — with unicode ☃".encode("utf-8"),
        )
        for i in range(n)
    ]


def test_wet_roundtrip_plain_and_gzip():
    recs = _wet_recs()
    for gz in (False, True):
        data = W.build_wet(recs, gzip_members=gz, warcinfo_filename="t.wet")
        rows = list(W.wet_rows(data))
        assert [r["url"] for r in rows] == [r[0] for r in recs]
        assert [r["warc_ts"] for r in rows] == [r[1] for r in recs]
        assert [r["text"].encode("utf-8") for r in rows] == [r[2] for r in recs]


def test_wet_refers_to_links_response_record():
    """The conversion record's WARC-Refers-To must equal the response
    record's WARC-Record-ID for the same (url, date)."""
    url = "https://a.example/x"
    date = datetime.datetime(2024, 6, 1)
    resp = W.build_warc_response(url, date, b"<html/>", "text/html")
    wet = W.build_wet_conversion(url, date, b"text")
    resp_id = [
        line for line in resp.split(b"\r\n") if line.startswith(b"WARC-Record-ID")
    ][0].split(b": ", 1)[1]
    refers = [
        line for line in wet.split(b"\r\n") if line.startswith(b"WARC-Refers-To")
    ][0].split(b": ", 1)[1]
    assert refers == resp_id


def test_wet_rows_skips_non_conversion_records():
    url = "https://a.example/x"
    date = datetime.datetime(2024, 6, 1)
    mixed = (
        W.build_warcinfo("f.wet")
        + W.build_warc_response(url, date, b"<html/>", "text/html")
        + W.build_wet_conversion(url, date, b"the text")
    )
    rows = list(W.wet_rows(mixed))
    assert len(rows) == 1 and rows[0]["text"] == "the text"


def test_read_wet_spark_reader(spark, tmp_path):
    recs = _wet_recs(8)
    p = tmp_path / "a.warc.wet.gz"
    p.write_bytes(W.build_wet(recs, gzip_members=True, warcinfo_filename="a"))
    got = W.read_wet(spark, str(tmp_path)).orderBy("url").collect()
    assert [r["url"] for r in got] == sorted(r[0] for r in recs)
    by_url = {r[0]: r[2] for r in recs}
    for r in got:
        assert r["text"].encode("utf-8") == by_url[r["url"]]


def _wat_recs(n=5):
    base = datetime.datetime(2024, 1, 1)
    return [
        (
            f"https://host{i}.example/page/{i}",
            base + datetime.timedelta(seconds=i),
            100 + i,
        )
        for i in range(n)
    ]


def test_wat_roundtrip_plain_and_gzip():
    recs = _wat_recs()
    for gz in (False, True):
        data = W.build_wat(recs, gzip_members=gz)
        rows = list(W.wat_rows(data))
        assert [(r["url"], r["warc_ts"], r["payload_len"]) for r in rows] == recs
        for r in rows:
            assert r["target_type"] == "response"
            assert r["http_status"] == 200
            assert r["content_type"] == "text/html"


def test_wat_build_is_deterministic():
    recs = _wat_recs()
    assert W.build_wat(recs) == W.build_wat(recs)
    assert W.build_wat(recs, gzip_members=False) == W.build_wat(
        recs, gzip_members=False
    )


def test_wat_refers_to_links_response_record():
    url = "https://a.example/x"
    date = datetime.datetime(2024, 6, 1)
    resp = W.build_warc_response(url, date, b"<html/>", "text/html")
    wat = W.build_wat_metadata(url, date, 7)
    resp_id = [
        line for line in resp.split(b"\r\n") if line.startswith(b"WARC-Record-ID")
    ][0].split(b": ", 1)[1]
    refers = [
        line for line in wat.split(b"\r\n") if line.startswith(b"WARC-Refers-To")
    ][0].split(b": ", 1)[1]
    assert refers == resp_id


def test_wat_rows_skips_non_metadata_and_bad_json():
    url = "https://a.example/x"
    date = datetime.datetime(2024, 6, 1)
    good = W.build_wat_metadata(url, date, 7)
    # corrupt a copy's JSON body while keeping framing (same byte length)
    bad = good.replace(b'{"Envelope"', b'{"EnvelopX"', 1)
    mixed = (
        W.build_warcinfo("f.wat")
        + W.build_warc_response(url, date, b"<html/>", "text/html")
        + bad
        + good
    )
    rows = list(W.wat_rows(mixed))
    assert len(rows) == 1 and rows[0]["url"] == url


# --- byte pins and the shared record filter -------------------------------------


def _pin_recs():
    """Six pages, every third a PDF whose payload holds CRLFs and raw bytes,
    each HTML page carrying a CRLFCRLF + ``WARC/1.0`` inside its body."""
    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    out = []
    for i in range(6):
        if i % 3 == 2:
            payload = b"%PDF-1.4\r\n\r\n" + bytes(range(i * 40, i * 40 + 40))
            ct = "application/pdf"
        else:
            payload = f"<html><body>pinned page {i}\r\n\r\nWARC/1.0</body></html>"
            payload, ct = payload.encode(), "text/html"
        out.append(
            (f"https://pin{i}.example/p/{i}?q={i}",
             base + datetime.timedelta(seconds=37 * i), payload, ct)
        )
    return out


# md5 of each archive, keyed by gzip_members (each archive leads with a
# warcinfo record). Any byte change in framing, ids, field order or member
# compression moves these.
_ARCHIVE_MD5 = {
    False: {
        "warc": "8288fac2c37f7f53f50e7402bdded5b4",
        "wet": "b34b9d93995e198d6ec0c2f6125d6563",
        "wat": "ca2d210c8289d977a8a2ea86d95f0cd2",
    },
    True: {
        "warc": "12f5993906d115a78e230531d069bbf2",
        "wet": "384459988fde24964968a36ea0f31f63",
        "wat": "a80d332c7779e9053b30854661759beb",
    },
}


@pytest.mark.parametrize("gz", [False, True])
def test_archive_bytes_pinned(gz):
    recs = _pin_recs()
    got = {
        "warc": W.build_warc(recs, gzip_members=gz, warcinfo_filename="pin.warc"),
        "wet": W.build_wet(
            [(u, d, p) for u, d, p, _ in recs],
            gzip_members=gz, warcinfo_filename="pin.wet",
        ),
        "wat": W.build_wat(
            [(u, d, len(p)) for u, d, p, _ in recs],
            gzip_members=gz, warcinfo_filename="pin.wat",
        ),
    }
    assert {k: hashlib.md5(v).hexdigest() for k, v in got.items()} == (
        _ARCHIVE_MD5[gz]
    )


def test_warcinfo_bytes_pinned():
    assert hashlib.md5(W.build_warcinfo("pin.warc.gz")).hexdigest() == (
        "dcc2a9252ee122dc68abb5020ba0243f"
    )


def _fractional(record: bytes) -> bytes:
    """The same record re-dated to a WARC 1.1 fractional-second date. Only
    the header changes, so Content-Length still matches the body."""
    return record.replace(
        b"WARC-Date: 2024-01-01T00:00:00Z", b"WARC-Date: 2024-01-01T00:00:00.5Z"
    )


@pytest.mark.parametrize(
    "rows, record",
    [
        (W.warc_rows, lambda u, d: W.build_warc_response(u, d, b"<p>x</p>")),
        (W.wet_rows, lambda u, d: W.build_wet_conversion(u, d, b"x")),
        (W.wat_rows, lambda u, d: W.build_wat_metadata(u, d, 8)),
    ],
    ids=["warc", "wet", "wat"],
)
def test_rows_accept_fractional_second_dates(rows, record):
    """WARC 1.1 allows ``WARC-Date`` with fractional seconds; every row
    parser must keep such a record, not drop it."""
    url = "https://frac.example/a"
    data = _fractional(record(url, datetime.datetime(2024, 1, 1)))
    assert b"00:00:00.5Z" in data
    got = list(rows(data))
    assert len(got) == 1
    assert got[0]["url"] == url
    assert got[0]["warc_ts"] == datetime.datetime(2024, 1, 1, 0, 0, 0, 500000)

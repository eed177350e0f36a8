"""WARC source — the Common-Crawl container format (ISO 28500, public spec).

The north rule's input is "Common-Crawl-style web pages"; the wire format
those arrive in is WARC: a concatenation of records, each a CRLF-separated
header block (``WARC/1.0`` + named fields) followed by a
``Content-Length``-delimited body, where ``response`` records carry a full
HTTP response (status line + headers + payload). Common Crawl compresses
each record as its own gzip member so readers can split a .warc.gz at
member boundaries without decompressing the whole file.

This module is a from-scratch codec (writer + parser, pure functions — the
writer exists so tests and fixtures can synthesize deterministic archives;
no external data) for the three record kinds Common Crawl publishes, all
in the same framing: WARC ``response`` (``build_warc`` / ``warc_rows``),
WET ``conversion`` text (``build_wet`` / ``wet_rows``) and WAT JSON
``metadata`` (``build_wat`` / ``wat_rows``). Two Spark readers, each a
``binaryFile`` scan -> ``mapInPandas`` record splitter: ``read_warc`` gives
the engine's (url, warc_ts, html, text, lang) input for
``pipeline.extract_documents``; ``read_wet`` gives (url, warc_ts, text)
rows for curation operators, with no extraction pass.

Scale posture: one task per WARC file (Common Crawl files are ~1 GB, so a
100 TB crawl is ~100k natural splits — parallelism comes free). Records
are decompressed member-by-member and emitted in bounded row batches, so
peak memory per task is O(file + batch), not O(corpus). A production
deployment over petabyte archives would additionally split single files by
gzip-member offset (the cdx index provides them) — same parser, more
splits; the per-record-member framing is what makes that possible.
Malformed tails and truncated records are skipped, never fatal: a crawl
archive with one bad record must not kill a 100k-file job.
"""

from __future__ import annotations

import datetime
import hashlib
import itertools
import json
import zlib
from typing import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession

CRLF = b"\r\n"
_WARC_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"
# WARC 1.1 allows fractional seconds; the 1.0 form is tried first
_WARC_DATE_FMTS = (_WARC_DATE_FMT, "%Y-%m-%dT%H:%M:%S.%fZ")
_GZIP_MAGIC = b"\x1f\x8b"


# --- writer (deterministic; fixture/test archives) ---------------------------


def _record(fields: list[tuple[str, str]], body: bytes) -> bytes:
    """ISO 28500 framing: ``WARC/1.0``, the ``name: value`` fields in order,
    ``Content-Length`` last, a blank line, the body, then CRLFCRLF."""
    head = [b"WARC/1.0"] + [f"{k}: {v}".encode("ascii") for k, v in fields]
    head.append(b"Content-Length: " + str(len(body)).encode("ascii"))
    return CRLF.join(head) + CRLF + CRLF + body + CRLF + CRLF


def _urn(key: str) -> str:
    return f"<urn:md5:{hashlib.md5(key.encode()).hexdigest()}>"


def _page_fields(
    warc_type: str,
    url: str,
    date: datetime.datetime,
    content_type: str,
    derived: str | None = None,
) -> list[tuple[str, str]]:
    """Fields of a per-page record. Ids are md5-derived, never uuid4, so a
    corpus always serializes to the same bytes: the response record's id is
    md5(url|date); a record ``derived`` from it (``wet``, ``wat``) gets
    md5(url|date|derived) plus a ``WARC-Refers-To`` naming the response."""
    wdate = date.strftime(_WARC_DATE_FMT)
    response_id = _urn(f"{url}|{wdate}")
    ids = [("WARC-Record-ID", response_id)] if derived is None else [
        ("WARC-Record-ID", _urn(f"{url}|{wdate}|{derived}")),
        ("WARC-Refers-To", response_id),
    ]
    return [
        ("WARC-Type", warc_type),
        ("WARC-Target-URI", url),
        ("WARC-Date", wdate),
        *ids,
        ("Content-Type", content_type),
    ]


def _archive(
    raws: Iterable[bytes], gzip_members: bool, warcinfo_filename: str | None
) -> bytes:
    """Concatenate records, led by a warcinfo record when a filename is
    given; with ``gzip_members`` each record is its own gzip member (Common
    Crawl style)."""
    if warcinfo_filename is not None:
        raws = itertools.chain([build_warcinfo(warcinfo_filename)], raws)
    if not gzip_members:
        return b"".join(raws)
    return b"".join(_gzip_member(r) for r in raws)


def build_warc_response(
    url: str,
    date: datetime.datetime,
    payload: bytes,
    content_type: str = "text/html",
    http_status: str = "200 OK",
) -> bytes:
    """One WARC ``response`` record: WARC headers + an HTTP/1.1 response."""
    http = (
        f"HTTP/1.1 {http_status}\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode("ascii") + payload
    ct = "application/http; msgtype=response"
    return _record(_page_fields("response", url, date, ct), http)


def build_wet_conversion(url: str, date: datetime.datetime, text: bytes) -> bytes:
    """One WET ``conversion`` record — the Common Crawl extracted-text
    sibling of the response record (WET files are what CC publishes as
    *.warc.wet.gz). No HTTP envelope: the body IS the extracted text,
    ``Content-Type: text/plain``, and ``WARC-Refers-To`` points at the
    response record the text was converted from."""
    return _record(_page_fields("conversion", url, date, "text/plain", "wet"), text)


def build_wat_metadata(
    url: str,
    date: datetime.datetime,
    payload_len: int,
    content_type: str = "text/html",
    http_status: int = 200,
) -> bytes:
    """One WAT ``metadata`` record — the Common Crawl per-page metadata
    sibling (what CC publishes as *.warc.wat.gz): ``Content-Type:
    application/json``, body a JSON ``Envelope`` that describes the
    response record it refers to (WARC header echo + payload metadata:
    length, HTTP status, HTTP Content-Type). The JSON is emitted compact
    with a FIXED field order so the same corpus always serializes to the
    same bytes — the byte-level contract the oracle reconstructs."""
    wdate = date.strftime(_WARC_DATE_FMT)
    body = (
        '{"Envelope":{"WARC-Header-Metadata":{'
        f'"WARC-Type":"response","WARC-Target-URI":"{url}",'
        f'"WARC-Date":"{wdate}"'
        '},"Payload-Metadata":{'
        f'"Actual-Content-Length":{payload_len},'
        '"HTTP-Response-Metadata":{"Response-Message":{'
        f'"Status":{http_status}'
        '},"Headers":{'
        f'"Content-Type":"{content_type}"'
        "}}}}}"
    ).encode("ascii")
    ct = "application/json"
    return _record(_page_fields("metadata", url, date, ct, "wat"), body)


def build_warcinfo(filename: str) -> bytes:
    """A ``warcinfo`` leading record (real archives carry one; the reader
    must skip it)."""
    fields = [
        ("WARC-Type", "warcinfo"),
        ("WARC-Filename", filename),
        ("Content-Type", "application/warc-fields"),
    ]
    body = b"software: pdf_extractor_spark\r\nformat: WARC File Format 1.0\r\n"
    return _record(fields, body)


def _gzip_member(raw: bytes) -> bytes:
    """One deterministic gzip member (zlib writes mtime=0, no filename)."""
    c = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return c.compress(raw) + c.flush()


def build_warc(
    records: Iterable[tuple[str, datetime.datetime, bytes, str]],
    gzip_members: bool = True,
    warcinfo_filename: str | None = None,
) -> bytes:
    """Serialize (url, date, payload, content_type) tuples to a .warc /
    .warc.gz byte string."""
    raws = (build_warc_response(u, d, p, ct) for u, d, p, ct in records)
    return _archive(raws, gzip_members, warcinfo_filename)


def build_wet(
    records: Iterable[tuple[str, datetime.datetime, bytes]],
    gzip_members: bool = True,
    warcinfo_filename: str | None = None,
) -> bytes:
    """Serialize (url, date, text_bytes) tuples to a .warc.wet /
    .warc.wet.gz byte string."""
    raws = (build_wet_conversion(u, d, t) for u, d, t in records)
    return _archive(raws, gzip_members, warcinfo_filename)


def build_wat(
    records: Iterable[tuple[str, datetime.datetime, int]],
    gzip_members: bool = True,
    warcinfo_filename: str | None = None,
) -> bytes:
    """Serialize (url, date, payload_len) tuples to a .warc.wat /
    .warc.wat.gz byte string."""
    raws = (build_wat_metadata(u, d, n) for u, d, n in records)
    return _archive(raws, gzip_members, warcinfo_filename)


# --- parser (pure functions) --------------------------------------------------


def _iter_gzip_members(data: bytes) -> Iterator[bytes]:
    """Decompress a multi-member gzip stream one member at a time (bounded
    memory per member; a corrupt member ends iteration, prior members
    survive)."""
    view = memoryview(data)  # zero-copy slices: data[pos:] per member is
    pos = 0                   # O(members x file_size) memcpy on real
    n = len(data)             # ~100k-member Common Crawl archives
    while pos < n and bytes(view[pos : pos + 2]) == _GZIP_MAGIC:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            out = d.decompress(view[pos:])
        except zlib.error:
            return
        yield out
        consumed = n - pos - len(d.unused_data)
        if consumed <= 0:  # no forward progress: corrupt framing
            return
        pos += consumed


def _header_fields(lines: list[bytes]) -> dict[str, str]:
    """``name: value`` lines -> {lowercased name: value}, ascii-decoded and
    stripped; a line without a colon is skipped."""
    out: dict[str, str] = {}
    for line in lines:
        k, sep, v = line.partition(b":")
        if sep:
            out[k.strip().decode("ascii", "ignore").lower()] = v.strip().decode(
                "ascii", "ignore"
            )
    return out


def _parse_record(raw: bytes, pos: int) -> tuple[dict[str, str], bytes, int] | None:
    """Parse one record at ``pos``; returns (headers, body, next_pos) or
    None when no complete, well-formed record starts there."""
    while True:
        start = raw.find(b"WARC/", pos)
        if start < 0:
            return None
        head_end = raw.find(CRLF + CRLF, start)
        if head_end < 0:
            return None
        headers = _header_fields(raw[start:head_end].split(CRLF)[1:])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            # corrupt/missing Content-Length: resync at the NEXT record
            # header instead of ending the chunk — one bad record must not
            # silently drop every record after it in a plain .warc file
            # (loop, not recursion: a long bad run must not blow the stack)
            pos = head_end
            continue
        body_start = head_end + 4
        body_end = body_start + length
        if body_end > len(raw):  # truncated record
            return None
        return headers, raw[body_start:body_end], body_end


def iter_warc_records(data: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield (warc_headers, body) for every complete record; gzip-membered
    and plain archives both accepted; garbage between/after records is
    skipped, truncation ends iteration."""
    chunks = (
        _iter_gzip_members(data)
        if data[:2] == _GZIP_MAGIC
        else iter((data,))
    )
    for raw in chunks:
        pos = 0
        while True:
            parsed = _parse_record(raw, pos)
            if parsed is None:
                break
            headers, body, pos = parsed
            yield headers, body


def split_http_response(body: bytes) -> tuple[str, dict[str, str], bytes]:
    """(status_line, http_headers, payload) from an HTTP response body; a
    body with no header/payload separator is treated as all payload."""
    sep = body.find(CRLF + CRLF)
    if sep < 0 or not body.startswith(b"HTTP/"):
        return "", {}, body
    lines = body[:sep].split(CRLF)
    status = lines[0].decode("ascii", "ignore")
    return status, _header_fields(lines[1:]), body[sep + 4 :]


def _page_records(
    data: bytes, warc_type: str
) -> Iterator[tuple[str, datetime.datetime, bytes]]:
    """(url, warc_ts, body) of every ``warc_type`` record with a target URI
    and a parseable WARC-Date, read naive-UTC (Spark timestamps are
    tz-naive here); every other record is skipped."""
    for headers, body in iter_warc_records(data):
        if headers.get("warc-type") != warc_type:
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        wdate = headers.get("warc-date", "")
        for fmt in _WARC_DATE_FMTS:
            try:
                ts = datetime.datetime.strptime(wdate, fmt)
                break
            except ValueError:
                pass
        else:
            continue
        yield url, ts, body


def warc_rows(data: bytes) -> Iterator[dict]:
    """North-rule input rows from archive bytes: ``response`` records only,
    HTTP framing stripped."""
    for url, ts, body in _page_records(data, "response"):
        payload = split_http_response(body)[2]
        yield {"url": url, "warc_ts": ts, "html": payload, "text": "", "lang": None}


def wet_rows(data: bytes) -> Iterator[dict]:
    """(url, warc_ts, text) rows from WET archive bytes: ``conversion``
    records only, body decoded utf-8 (replace — a conversion record is
    text by contract, but one mojibake record must not kill the task)."""
    for url, ts, body in _page_records(data, "conversion"):
        yield {"url": url, "warc_ts": ts, "text": body.decode("utf-8", "replace")}


def wat_rows(data: bytes) -> Iterator[dict]:
    """(url, warc_ts, payload_len, http_status, content_type) rows from WAT
    archive bytes: ``metadata`` records only, body parsed as JSON with the
    Envelope layout above. Malformed JSON bodies are skipped, never fatal
    (same tolerance contract as the WARC/WET parsers)."""
    for url, ts, body in _page_records(data, "metadata"):
        try:
            env = json.loads(body.decode("utf-8"))["Envelope"]
            pm = env["Payload-Metadata"]
            hrm = pm.get("HTTP-Response-Metadata", {})
        except (ValueError, KeyError, TypeError):
            continue
        yield {
            "url": url,
            "warc_ts": ts,
            "target_type": env.get("WARC-Header-Metadata", {}).get(
                "WARC-Type"
            ),
            "payload_len": pm.get("Actual-Content-Length"),
            "http_status": hrm.get("Response-Message", {}).get("Status"),
            "content_type": hrm.get("Headers", {}).get("Content-Type"),
        }


# --- Spark readers -------------------------------------------------------------

_BATCH_ROWS = 256


def _read_archives(
    spark: SparkSession, path: str, glob: str, n_partitions: int | None,
    rows: Callable[[bytes], Iterator[dict]], schema: str,
) -> DataFrame:
    """``binaryFile`` scan of the archives under ``path`` matching ``glob``
    (one task per archive) -> ``mapInPandas`` running the pure-function
    ``rows`` parser on each file, emitting ``schema`` rows in batches of at
    most ``_BATCH_ROWS``. ``n_partitions`` repartitions the file list BEFORE
    parsing, for archives-per-task balance when file counts are small."""
    import pandas as pd

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("content")
    )
    if n_partitions:
        files = files.repartition(n_partitions)
    cols = [c.split()[0] for c in schema.split(",")]

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        buf: list[dict] = []
        for pdf in batches:
            for content in pdf["content"]:
                for row in rows(bytes(content)):
                    buf.append(row)
                    if len(buf) >= _BATCH_ROWS:
                        yield pd.DataFrame(buf, columns=cols)
                        buf = []
        if buf:
            yield pd.DataFrame(buf, columns=cols)

    return files.mapInPandas(gen, schema=schema)


def read_warc(
    spark: SparkSession,
    path: str,
    glob: str = "*.warc*",
    n_partitions: int | None = None,
) -> DataFrame:
    """Directory of .warc / .warc.gz files -> north-rule input rows.

    One task per archive (~1 GB Common Crawl files give a 100 TB crawl
    ~100k natural splits), parsed by ``warc_rows``."""
    return _read_archives(
        spark, path, glob, n_partitions, warc_rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def read_wet(
    spark: SparkSession,
    path: str,
    glob: str = "*.wet*",
    n_partitions: int | None = None,
) -> DataFrame:
    """Directory of .warc.wet / .warc.wet.gz files -> (url, warc_ts, text)
    rows. Same reader as ``read_warc`` — WET is the already-extracted side
    of a crawl, so rows go straight to curation operators with no
    extraction pass."""
    return _read_archives(
        spark, path, glob, n_partitions, wet_rows,
        "url string, warc_ts timestamp, text string",
    )


def synth_warc_archive(
    doc_ids: Iterable[int],
    seed: int = 42,
    scale: int = 1,
    gzip_members: bool = True,
    warcinfo_filename: str | None = "synth.warc.gz",
) -> bytes:
    """Deterministic fixture archive: the standard synth corpus rows
    serialized as WARC (same (seed, doc_id) pure functions as every other
    fixture — no external data)."""
    from pdf_extractor_spark.fixtures.synth import make_document_row

    def recs():
        for i in doc_ids:
            r = make_document_row(i, seed=seed, scale=scale)
            ct = (
                "application/pdf"
                if r["html"][:5] == b"%PDF-"
                else "text/html"
            )
            yield r["url"], r["warc_ts"].replace(tzinfo=None), r["html"], ct

    return build_warc(
        recs(), gzip_members=gzip_members, warcinfo_filename=warcinfo_filename
    )

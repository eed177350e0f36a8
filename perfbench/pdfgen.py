"""Multi-page PDF payloads for the ``incremental_pdf`` workload.

Three layouts, chosen per document:

- ``type1``: ``fixtures.synth.make_pdf`` (classic xref table, Type1
  Helvetica with WinAnsi, FlateDecode content streams);
- ``type0``: a Type0 font with ``/Encoding /Identity-H`` whose two-byte
  glyph ids are decoded through a compressed ``/ToUnicode`` CMap (the
  subset-font shape of real producer output), classic xref table;
- ``objstm``: PDF 1.5 layout with the page, font, page-tree and catalog
  dictionaries packed in ``/Type /ObjStm`` object streams and a
  ``/Type /XRef`` cross-reference stream instead of a classic table,
  using the Type0 font.

Every payload is a pure function of ``(seed, doc_id)``.
"""

from __future__ import annotations

import random
import zlib

from pdf_extractor_spark.fixtures.synth import make_pdf

LAYOUTS = ("type1", "type0", "objstm")

_WORDS = (
    "annual revenue growth segment margin operating capital expenditure "
    "dividend outlook guidance quarter fiscal liquidity ratio forecast "
    "customer region portfolio strategy risk audit compliance board "
    "committee shareholder statement balance income cash flow equity "
    "liability asset depreciation amortization impairment goodwill "
    "inventory receivable payable tax provision pension obligation"
).split()
_ACCENTED = ["résumé", "société", "Müller", "größe", "año", "niño", "café", "déjà"]

PAGE_W, PAGE_H = 612.0, 792.0
LEADING = 13.0


def _line(rng: random.Random, max_chars: int) -> str:
    words: list[str] = []
    n = 0
    while True:
        w = rng.choice(_ACCENTED) if rng.random() < 0.05 else rng.choice(_WORDS)
        if n + len(w) + 1 > max_chars:
            break
        words.append(w)
        n += len(w) + 1
    s = " ".join(words)
    return s[0].upper() + s[1:]


def _page_runs(rng: random.Random, page_no: int) -> list[tuple[float, float, str]]:
    """(x, y, text) runs for one report page: header and footer in the
    margin bands, then one or two columns of paragraphs."""
    runs = [
        (72.0, PAGE_H - 30, "Consolidated Annual Report"),
        (72.0, 25.0, "Page %d" % (page_no + 1)),
    ]
    two_col = rng.random() < 0.3
    columns = ((72.0, 36), (330.0, 36)) if two_col else ((72.0, 80),)
    for x0, max_chars in columns:
        y = PAGE_H - 90
        while y > 90:
            for _ in range(rng.randint(3, 7)):
                if y <= 90:
                    break
                runs.append((x0, y, _line(rng, max_chars)))
                y -= LEADING
            y -= 2 * LEADING  # paragraph gap
    return runs


class _Type0Font:
    """Identity-H glyph assignment: a per-document permutation of the
    characters used, as a subsetting producer would emit."""

    def __init__(self, text: str, rng: random.Random) -> None:
        chars = sorted(set(text))
        gids = rng.sample(range(3, 3 + 4 * len(chars)), len(chars))
        self.gid = dict(zip(chars, gids))

    def encode(self, s: str) -> bytes:
        return b"<" + "".join("%04X" % self.gid[c] for c in s).encode() + b">"

    def cmap(self) -> bytes:
        items = sorted((g, c) for c, g in self.gid.items())
        blocks = []
        for i in range(0, len(items), 100):  # spec: <= 100 entries per block
            chunk = items[i : i + 100]
            body = "\n".join(
                "<%04X> <%s>" % (g, c.encode("utf-16-be").hex().upper())
                for g, c in chunk
            )
            blocks.append("%d beginbfchar\n%s\nendbfchar" % (len(chunk), body))
        return (
            "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
            "/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n"
            "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            + "\n".join(blocks)
            + "\nendcmap\nCMapName currentdict /CMap defineresource pop\nend\nend"
        ).encode("ascii")


def _stream(data: bytes) -> bytes:
    z = zlib.compress(data)
    return b"<< /Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream" % (len(z), z)


def _content(runs: list[tuple[float, float, str]], font: _Type0Font) -> bytes:
    ops = [b"BT", b"/F1 10 Tf", b"%.1f TL" % LEADING]
    for x, y, text in runs:
        ops.append(b"1 0 0 1 %.2f %.2f Tm" % (x, y))
        cut = len(text) // 2  # one kerned TJ array per line, split mid-line
        ops.append(
            b"[%s -12 %s] TJ" % (font.encode(text[:cut]), font.encode(text[cut:]))
        )
    ops.append(b"ET")
    return b"\n".join(ops)


def _type0_objects(pages: list[list[tuple[float, float, str]]], rng: random.Random):
    """Numbered objects of a Type0-font document.

    Returns ``(dicts, streams, root)``: ``dicts`` may live in an object
    stream, ``streams`` may not (spec 7.5.7)."""
    font = _Type0Font("".join(t for runs in pages for _x, _y, t in runs), rng)
    n_pages = len(pages)
    # 1 catalog, 2 page tree, 3 Type0 font, 4 CIDFont, 5 ToUnicode,
    # then per page: page dict, content stream
    page_nums = [6 + 2 * i for i in range(n_pages)]
    dicts = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [%s] /Count %d >>"
        % (b" ".join(b"%d 0 R" % n for n in page_nums), n_pages),
        3: b"<< /Type /Font /Subtype /Type0 /BaseFont /PBSUBS+Arial "
        b"/Encoding /Identity-H /DescendantFonts [4 0 R] /ToUnicode 5 0 R >>",
        4: b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /PBSUBS+Arial "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
        b"/Supplement 0 >> /DW 500 >>",
    }
    streams = {5: _stream(font.cmap())}
    for num, runs in zip(page_nums, pages):
        dicts[num] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 %d %d] /Contents %d 0 R "
            b"/Resources << /Font << /F1 3 0 R >> >> >>"
            % (int(PAGE_W), int(PAGE_H), num + 1)
        )
        streams[num + 1] = _stream(_content(runs, font))
    return dicts, streams, 1


def _classic(objects: dict[int, bytes], root: int) -> bytes:
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    size = max(objects) + 1
    offsets = [0] * size
    for num in sorted(objects):
        offsets[num] = len(out)
        out += b"%d 0 obj\n%s\nendobj\n" % (num, objects[num])
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % size
    for num in range(1, size):
        out += b"%010d 00000 n \n" % offsets[num] if num in objects else b"0000000000 65535 f \n"
    out += b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (size, root, xref)
    return bytes(out)


def _objstm_layout(dicts: dict[int, bytes], streams: dict[int, bytes], root: int) -> bytes:
    """Dictionaries in two object streams, a cross-reference stream last."""
    stm_nums = [max(list(dicts) + list(streams)) + 1 + i for i in range(2)]
    xref_num = stm_nums[-1] + 1
    order = sorted(dicts)
    half = (len(order) + 1) // 2
    members: dict[int, tuple[int, int]] = {}  # obj -> (objstm, index)
    objects = dict(streams)
    for stm_num, group in zip(stm_nums, (order[:half], order[half:])):
        pairs, bodies = b"", b""
        for idx, num in enumerate(group):
            pairs += b"%d %d " % (num, len(bodies))
            bodies += dicts[num] + b"\n"
            members[num] = (stm_num, idx)
        z = zlib.compress(pairs + bodies)
        objects[stm_num] = (
            b"<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode /Length %d >>\n"
            b"stream\n%s\nendstream" % (len(group), len(pairs), len(z), z)
        )
    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += b"%d 0 obj\n%s\nendobj\n" % (num, objects[num])
    offsets[xref_num] = len(out)
    size = xref_num + 1
    rows = bytearray(b"\x00" + (0).to_bytes(4, "big") + b"\xff\xff")
    for num in range(1, size):
        if num in members:
            stm, idx = members[num]
            rows += b"\x02" + stm.to_bytes(4, "big") + idx.to_bytes(2, "big")
        elif num in offsets:
            rows += b"\x01" + offsets[num].to_bytes(4, "big") + b"\x00\x00"
        else:
            rows += b"\x00" + (0).to_bytes(4, "big") + b"\xff\xff"
    z = zlib.compress(bytes(rows))
    out += (
        b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root %d 0 R "
        b"/Filter /FlateDecode /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        % (xref_num, size, root, len(z), z)
    )
    out += b"startxref\n%d\n%%%%EOF\n" % offsets[xref_num]
    return bytes(out)


def make_report_pdf(doc_id: int, seed: int, n_pages: int) -> tuple[bytes, str]:
    """One report of ``n_pages`` pages -> (payload, layout)."""
    rng = random.Random((seed << 24) ^ (doc_id * 7919))
    pages = [_page_runs(rng, p) for p in range(n_pages)]
    layout = LAYOUTS[doc_id % len(LAYOUTS)]
    if layout == "type1":
        return make_pdf(pages, PAGE_W, PAGE_H), layout
    dicts, streams, root = _type0_objects(pages, rng)
    if layout == "type0":
        return _classic({**dicts, **streams}, root), layout
    return _objstm_layout(dicts, streams, root), layout

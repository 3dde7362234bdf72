"""Seeded corpus of multi-page Ethiopic PDFs for the ingest workloads.

Every PDF is written from scratch:

- FlateDecode content streams with an exact /Length;
- a Type0 (Identity-H) body font whose ToUnicode CMap maps two-byte codes
  onto the Ethiopic block U+1200-U+137F (two bfranges plus a bfchar for
  the space);
- a WinAnsi heading font with no CMap, read as cp1252;
- several pages per document, some of them text-free.

The generator returns the exact page texts the extractor must recover, so
the benchmark checks each document's ``content`` against its ground truth:
the batch path drops empty pages before joining with ``\\n``, the service
path keeps them.

The seed picks the documents, their text and the shares of each link kind:

- ``pdf``: a normal document, ingested;
- ``done``: a document whose JSON output already exists, skipped;
- ``nonpdf``: an HTML page, rejected at the content-type stage;
- ``corrupt``: a ``%PDF-`` header over garbage, rejected at extraction;
- ``textfree``: a valid PDF without text, rejected as empty.
"""

from __future__ import annotations

import random
import re
import zlib
from dataclasses import dataclass

KINDS = ("pdf", "done", "nonpdf", "corrupt", "textfree")
PDF_TYPE = "application/pdf"
HTML_TYPE = "text/html; charset=utf-8"
BASE_URL = "https://cassation.example.et/uploads/decisions"

# Ethiopic syllables used for words (U+1200-U+1357) and sentence marks.
_SYLLABLES = [chr(c) for c in range(0x1200, 0x1358)]
_FULL_STOP = "።"  # ።
_COMMA = "፣"  # ፣
_NUMERALS = [chr(c) for c in range(0x1369, 0x137D)]
_SPACE_CODE = 0x0003
_YEAR_RE = re.compile(r"\b(19[5-9]\d|20\d{2})\b")


@dataclass(frozen=True)
class Link:
    url: str
    kind: str
    content_type: str
    body: bytes
    pages: tuple[str, ...] = ()  # page texts as the extractor returns them

    @property
    def base_name(self) -> str:
        return self.url.rsplit("/", 1)[1].rsplit(".", 1)[0]

    @property
    def batch_content(self) -> str:
        return "\n".join(p for p in self.pages if p)

    @property
    def service_content(self) -> str:
        return "\n".join(self.pages)

    @property
    def year(self) -> str:
        m = _YEAR_RE.search(self.batch_content[:1000])
        return m.group(1) if m else ""


def _code(ch: str) -> int:
    if ch == " ":
        return _SPACE_CODE
    return 0x0100 + ord(ch) - 0x1200


def _hex(text: str) -> bytes:
    return b"<" + "".join(f"{_code(c):04X}" for c in text).encode() + b">"


def _winansi(text: str) -> bytes:
    raw = text.encode("cp1252")
    for a, b in ((b"\\", b"\\\\"), (b"(", b"\\("), (b")", b"\\)")):
        raw = raw.replace(a, b)
    # non-ASCII bytes as octal escapes, as most writers emit them
    return b"(" + b"".join(
        bytes([c]) if c < 0x80 else b"\\%03o" % c for c in raw
    ) + b")"


_TOUNICODE = b"""/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
/CMapName /Ethiopic-UCS2 def
/CMapType 2 def
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
1 beginbfchar
<0003> <0020>
endbfchar
2 beginbfrange
<0100> <01FF> <1200>
<0200> <027F> <1300>
endbfrange
endcmap
CMapName currentdict /CMap defineresource pop
end
end
"""


def _stream(content: bytes) -> bytes:
    data = zlib.compress(content, 6)
    return (
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(data)
        + data
        + b"\nendstream"
    )


def write_pdf(page_streams: list[bytes]) -> bytes:
    """A PDF 1.4 file with one content stream per page and a real xref."""
    n_pages = len(page_streams)
    first_page = 7
    kids = b" ".join(b"%d 0 R" % (first_page + 2 * k) for k in range(n_pages))
    objs: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, n_pages),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica-Bold"
        b" /Encoding /WinAnsiEncoding >>",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /AbyssinicaSIL"
        b" /Encoding /Identity-H /DescendantFonts [5 0 R] /ToUnicode 6 0 R >>",
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /AbyssinicaSIL"
        b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
        b" /Supplement 0 >> /DW 1000 >>",
        _stream(_TOUNICODE),
    ]
    for k, content in enumerate(page_streams):
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 595 842]"
            b" /Resources << /Font << /F1 3 0 R /F2 4 0 R >> >>"
            b" /Contents %d 0 R >>" % (first_page + 2 * k + 1)
        )
        objs.append(_stream(content))
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = []
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    out += b"".join(b"%010d 00000 n \n" % off for off in offsets)
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1,
        xref,
    )
    return bytes(out)


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 5)))


def _line(rng: random.Random) -> str:
    words = [_word(rng) for _ in range(rng.randint(6, 11))]
    if rng.random() < 0.15:
        words.insert(rng.randrange(len(words)), "".join(rng.sample(_NUMERALS, 2)))
    words[rng.randrange(len(words))] += _COMMA
    return " ".join(words) + _FULL_STOP


def _body_ops(rng: random.Random, lines: list[str], top: int) -> list[bytes]:
    """One BT/ET block per line. Half the lines are split into two shows
    on the same baseline (a zero-ty Td, which must not break the line),
    and some use TJ arrays with kerning numbers."""
    ops = []
    for k, line in enumerate(lines):
        y = top - 14 * k
        head = b"BT /F2 11 Tf 1 0 0 1 72 %d Tm " % y
        cut = line.find(" ", len(line) // 2) + 1
        if rng.random() < 0.5 and cut > 0:
            show = b"%s Tj 180 0 Td %s Tj" % (_hex(line[:cut]), _hex(line[cut:]))
        elif cut > 0:
            show = b"[%s -120 %s] TJ" % (_hex(line[:cut]), _hex(line[cut:]))
        else:
            show = b"%s Tj" % _hex(line)
        ops.append(head + show + b" ET")
    return ops


def _graphics(rng: random.Random) -> bytes:
    x, y = rng.randint(40, 200), rng.randint(100, 600)
    return b"q 0.2 0.2 0.6 rg %d %d 300 120 re f 1 w 72 60 m 520 60 l S Q" % (x, y)


def _document(
    rng: random.Random, doc_no: int, with_text: bool, n_pages: int
) -> tuple[bytes, tuple[str, ...]]:
    streams: list[bytes] = []
    texts: list[str] = []
    year = rng.randint(1995, 2024)
    for p in range(n_pages):
        ops: list[bytes] = [_graphics(rng)]
        lines: list[str] = []
        blank = not with_text or (p > 0 and rng.random() < 0.12)
        if not blank:
            top = 780
            if p == 0:
                heading = [
                    "Federal Supreme Court – Cassation Division",
                    f"Decision No. {doc_no:06d} (Vol. {rng.randint(1, 24)}, {year})",
                ]
                ops.append(
                    b"BT /F1 14 Tf 72 800 Td %s Tj 0 -16 Td %s Tj ET"
                    % (_winansi(heading[0]), _winansi(heading[1]))
                )
                lines += heading
                top = 750
            body = [_line(rng) for _ in range(rng.randint(18, 34))]
            ops += _body_ops(rng, body, top)
            lines += body
        streams.append(b"\n".join(ops) + b"\n")
        texts.append("\n".join(lines))
    return write_pdf(streams), tuple(texts)


def _html(rng: random.Random, doc_no: int) -> bytes:
    return (
        "<!doctype html><html><head><title>Decision %d</title></head><body>%s</body></html>"
        % (doc_no, " ".join(_word(rng) for _ in range(200)))
    ).encode()


def make_corpus(seed: int, n_pdf: int) -> list[Link]:
    """``n_pdf`` documents to ingest plus the other kinds, whose shares of
    ``n_pdf`` the seed sets, in seeded order. The documents' page counts
    cycle through 3-8, so the ingest work barely depends on the seed."""
    rng = random.Random(seed)
    shares = {
        "done": rng.uniform(0.10, 0.15),
        "nonpdf": rng.uniform(0.05, 0.08),
        "corrupt": rng.uniform(0.03, 0.06),
        "textfree": rng.uniform(0.03, 0.06),
    }
    kinds = ["pdf"] * n_pdf
    for kind, share in shares.items():
        kinds += [kind] * max(1, round(share * n_pdf))
    rng.shuffle(kinds)
    pages = [3 + k % 6 for k in range(n_pdf)]
    rng.shuffle(pages)
    links = []
    for i, kind in enumerate(kinds):
        doc_no = rng.randrange(10**6)
        url = f"{BASE_URL}/vol{rng.randint(1, 24):02d}/decision_{seed % 10**6:06d}_{i:05d}"
        if kind == "nonpdf":
            links.append(Link(url + ".html", kind, HTML_TYPE, _html(rng, doc_no)))
        elif kind == "corrupt":
            garbage = bytes(rng.getrandbits(8) for _ in range(rng.randint(2000, 6000)))
            links.append(Link(url + ".pdf", kind, PDF_TYPE, b"%PDF-1.4\n" + garbage))
        else:
            n_pages = pages.pop() if kind == "pdf" else rng.randint(3, 8)
            body, texts = _document(rng, doc_no, kind != "textfree", n_pages)
            links.append(Link(url + ".pdf", kind, PDF_TYPE, body, texts))
    return links

"""Seeded inputs for the extraction benchmark.

Everything here is built from the seed alone (``random.Random`` per
document, numpy's PCG64 for the embedding matrix), so one seed gives
byte-identical tables on every run and every host. Nothing is read from
outside the benchmark and nothing is cached between runs: each call
builds its tables from scratch.

Beside every payload the generator records the whitespace-token
sequence the extraction should yield and the page count, both derived
from the text the generator itself wrote, never by running the program:

- HTML: every text node, script and style body in document order (the
  reference's ``get_text`` keeps script/style text), entities decoded,
  comments and markup dropped;
- PDF: the page texts joined with no separator, so the last word of a
  page runs into the first word of the next;
- XML: element text, then attribute values, then tail, per element;
- plain, RTF and docx: their visible words;
- PNG (skipped under NO_OCR) and null payloads: no tokens.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import io
import os
import random
import struct
import zipfile
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = """the of and to in for on with by from at as is was are be this that it
not or an which you all new more page home about contact service data news
report market price health city state school world year time day week month
people work house water energy policy court family local public system group
company program research support project community result study member event
business council science history travel sport music film book story review
guide product design office country order issue account record section part
level value model network content search online free read view post share
open list image video photo team board child women men life case point night
room area power rate form field range source access center class series table
light sound voice north south east west early late final first second third
major minor private general special social medical clinical patient treatment
hospital doctor nurse care trial drug dose risk factor analysis evidence
outcome sample effect control survey score index crawl""".split()

# (shown in the page, what the extraction decodes it to). Chosen so the
# reference's double unescape (parser, then html.unescape again) is
# exercised without tripping its tag-strip regexes.
ENTITIES = (
    ("R&amp;D", "R&D"),
    ("caf&eacute;", "café"),
    ("&copy;", "©"),
    ("&mdash;", "—"),
    ("AT&amp;amp;T", "AT&T"),
    ("&quot;quoted&quot;", '"quoted"'),
    ("left&nbsp;right", "left right"),
    ("it&#8217;s", "it’s"),
    ("&gt;", ">"),
    ("na&iuml;ve", "naïve"),
)

N_SITES = 32
BASE_TS = dt.datetime(2026, 1, 1)
PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
EXPECTED_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("kind", pa.string()),
        ("payload_bytes", pa.int64()),
        ("n_tokens", pa.int64()),
        ("token_digest", pa.string()),
        ("pages", pa.int32()),
    ]
)


def token_digest(tokens: list[str]) -> str:
    """sha256 of the whitespace tokens joined by one space."""
    return hashlib.sha256(" ".join(tokens).encode("utf-8")).hexdigest()


def doc_rng(seed: int, stream: int, doc_id: int) -> random.Random:
    """Independent, reproducible generator per (seed, stream, doc)."""
    return random.Random((seed << 40) | (stream << 32) | doc_id)


@dataclass
class Doc:
    """One generated payload and the extraction it should produce."""

    kind: str
    ext: str
    payload: bytes | None
    tokens: list[str] = field(default_factory=list)
    pages: int | None = 1


class _Writer:
    """Accumulates markup and, separately, the tokens its text yields."""

    def __init__(self) -> None:
        self.parts: list[str] = []
        self.tokens: list[str] = []

    def markup(self, s: str) -> None:
        self.parts.append(s)

    def text(self, shown: str, decoded: str | None = None) -> None:
        self.parts.append(shown)
        self.tokens.extend((shown if decoded is None else decoded).split())

    def extend(self, other: _Writer) -> None:
        self.parts.extend(other.parts)
        self.tokens.extend(other.tokens)

    def value(self) -> str:
        return "".join(self.parts)


def _words(rng: random.Random, n: int) -> list[str]:
    return rng.choices(WORDS, k=n)


def _sentence(rng: random.Random, n: int) -> str:
    words = _words(rng, n)
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


# ---------------------------------------------------------------------------
# HTML
# ---------------------------------------------------------------------------

_CSS_PROPS = ("margin:0", "padding:4px 8px", "color:#333", "display:flex",
              "font-size:14px", "line-height:1.5", "border:1px solid #ddd",
              "background:#fafafa", "text-decoration:none", "position:relative")


def _css(rng: random.Random, rules: int) -> str:
    return "\n".join(
        "." + "-".join(_words(rng, 2)) + " " + rng.choice(WORDS)
        + " {" + ";".join(rng.choices(_CSS_PROPS, k=3)) + "}"
        for _ in range(rules)
    )


def _js(rng: random.Random, funcs: int) -> str:
    out = ["window.dataLayer = window.dataLayer || [];"]
    for i in range(funcs):
        a, b = _words(rng, 2)
        out.append(
            f"function {a}_{i}(e, t) {{ var n = e && t ? e.{b} : null; "
            f"if (n) {{ dataLayer.push({{event: '{a}', value: n}}); }} return n; }}"
        )
    return "\n".join(out)


def _paragraph(w: _Writer, rng: random.Random) -> None:
    w.markup("<p>")
    for _ in range(rng.randint(2, 5)):
        w.text(_sentence(rng, rng.randint(8, 21)))
        roll = rng.random()
        if roll < 0.25:
            shown, decoded = rng.choice(ENTITIES)
            w.text(f" {shown} ", f" {decoded} ")
        elif roll < 0.45:
            w.markup(f' <a href="/{"/".join(_words(rng, 2))}">')
            w.text(" ".join(_words(rng, 3)))
            w.markup("</a> ")
        elif roll < 0.55:
            w.markup(" <b>")
            w.text(rng.choice(WORDS))
            w.markup("</b> ")
        else:
            w.markup(" ")
    w.markup("</p>\n")


def _link_list(rng: random.Random, items: int, cls: str) -> _Writer:
    w = _Writer()
    w.markup(f'<ul class="{cls}">\n')
    for _ in range(items):
        label = " ".join(_words(rng, rng.randint(1, 2)))
        w.markup(f'<li class="{cls}-item"><a href="/{label.replace(" ", "-")}" '
                 f'title="{label}">')
        w.text(label)
        w.markup("</a></li>\n")
    w.markup("</ul>\n")
    return w


@dataclass
class _Site:
    """Boilerplate every page of one site shares: styles, scripts,
    navigation and footer, as on real news and shop sites."""

    head: _Writer
    nav: _Writer
    footer: _Writer


def _site(seed: int, site_id: int) -> _Site:
    rng = doc_rng(seed, 0, site_id)
    head = _Writer()
    head.markup('<meta name="viewport" content="width=device-width, initial-scale=1">\n')
    for _ in range(rng.randint(4, 12)):
        head.markup(f'<link rel="preload" href="/static/{rng.choice(WORDS)}.css" as="style">\n')
    head.markup("<style>\n")
    head.text(_css(rng, rng.randint(20, 90)))
    head.markup("\n</style>\n<script>\n")
    head.text(_js(rng, rng.randint(10, 45)))
    head.markup("\n</script>\n")
    nav = _Writer()
    nav.markup("<!-- header: " + " ".join(_words(rng, 6)) + " -->\n<header><nav>\n")
    nav.extend(_link_list(rng, rng.randint(20, 70), "nav"))
    nav.markup("</nav></header>\n")
    footer = _Writer()
    owner = " ".join(_words(rng, 3))
    footer.markup("<footer>\n<p>")
    footer.text("&copy; 2026 " + owner, "© 2026 " + owner)
    footer.markup("</p>\n")
    footer.extend(_link_list(rng, rng.randint(10, 30), "footer"))
    footer.markup("</footer>\n<!-- analytics -->\n<script>\n")
    footer.text(_js(rng, rng.randint(5, 25)))
    footer.markup("\n</script>\n")
    return _Site(head, nav, footer)


def html_page(rng: random.Random, site: _Site) -> Doc:
    """A boilerplate-heavy Common-Crawl-style page, tens of KB: the
    article is a minority of the bytes beside the site's styles,
    scripts, navigation, footer and the page's own link lists."""
    w = _Writer()
    w.markup('<!DOCTYPE html>\n<html lang="en">\n<head>\n<meta charset="utf-8">\n<title>')
    w.text(_sentence(rng, rng.randint(4, 8)))
    w.markup("</title>\n")
    w.extend(site.head)
    w.markup('<script type="application/ld+json">')
    w.text('{"@context": "https://schema.org", "@type": "NewsArticle", "headline": "'
           + " ".join(_words(rng, 5)) + '"}')
    w.markup("</script>\n</head>\n<body>\n")
    w.extend(site.nav)
    w.markup("<main><article>\n<h1>")
    w.text(_sentence(rng, rng.randint(5, 11)))
    w.markup("</h1>\n")
    for _ in range(rng.randint(4, 23)):
        _paragraph(w, rng)
    w.markup("</article>\n<aside>\n<h2>")
    w.text("Related")
    w.markup("</h2>\n")
    w.extend(_link_list(rng, rng.randint(8, 29), "related"))
    w.markup("</aside></main>\n")
    w.extend(site.footer)
    w.markup("</body>\n</html>\n")
    return Doc("html", "html", w.value().encode("utf-8"), w.tokens)


def small_html_page(rng: random.Random) -> Doc:
    """A short page: a title, a nav list and a few paragraphs."""
    w = _Writer()
    w.markup('<!DOCTYPE html>\n<html><head><meta charset="utf-8"><title>')
    w.text(_sentence(rng, 5))
    w.markup("</title></head>\n<body>\n")
    w.extend(_link_list(rng, rng.randint(5, 14), "nav"))
    for _ in range(rng.randint(2, 7)):
        _paragraph(w, rng)
    w.markup("</body></html>\n")
    return Doc("html", "html", w.value().encode("utf-8"), w.tokens)


# ---------------------------------------------------------------------------
# Tail formats
# ---------------------------------------------------------------------------


def plain_text(rng: random.Random) -> Doc:
    paras = [" ".join(_sentence(rng, rng.randint(8, 19)) for _ in range(4))
             for _ in range(rng.randint(3, 14))]
    text = "\n\n".join(paras) + "\n"
    return Doc("plain", "txt", text.encode("utf-8"), text.split())


def rtf_doc(rng: random.Random) -> Doc:
    body, tokens = [], []
    for _ in range(rng.randint(3, 14)):
        words = _words(rng, rng.randint(10, 39))
        tokens.extend(words + ["café"])
        mid = len(words) // 2
        words[mid] = "{\\b " + words[mid] + "}"
        body.append(" ".join(words) + " caf\\'e9\\par\n")
    rtf = (
        "{\\rtf1\\ansi\\ansicpg1252\\deff0{\\fonttbl{\\f0\\fswiss Arial;}}"
        "{\\colortbl;\\red0\\green0\\blue0;}\n{\\*\\generator bench;}"
        "\\viewkind4\\uc1\\pard\\f0\\fs20 " + "".join(body) + "}"
    )
    return Doc("rtf", "rtf", rtf.encode("ascii"), tokens)


def xml_doc(rng: random.Random) -> Doc:
    parts, tokens = ['<?xml version="1.0" encoding="UTF-8"?><catalog>'], []
    for i in range(rng.randint(5, 39)):
        text = " ".join(_words(rng, rng.randint(3, 11)))
        parts.append(f'<item id="item{i}">{text}</item>')
        tokens.extend(text.split() + [f"item{i}"])
    parts.append("</catalog>")
    return Doc("xml", "xml", "".join(parts).encode("utf-8"), tokens)


def docx_doc(rng: random.Random) -> Doc:
    paras, tokens = [], []
    for _ in range(rng.randint(3, 19)):
        runs = [" ".join(_words(rng, rng.randint(3, 9))) for _ in range(3)]
        paras.append("<w:p>" + "".join(f"<w:r><w:t>{r}</w:t></w:r>" for r in runs) + "</w:p>")
        tokens.extend(" ".join(runs).split())
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        f"<w:body>{''.join(paras)}</w:body></w:document>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Override PartName="/word/document.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/></Types>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, content in (("[Content_Types].xml", content_types),
                              ("word/document.xml", document)):
            zf.writestr(zipfile.ZipInfo(name, date_time=(2026, 1, 1, 0, 0, 0)), content)
    return Doc("docx", "docx", buf.getvalue(), tokens)


def png_image(rng: random.Random) -> Doc:
    """A small grayscale PNG; NO_OCR skips images with empty text."""
    size = rng.randint(16, 63)
    raw = b"".join(b"\x00" + rng.randbytes(size) for _ in range(size))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", size, size, 8, 0, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    return Doc("png", "png", png, [], 1)


# ---------------------------------------------------------------------------
# PDF
# ---------------------------------------------------------------------------


def pdf_doc(rng: random.Random, n_pages: int, lines: int = 40, figure_bytes: int = 0) -> Doc:
    """An uncompressed N-page PDF, one ``Tj`` per text line.

    ``figure_bytes`` gives each page an uncompressed image XObject of
    that size (a figure or logo): bytes every parse of the file walks
    past but that yield no text.
    """
    per_page = 3 if figure_bytes else 2
    # a raw grayscale ramp, different per document: it compresses, so
    # the table on disk and Spark's shuffle files stay small
    start = rng.randrange(256)
    figure = bytes((start + i // 16) % 256 for i in range(figure_bytes))
    font_obj = 3 + per_page * n_pages
    objs: list[bytes] = [b"<< /Type /Catalog /Pages 2 0 R >>", b""]
    kids, page_texts = [], []
    for _ in range(n_pages):
        page_lines = [" ".join(_words(rng, rng.randint(8, 15))) for _ in range(lines)]
        page_texts.append("\n".join(page_lines))
        page_num = len(objs) + 1
        kids.append(f"{page_num} 0 R")
        content = "BT /F1 10 Tf 14 TL 56 760 Td " + " ".join(
            f"({line}) Tj T*" for line in page_lines) + " ET"
        xobj = ""
        if figure_bytes:
            content += f" q 200 0 0 100 56 60 cm /Im{page_num} Do Q"
            xobj = f"/XObject << /Im{page_num} {page_num + 2} 0 R >> "
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents {page_num + 1} 0 R "
            f"/Resources << /Font << /F1 {font_obj} 0 R >> {xobj}>> >>".encode()
        )
        data = content.encode("ascii")
        objs.append(b"<< /Length %d >>\nstream\n" % len(data) + data + b"\nendstream")
        if figure_bytes:
            objs.append(
                b"<< /Type /XObject /Subtype /Image /Width %d /Height 1 /ColorSpace "
                b"/DeviceGray /BitsPerComponent 8 /Length %d >>\nstream\n"
                % (figure_bytes, figure_bytes) + figure + b"\nendstream"
            )
    objs[1] = f"<< /Type /Pages /Kids [{' '.join(kids)}] /Count {n_pages} >>".encode()
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    out += b"".join(b"%010d 00000 n \n" % off for off in offsets)
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref_at)
    return Doc("pdf", "pdf", bytes(out), "".join(page_texts).split(), n_pages)


# ---------------------------------------------------------------------------
# Pages tables
# ---------------------------------------------------------------------------

# crawl_html's tail, share of rows per kind; the other 90% is HTML
CRAWL_TAIL = (
    (0.025, plain_text),
    (0.015, rtf_doc),
    (0.015, xml_doc),
    (0.015, docx_doc),
    (0.015, lambda rng: pdf_doc(rng, rng.randint(1, 5))),
    (0.010, png_image),
    (0.005, lambda rng: Doc("null", "bin", None, [], None)),
)


def crawl_docs(seed: int, n_docs: int) -> list[Doc]:
    """~90% boilerplate-heavy HTML of tens of KB, then the tail formats."""
    sites = [_site(seed, i) for i in range(N_SITES)]
    docs = []
    for doc_id in range(n_docs):
        rng = doc_rng(seed, 1, doc_id)
        roll, acc = rng.random(), 0.0
        for share, make in CRAWL_TAIL:
            acc += share
            if roll < acc:
                docs.append(make(rng))
                break
        else:
            docs.append(html_page(rng, sites[doc_id % N_SITES]))
    return docs


def skew_docs(seed: int, n_pdfs: int, n_html: int) -> list[Doc]:
    """A few big multi-hundred-page PDFs among many small HTML pages.

    Every PDF carries a figure per page, which puts it over 2 MiB, the
    size past which the router sends a PDF down the salted path.
    """
    docs = [small_html_page(doc_rng(seed, 3, i)) for i in range(n_html)]
    # Only the text depends on the seed. The page counts (evenly spread
    # over 260-420) and the rows the PDFs sit at (evenly spaced, so in
    # every file) are fixed, and with them the urls, which decide how
    # Spark hashes the salted buckets onto tasks.
    step = (n_html + n_pdfs) // n_pdfs
    for i in range(n_pdfs):
        pages = 260 + (160 * i) // max(1, n_pdfs - 1)
        docs.insert(i * step + step // 2, pdf_doc(doc_rng(seed, 2, i), pages, 40, 6000))
    return docs


def write_pages(docs: list[Doc], out_dir: str, name: str, n_files: int) -> dict:
    """Write the pages table ``<out_dir>/<name>`` as ``n_files`` parquet
    files and ``<out_dir>/<name>_expected.parquet``; return its sizes."""
    urls = [f"https://site{i % N_SITES}.example/{name}/{i:07d}.{d.ext}"
            for i, d in enumerate(docs)]
    pages_dir = os.path.join(out_dir, name)
    os.makedirs(pages_dir)
    bounds = np.linspace(0, len(docs), n_files + 1).astype(int)
    for f, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        table = pa.table(
            {
                "url": urls[lo:hi],
                "warc_ts": [BASE_TS + dt.timedelta(seconds=int(i)) for i in range(lo, hi)],
                "html": [d.payload for d in docs[lo:hi]],
                "text": [None] * (hi - lo),
                "lang": ["en"] * (hi - lo),
            },
            schema=PAGES_SCHEMA,
        )
        pq.write_table(table, os.path.join(pages_dir, f"part-{f:05d}.parquet"),
                       compression="zstd", row_group_size=256)
    sizes = [0 if d.payload is None else len(d.payload) for d in docs]
    expected = pa.table(
        {
            "url": urls,
            "kind": [d.kind for d in docs],
            "payload_bytes": sizes,
            "n_tokens": [len(d.tokens) for d in docs],
            "token_digest": [token_digest(d.tokens) for d in docs],
            "pages": [d.pages for d in docs],
        },
        schema=EXPECTED_SCHEMA,
    )
    pq.write_table(expected, os.path.join(out_dir, f"{name}_expected.parquet"))
    return {
        "rows": len(docs),
        "payload_bytes": sum(sizes),
        "pages": sum(d.pages or 0 for d in docs),
        "disk_bytes": sum(e.stat().st_size for e in os.scandir(pages_dir)),
    }


# ---------------------------------------------------------------------------
# Corpus tables for the registered queries
# ---------------------------------------------------------------------------

CORPUS_WORDS = """spark window merge table column vector stream value data small join
filter big group hash customer sort order slow line part fast row the agg key
query a scan batch""".split()
CORPUS_LANGS = ("en",) * 8 + ("zh", "es", "fr", "de") * 3


def write_corpus(seed: int, out_dir: str, n_docs: int = 5000, n_vecs: int = 2000) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` shaped like the
    registry's sf0.1 tables: 10-99 words over a 30-word vocabulary, one
    doc in 20 an exact copy of another with a trailing ``dup`` token,
    20 sources, five languages; unit-norm 64-d float embeddings with ten
    labels."""
    rng = random.Random(seed)
    texts: list[str] = []
    for doc_id in range(n_docs):
        if doc_id > 0 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(doc_id)].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(rng.choices(CORPUS_WORDS, k=rng.randint(10, 99))))
    documents = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(CORPUS_LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))
    vecs = np.random.default_rng(seed).standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(np.random.default_rng(seed + 1).integers(0, 10, n_vecs),
                              pa.int32()),
        }
    )
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))

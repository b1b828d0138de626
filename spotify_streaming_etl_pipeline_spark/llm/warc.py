"""WARC (ISO 28500) web-archive ingestion — the Common Crawl format,
the canonical first mile of every web-scale training corpus. A real
reader written from the public spec (same discipline as the
PNG/JPEG/FLAC codecs in this package): WARC/1.0 response records with
named headers, Content-Length-framed HTTP payloads, and Common
Crawl's member-per-record gzip layout (each record is an independent
gzip member, concatenated — seekable extraction without global
decompression). A matching writer synthesizes genuine bytes for the
oracle corpora, making faking structurally hard.

Spark shape: the archive synthesizers run through
``multimodal._synth_stage`` and the record tables through
``multimodal._blob_rows`` — the one Arrow-batched per-blob path and
poison policy every codec uses, never a row-at-a-time Python UDF;
everything after the record table (URL canonicalization, HTML ->
text, language ID, dedup) is the existing native-expression chain, so
one scan feeds the whole crawl-to-corpus pipeline.
"""

from __future__ import annotations

import gzip

from pyspark.sql import DataFrame

from .multimodal import _blob_rows, _synth_stage

CRLF = b"\r\n"

#: Output schema of ``warc_record_table`` (one row per archive record).
WARC_RECORD_SCHEMA = (
    "doc_id long, rec int, url string, status int, "
    "content_type string, n_body_bytes long, body string"
)


def build_warc(records: list[tuple[str, int, str, bytes]], member_gzip: bool) -> bytes:
    """Serialize (url, status, content_type, body) tuples as WARC/1.0
    response records; ``member_gzip`` emits Common Crawl's layout
    (each record an independent gzip member, mtime pinned to 0 so the
    bytes are deterministic)."""
    out = bytearray()
    for url, status, ctype, body in records:
        reason = {200: b"OK", 404: b"Not Found"}.get(status, b"Status")
        http = (
            b"HTTP/1.1 %d %s\r\nContent-Type: %s\r\n\r\n"
            % (status, reason, ctype.encode())
            + body
        )
        rec = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + b"WARC-Target-URI: " + url.encode() + CRLF
            + b"Content-Type: application/http;msgtype=response\r\n"
            + b"Content-Length: " + str(len(http)).encode() + CRLF
            + CRLF
            + http
            + CRLF + CRLF
        )
        out += gzip.compress(rec, 9, mtime=0) if member_gzip else rec
    return bytes(out)


def _ungzip_members(blob: bytes) -> bytes:
    """Concatenated-gzip-member decode (the Common Crawl layout):
    inflate members one at a time via unused_data until exhausted."""
    import zlib

    out = bytearray()
    rest = blob
    while rest[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(31)
        try:
            # per-member inflate budget: Common Crawl members are
            # single records (KB-MB scale); a member inflating past
            # 256 MB is a gzip bomb, treated like a corrupt member —
            # keep prior members, drop the rest (dead-letter, not OOM)
            chunk = d.decompress(rest, (1 << 28) + 1)
            if len(chunk) > (1 << 28):
                break
        except zlib.error:
            # Corrupt member (bad CRC / garbled deflate stream): keep
            # the members already inflated, drop the rest — poison
            # bytes must never kill the task.
            break
        if not d.eof:
            # Truncated final member: its payload may have inflated in
            # full, but the CRC/length trailer never arrived — drop it
            # rather than admit an unverified record.
            break
        out += chunk
        rest = d.unused_data
    return bytes(out)


def parse_warc(blob: bytes) -> list[dict]:
    """Parse WARC bytes (plain or member-gzip) into one dict per
    response record: url, status, content_type, n_body_bytes. Stops
    cleanly at the first malformed/truncated record boundary (records
    already parsed are returned — the dead-letter discipline of the
    other codecs: poison never kills the task)."""
    if blob[:2] == b"\x1f\x8b":
        blob = _ungzip_members(blob)
    recs: list[dict] = []
    pos = 0
    while blob.startswith(b"WARC/", pos):
        head_end = blob.find(CRLF + CRLF, pos)
        if head_end < 0:
            break
        headers: dict[str, str] = {}
        for line in blob[pos:head_end].split(CRLF)[1:]:
            k, _, v = line.partition(b":")
            # Real Common Crawl carries non-UTF-8 WARC-Target-URIs;
            # replace rather than raise (body decode already does).
            headers[k.strip().lower().decode(errors="replace")] = v.strip().decode(
                errors="replace"
            )
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            break
        body_start = head_end + 4
        http = blob[body_start : body_start + clen]
        if len(http) < clen:
            break
        status, ctype, body = 0, "", b""
        if http[:5] == b"HTTP/":
            sp = http.split(CRLF + CRLF, 1)
            status_line = sp[0].split(CRLF)[0].split(b" ")
            if len(status_line) >= 2 and status_line[1].isdigit():
                status = int(status_line[1])
            for line in sp[0].split(CRLF)[1:]:
                k, _, v = line.partition(b":")
                if k.strip().lower() == b"content-type":
                    ctype = v.strip().decode(errors="replace")
            body = sp[1] if len(sp) > 1 else b""
        recs.append(
            {
                "url": headers.get("warc-target-uri", ""),
                "status": status,
                "content_type": ctype,
                "n_body_bytes": len(body),
                "body": body.decode("utf-8", errors="replace"),
                # raw bytes for binary payload routes (PDF): the
                # utf-8-replace decode above is lossy for non-text
                "raw_body": body,
            }
        )
        pos = body_start + clen + 4  # past the record's closing CRLFCRLF
    return recs


def synth_warc_blob(doc_id: int, text: str) -> bytes:
    """Deterministic genuine WARC bytes for the oracle corpus: 1 +
    doc_id % 3 response records; record i targets
    ``http://h{doc_id%7}.example.com/p/{doc_id}/{i}?utm_source=x``,
    is 200 with an HTML body wrapping the document text unless
    (doc_id + i) % 5 == 0 (then a 404 'not found'); even doc_ids use
    the member-gzip layout, odd ones are plain — every field is
    recomputable arithmetically in SQL."""
    records = []
    for i in range(1 + doc_id % 3):
        url = f"http://h{doc_id % 7}.example.com/p/{doc_id}/{i}?utm_source=x"
        if (doc_id + i) % 5 != 0:
            body = ("<html><body><p>" + text + "</p></body></html>").encode()
            records.append((url, 200, "text/html", body))
        else:
            records.append((url, 404, "text/plain", b"not found"))
    return build_warc(records, member_gzip=doc_id % 2 == 0)


def synth_linked_warc_blob(doc_id: int, n_pages: int) -> bytes:
    """Genuine WARC bytes for the WEB-GRAPH oracle corpus: page
    ``doc_id`` is one 200/text-html record at
    ``http://site.example.com/p/{doc_id}`` whose body hyperlinks page
    (doc_id + 1) % n_pages (double-quoted href carrying a tracking
    param the canonicalizer must strip) and — when doc_id % 3 == 0 —
    page (doc_id + 7) % n_pages (unquoted href).  The graph is CLOSED
    over the n_pages ids and every page has out-degree >= 1, the
    ``pagerank_integer`` contract; every edge is an exact arithmetic
    function of doc_id.  Member-gzip on even ids, as the record
    corpus."""
    url = f"http://site.example.com/p/{doc_id}"
    anchors = (
        f'<a href="http://site.example.com/p/{(doc_id + 1) % n_pages}'
        f'?utm_source=x">n</a>'
    )
    if doc_id % 3 == 0:
        anchors += (
            f"<a href=http://site.example.com/p/{(doc_id + 7) % n_pages}>s</a>"
        )
    body = f"<html><body>{anchors}</body></html>".encode()
    return build_warc(
        [(url, 200, "text/html", body)], member_gzip=doc_id % 2 == 0
    )


def attach_linked_warc_blob(df: DataFrame, n_pages: int) -> DataFrame:
    """(doc_id, blob): the hyperlinked-archive column for the
    bytes-to-ranks gate — Arrow-batched like every blob stage."""
    return _synth_stage(df, lambda d: synth_linked_warc_blob(d, n_pages))


def attach_warc_blob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, blob): the synthesized-archive column for the gate —
    Arrow-batched like every blob stage (zero row-wise Python UDFs is
    a repo invariant, pinned by test_no_row_python_udfs_anywhere)."""
    return _synth_stage(
        df, lambda d, t: synth_warc_blob(d, str(t)), arg_col=text_col
    )


def warc_record_table(blobs: DataFrame) -> DataFrame:
    """One row per archive record from a (doc_id, blob) frame — the
    real parse, Arrow batch by Arrow batch."""
    return _blob_rows(
        blobs,
        lambda b: [
            (i, r["url"], r["status"], r["content_type"],
             r["n_body_bytes"], r["body"])
            for i, r in enumerate(parse_warc(b))
        ],
        WARC_RECORD_SCHEMA,
    )


def attach_mixed_warc_blob(df: DataFrame) -> DataFrame:
    """(doc_id, blob): the mixed-modality archive column for the PDF
    -route gate — one ``synth_mixed_warc_blob`` per doc, Arrow
    -batched."""
    return _synth_stage(df, synth_mixed_warc_blob)


PDF_RECORD_SCHEMA = "doc_id long, rec int, url string, blob binary"


def pdf_record_table(blobs: DataFrame) -> DataFrame:
    """(doc_id, rec, url, blob): the 200/application-pdf responses of
    a (doc_id, blob) archive frame with bodies as RAW BYTES — the
    string body column of ``warc_record_table`` is utf-8-replace
    decoded (right for HTML, lossy for binary payloads), so the PDF
    route re-parses the archive keeping bytes intact.  Same
    Arrow-batched per-blob shape as every codec stage; feed the
    output to ``multimodal.pdf_text_features``."""
    return _blob_rows(
        blobs,
        lambda b: [
            (i, r["url"], r["raw_body"])
            for i, r in enumerate(parse_warc(b))
            if r["status"] == 200 and r["content_type"] == "application/pdf"
        ],
        PDF_RECORD_SCHEMA,
    )


def synth_mixed_warc_blob(doc_id: int) -> bytes:
    """Genuine WARC bytes whose records MIX modalities: rec 0 a
    200/text-html page, rec 1 a 200/application-pdf document (REAL
    bytes from llm/pdf.py:encode_pdf — 1 + doc_id % 2 pages, two
    lines each, line j of page q reading
    ``[%05d:%d:%d] pdf%02d.`` % (doc_id, q, j, (doc_id*3+q+j) % 100),
    compressed streams on even ids, Type0/Identity-H CID fonts with a
    /ToUnicode CMap when doc_id % 3 == 2), and — when doc_id % 3 == 0
    — a 404 that both routes must drop.  Member-gzip on even ids.
    Every extracted field is an exact arithmetic function of
    doc_id."""
    from .pdf import encode_pdf

    html = (
        "<html><body><p>mixed page %d</p></body></html>" % doc_id
    ).encode()
    pages = [
        [
            "[%05d:%d:%d] pdf%02d." % (doc_id, q, j, (doc_id * 3 + q + j) % 100)
            for j in range(2)
        ]
        for q in range(1 + doc_id % 2)
    ]
    records = [
        (
            f"http://h{doc_id % 7}.example.com/p/{doc_id}/0",
            200,
            "text/html",
            html,
        ),
        (
            f"http://h{doc_id % 7}.example.com/d/{doc_id}.pdf",
            200,
            "application/pdf",
            encode_pdf(
                pages, compress=doc_id % 2 == 0, type0=doc_id % 3 == 2
            ),
        ),
    ]
    if doc_id % 3 == 0:
        records.append(
            (
                f"http://h{doc_id % 7}.example.com/gone/{doc_id}",
                404,
                "text/plain",
                b"not found",
            )
        )
    return build_warc(records, member_gzip=doc_id % 2 == 0)


def extract_links(html):
    """Outlink extraction as a pure codegen expression: every href
    value in the markup — double-quoted, single-quoted, or unquoted,
    any attribute case, whitespace around ``=`` (all common in real
    crawled HTML) — the edge source for web-graph work; the (page,
    outlink) table this produces feeds the same iterative machinery as
    ``plans/quality.py``'s co-purchase pagerank, just keyed on
    canonical URLs instead of parts."""
    from pyspark.sql import functions as F

    return F.concat(
        F.regexp_extract_all(html, F.lit('(?i)href\\s*=\\s*"([^"]*)"'), 1),
        F.regexp_extract_all(html, F.lit("(?i)href\\s*=\\s*'([^']*)'"), 1),
        F.regexp_extract_all(
            html, F.lit("(?i)href\\s*=\\s*([^\"'\\s>][^\\s>]*)"), 1
        ),
    )


def outlink_edges(pages: DataFrame, url_col: str = "url", body_col: str = "body") -> DataFrame:
    """(src, dst): the web graph's edge table from parsed crawl pages
    — canonical source URL, exploded canonical link targets. One
    narrow projection + one explode; dedup/pagerank chain directly."""
    from pyspark.sql import functions as F

    from .text import canonical_url

    return pages.select(
        canonical_url(F.col(url_col)).alias("src"),
        F.explode(extract_links(body_col)).alias("href"),
    ).select("src", canonical_url(F.col("href")).alias("dst"))


def crawl_corpus(blobs: DataFrame, block_newlines: bool = False) -> DataFrame:
    """The full crawl first mile as ONE plan: archive bytes -> record
    table (Arrow-batched parse) -> keep 200 text/html responses ->
    canonical URL + HTML-to-text + language ID, all existing native
    expressions — one scan of the blob column feeds corpus-ready
    (doc_id, rec, url, text, lang) rows with no shuffle anywhere
    (narrow end to end; dedup/quality stages chain directly on the
    output).  ``block_newlines`` threads through to ``html_to_text``
    (keep block boundaries as newlines, for the line-level
    operators); the default single-line form is the certified
    ``crawl_corpus`` oracle behavior."""
    from pyspark.sql import functions as F

    from .text import canonical_url, html_to_text, lang_id

    recs = warc_record_table(blobs)
    ok = recs.filter(
        (F.col("status") == 200) & (F.col("content_type") == "text/html")
    )
    text = html_to_text(F.col("body"), block_newlines=block_newlines)
    # lang_id (and every other token operator) speaks the single-space
    # contract — fold newlines back to spaces for the language column
    lang_src = F.translate(text, "\n", " ") if block_newlines else text
    return ok.select(
        "doc_id",
        "rec",
        canonical_url(F.col("url")).alias("url"),
        text.alias("text"),
        lang_id(lang_src).alias("lang"),
    )

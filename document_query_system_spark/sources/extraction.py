"""Document ingestion + extraction pipeline (SURVEY.md §2.1 S1-S4,
§2.10 U2): binary payload → sniffed type → per-format text extraction
as a UDTF-shaped mapInPandas.

The reference downloads files, sniffs magic bytes, and runs a
per-format extractor cascade (ref: ingestion_service.py:108-155
MIME sniff; document_processing_service.py:102-537 pdf/docx/eml
extractors). This module re-expresses that on Spark:

- a **landing table** of binary payloads (here synthesized
  deterministically from documents.text — a PDF-like, a DOCX-like
  (ZIP magic), and a real RFC-822 EML per doc — because no real
  document corpus ships with the driver's testdata; a production
  deployment replaces ``landing_table`` with
  ``spark.read.format("binaryFile").load(dir)``, same schema);
- **MIME sniff** as a magic-byte predicate chain on BinaryType (F1);
- **extraction** as mapInPandas over payload bytes: EML parsing uses
  the real stdlib ``email`` parser (the same library path a real
  extractor uses — ref document_processing_service.py:459-537);
  PDF parsing routes through ``extract_pdf_text`` — PyMuPDF when
  installed (auto-detected at import), else the stdlib FlateDecode/Tj
  mini-parser; OCR routes through ``ocr_raster`` (content-based:
  pytesseract for real images, glyph decode for synthetic rasters).
  The surrounding plumbing (binary round-trip, per-row dispatch,
  chunk-row fan-out) is identical on either path.

Payload construction is deterministic string concatenation, so sniff
AND extraction outputs are DuckDB-oracle-verified by value.

Real-codec seam status (re-probed round 11, unchanged): pypdf /
PyPDF2 / fitz / pdfplumber / python-docx / pytesseract / PIL (and
sentence-transformers / nltk / torch for the embed seams) are ALL
absent in this environment and installs are prohibited, so the
opt-in real-codec tests (tests/test_codec_dispatch.py) remain
skipped; the content-dispatch seams below activate them with zero
code change the moment the libraries exist on the executors.
"""

from __future__ import annotations

import importlib.util
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .tables import load, spread

# Deterministic containers per format. kind chosen by doc_id % 3.
_EML_TMPL = "From: sender-{did}@example.com\r\nTo: dest@example.com\r\nSubject: doc {did}\r\n\r\n{body}"


def landing_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, file_name, payload binary) — the binaryFile-scan
    analog (path→file_name, content→payload; ref DocumentInfo,
    ingestion_service.py:20-31)."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    kind = F.col("doc_id") % 3
    body = F.col("text")
    did = F.col("doc_id").cast("string")
    pdf = F.concat(F.lit("%PDF-1.4\n"), body, F.lit("\n%%EOF"))
    docx = F.concat(F.lit("PK\x03\x04word/"), body)
    eml = F.concat(
        F.lit("From: sender-"), did, F.lit("@example.com\r\nTo: dest@example.com\r\nSubject: doc "),
        did, F.lit("\r\n\r\n"), body,
    )
    name = F.concat(
        F.lit("doc_"), did,
        F.when(kind == 0, F.lit(".pdf")).when(kind == 1, F.lit(".docx")).otherwise(F.lit(".eml")),
    )
    payload = F.when(kind == 0, pdf).when(kind == 1, docx).otherwise(eml)
    return docs.select(
        "doc_id",
        name.alias("file_name"),
        F.encode(payload, "UTF-8").cast("binary").alias("payload"),
    )


_LANDING_SQL = """
landing AS (
  SELECT doc_id,
         'doc_' || doc_id ||
           CASE doc_id % 3 WHEN 0 THEN '.pdf' WHEN 1 THEN '.docx' ELSE '.eml' END
           AS file_name,
         CASE doc_id % 3
           WHEN 0 THEN '%PDF-1.4' || chr(10) || text || chr(10) || '%%EOF'
           WHEN 1 THEN 'PK' || chr(3) || chr(4) || 'word/' || text
           ELSE 'From: sender-' || doc_id || '@example.com' || chr(13) || chr(10)
                || 'To: dest@example.com' || chr(13) || chr(10)
                || 'Subject: doc ' || doc_id || chr(13) || chr(10)
                || chr(13) || chr(10) || text
         END AS payload
  FROM documents
)
"""


@register(
    "q_extract_sniff",
    oracle=f"""
WITH {_LANDING_SQL}
SELECT doc_id, file_name,
       CASE WHEN payload LIKE '%PDF%' AND substr(payload, 1, 4) = '%PDF'
              THEN 'application/pdf'
            WHEN substr(payload, 1, 2) = 'PK' THEN
              'application/vnd.openxmlformats-officedocument.wordprocessingml.document'
            WHEN substr(payload, 1, 5) = 'From:' THEN 'message/rfc822'
            ELSE 'application/octet-stream'
       END AS mime,
       substr(payload, 1, 4) = '%PDF' AND payload LIKE '%' || '%%EOF' AS pdf_valid
FROM landing
""",
)
def q_extract_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F4 on real BinaryType: magic-byte MIME dispatch + content
    validation (%PDF header, %%EOF trailer — ref:
    ingestion_service.py:108-155, 193-218), decoded only for the
    sniffed prefix."""
    lt = landing_table(spark, sf_dir)
    head = F.decode(F.substring("payload", 1, 16), "UTF-8")
    text = F.decode(F.col("payload"), "UTF-8")
    mime = (
        F.when(head.startswith("%PDF"), F.lit("application/pdf"))
        .when(head.startswith("PK"), F.lit(
            "application/vnd.openxmlformats-officedocument.wordprocessingml.document"))
        .when(head.startswith("From:"), F.lit("message/rfc822"))
        .otherwise(F.lit("application/octet-stream"))
    )
    return lt.select(
        "doc_id",
        "file_name",
        mime.alias("mime"),
        (head.startswith("%PDF") & text.endswith("%%EOF")).alias("pdf_valid"),
    )


def _ensure_landing_dir(spark: SparkSession, sf_dir: str) -> str:
    """A small landing directory of real files (one per doc for the
    first 50 docs), written once per (session, sf_dir), so the
    binaryFile source has something to scan: the on-disk twin of the
    reference's document_cache (ref: ingestion_service.py:322-329)."""
    from .tmputil import dir_tag, ensure_materialized, tmp_path

    def build() -> str:
        path = tmp_path("landing", dir_tag(sf_dir))
        os.makedirs(path, exist_ok=True)
        rows = (
            landing_table(spark, sf_dir)
            .filter(F.col("doc_id") < 50)
            .select("file_name", "payload")
            .collect()
        )
        for r in rows:
            with open(os.path.join(path, r.file_name), "wb") as f:
                f.write(bytes(r.payload))
        return path

    return ensure_materialized(spark, "landing", sf_dir, build)


@register(
    "q_binaryfile_scan",
    oracle="""
SELECT 'doc_' || doc_id ||
         CASE doc_id % 3 WHEN 0 THEN '.pdf' WHEN 1 THEN '.docx' ELSE '.eml' END
         AS file_name,
       CAST(length(CASE doc_id % 3
         WHEN 0 THEN '%PDF-1.4' || chr(10) || text || chr(10) || '%%EOF'
         WHEN 1 THEN 'PK' || chr(3) || chr(4) || 'word/' || text
         ELSE 'From: sender-' || doc_id || '@example.com' || chr(13) || chr(10)
              || 'To: dest@example.com' || chr(13) || chr(10)
              || 'Subject: doc ' || doc_id || chr(13) || chr(10)
              || chr(13) || chr(10) || text
       END) AS BIGINT) AS n_bytes
FROM documents
WHERE doc_id < 50
""",
)
def q_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2: the real ``binaryFile`` source — files on disk scanned
    as (path, modificationTime, length, content) rows. This is the
    production entry of the extraction pipeline (landing_table is its
    synthetic stand-in); file name and byte length are value-checked.
    The payloads here are pure ASCII, so length == char count in the
    oracle."""
    path = _ensure_landing_dir(spark, sf_dir)
    bf = spark.read.format("binaryFile").load(path)
    return bf.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.length("content").cast("long").alias("n_bytes"),
    )


#: Library availability, probed ONCE at import (driver and executor
#: alike — the flags are module globals, re-evaluated on executor
#: import, so a heterogeneous cluster routes per-process correctly).
_HAS_PYMUPDF = importlib.util.find_spec("fitz") is not None
_HAS_TESSERACT = (
    importlib.util.find_spec("pytesseract") is not None
    and importlib.util.find_spec("PIL") is not None
)


def _extract_pdf_real(payload: bytes) -> str:  # pragma: no cover - needs lib
    """PyMuPDF extraction (ref: document_processing_service.py:102-173
    — fitz.open per document, page.get_text()). Reached only via
    extract_pdf_text's dispatch when the library is installed."""
    import fitz  # PyMuPDF

    with fitz.open(stream=payload, filetype="pdf") as doc:
        return "".join(page.get_text() for page in doc)


def extract_pdf_text(payload: bytes) -> str:
    """PDF → text with automatic codec routing: PyMuPDF when installed
    (full spec surface: encrypted files, fonts, layout), else the
    stdlib FlateDecode/Tj mini-parser — a real parser for the
    uncompressed-and-Flate subset, and the deterministic test surface
    in environments without codec libraries (this sandbox)."""
    if _HAS_PYMUPDF:
        return _extract_pdf_real(payload)
    return _parse_pdf_minimal(payload)


# ---------------------------------------------------------- real containers
#
# The synthetic landing containers above are oracle-exact stand-ins.
# The functions below build and parse REAL file formats with stdlib
# only — an actual PDF 1.4 (objects, xref, FlateDecode content
# stream, Tj text operators; public file-format spec) and an actual
# DOCX (ZIP archive + WordprocessingML document part) — so the
# extract stage exercises genuine container decoding end-to-end:
# compress → assemble → bytes → parse → text, value-verified against
# the source column. PyMuPDF/python-docx remain the swap-in for the
# full spec surface (encrypted files, fonts, embedded objects).

_W_NS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"


def _build_pdf_minimal(text: str) -> bytes:
    """A real single-page PDF 1.4: catalog/pages/page objects, a
    FlateDecode-compressed content stream drawing the text in ≤80-char
    Tj spans, and a correct xref table. Spans concatenate exactly, so
    extraction is an exact round-trip."""
    import zlib

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    spans = [text[i : i + 80] for i in range(0, len(text), 80)] or [""]
    ops = ["BT /F1 12 Tf 72 720 Td"]
    ops += [f"({esc(s)}) Tj" for s in spans]
    ops.append("ET")
    content = zlib.compress(" ".join(ops).encode("utf-8"))

    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
        % (len(content), content),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


def _parse_pdf_minimal(payload: bytes) -> str:
    """Extract text from a real PDF: locate stream objects, inflate
    FlateDecode streams (stdlib zlib), and concatenate the arguments
    of Tj text-show operators (with escape handling). Covers the
    uncompressed-and-Flate subset of the spec — the swap-in point for
    a full codec is _extract_pdf_real."""
    import re
    import zlib

    texts: list[str] = []
    for m in re.finditer(rb"<<(.*?)>>\s*stream\r?\n", payload, re.DOTALL):
        head = m.group(1)
        # Per spec the stream dict carries /Length — slice EXACTLY that
        # many bytes. The old form regex-scanned to "\r?\nendstream",
        # and compressed data whose last byte happens to be 0x0d lost
        # it to the optional \r (a ~1/256-per-doc corruption, hit by
        # doc 38 at sf0.001: truncated Flate stream → empty text).
        # (?!\s+\d+\s+R): a spec-legal INDIRECT length (/Length 12 0 R)
        # must not capture the object number as the byte count — fall
        # through to the endstream scan instead (resolving indirect
        # objects is the real codec's job, _extract_pdf_real).
        lens = re.findall(rb"/Length\s+(\d+)\b(?!\s+\d+\s+R)", head)
        if lens:
            data = payload[m.end() : m.end() + int(lens[-1])]
        else:
            tail = re.match(rb"(.*?)\r?\nendstream", payload[m.end() :], re.DOTALL)
            if not tail:
                continue
            data = tail.group(1)
        if b"FlateDecode" in head:
            try:
                data = zlib.decompress(data)
            except zlib.error:
                continue
        for t in re.finditer(rb"\((?:[^()\\]|\\.)*\)\s*Tj", data):
            lit = t.group(0)
            lit = lit[1 : lit.rindex(b")")]
            s = re.sub(rb"\\([\\()])", rb"\1", lit)
            texts.append(s.decode("utf-8", errors="replace"))
    return "".join(texts)


def _build_docx_minimal(text: str) -> bytes:
    """A real DOCX: ZIP archive with [Content_Types].xml, _rels, and a
    WordprocessingML word/document.xml whose runs carry the text in
    exact-concatenation spans."""
    import io
    import zipfile
    from xml.sax.saxutils import escape

    spans = [text[i : i + 80] for i in range(0, len(text), 80)] or [""]
    runs = "".join(
        f'<w:r><w:t xml:space="preserve">{escape(s)}</w:t></w:r>' for s in spans
    )
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_W_NS}"><w:body><w:p>{runs}</w:p></w:body>'
        "</w:document>"
    )
    ctypes = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/word/document.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
        "</Types>"
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>'
        "</Relationships>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", ctypes)
        z.writestr("_rels/.rels", rels)
        z.writestr("word/document.xml", doc)
    return buf.getvalue()


def _parse_docx_minimal(payload: bytes) -> tuple[str, int]:
    """(text, n_paragraphs) from a real DOCX via stdlib zipfile +
    ElementTree — the same document-part walk python-docx performs
    (ref: document_processing_service.py:369-457 reads paragraphs and
    styles; styles/tables are the python-docx swap-in surface)."""
    import io
    import zipfile
    from xml.etree import ElementTree

    with zipfile.ZipFile(io.BytesIO(payload)) as z:
        root = ElementTree.fromstring(z.read("word/document.xml"))
    paras = root.findall(f".//{{{_W_NS}}}p")
    parts = [
        "".join(t.text or "" for t in p.findall(f".//{{{_W_NS}}}t"))
        for p in paras
    ]
    return "\n".join(parts), len(paras)


def _real_container_gen(
    batches: Iterator["pd.DataFrame"],
) -> Iterator["pd.DataFrame"]:
    """(doc_id, text) batches → (doc_id, file_name, payload) batches;
    even doc_ids become actual PDFs, odd become actual DOCX archives.
    Module-level so consumers can COMPOSE it with their parse pass in
    one mapInPandas (q_extract_real_containers) instead of paying a
    second Python boundary round-trip for the container bytes."""
    import pandas as pd

    for pdf in batches:
        out = {"doc_id": [], "file_name": [], "payload": []}
        for did, text in zip(pdf["doc_id"], pdf["text"]):
            if did % 2 == 0:
                fn, pl = f"doc_{did}.pdf", _build_pdf_minimal(text)
            else:
                fn, pl = f"doc_{did}.docx", _build_docx_minimal(text)
            out["doc_id"].append(did)
            out["file_name"].append(fn)
            out["payload"].append(pl)
        yield pd.DataFrame(out)


def _real_container_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )


@register(
    "q_extract_real_containers",
    oracle="""
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'pdf' ELSE 'docx' END AS doc_type,
       text AS body_text,
       CAST(length(text) AS BIGINT) AS body_chars
FROM documents WHERE doc_id < 200
""",
)
def q_extract_real_containers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S3 on REAL file formats, end-to-end in one plan: source text
    → genuine PDF (FlateDecode content stream) / genuine DOCX (ZIP +
    WordprocessingML) bytes → magic-byte sniff (%PDF / PK\\x03\\x04) →
    stdlib parser → text, verified to round-trip exactly. The oracle
    recomputes expected values from the source column — the binary
    build/sniff/parse legs live entirely in the Spark path, so an
    error anywhere in them shows up as a text or doc_type mismatch."""
    import pandas as pd

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {"doc_id": [], "doc_type": [], "body_text": [],
                   "body_chars": []}
            for did, fn, pl in zip(pdf["doc_id"], pdf["file_name"], pdf["payload"]):
                pl = bytes(pl)
                if pl[:4] == b"%PDF":
                    kind, body = "pdf", extract_pdf_text(pl)
                elif pl[:4] == b"PK\x03\x04":
                    kind, body = "docx", _parse_docx_minimal(pl)[0]
                else:
                    kind, body = "unknown", ""
                out["doc_id"].append(did)
                out["doc_type"].append(kind)
                out["body_text"].append(body)
                out["body_chars"].append(len(body))
            yield pd.DataFrame(out)

    # ONE Python pass (r15 opt pass, the q_extract_cascade fix): the
    # build and parse generators compose inside a single mapInPandas,
    # so the PDF/DOCX container bytes never make the Python → JVM →
    # Python round-trip between two MapInPandas nodes. Rows out are
    # byte-identical (same per-row functions, same order).
    def build_parse(
        batches: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        return parse(_real_container_gen(batches))

    return _real_container_docs(spark, sf_dir).mapInPandas(
        build_parse,
        "doc_id long, doc_type string, body_text string, body_chars long",
    )


def _extract_one(file_name: str, payload: bytes) -> tuple[str, str, str]:
    """(doc_type, subject, body_text) for one landing row."""
    if file_name.endswith(".eml"):
        import email

        msg = email.message_from_bytes(payload)
        return "eml", msg.get("Subject", ""), msg.get_payload()
    raw = payload.decode("utf-8")
    if file_name.endswith(".pdf"):
        body = raw.removeprefix("%PDF-1.4\n").removesuffix("\n%%EOF")
        return "pdf", "", body
    return "docx", "", raw.removeprefix("PK\x03\x04word/")


@register(
    "q_extract_text",
    oracle=f"""
WITH {_LANDING_SQL}
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx' ELSE 'eml' END AS doc_type,
       CASE doc_id % 3 WHEN 2 THEN 'doc ' || doc_id ELSE '' END AS subject,
       text AS body_text,
       CAST(length(text) AS BIGINT) AS body_chars
FROM landing JOIN documents USING (doc_id)
""",
)
def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-S4/U2: per-format text extraction inside mapInPandas — EML
    via the stdlib ``email`` parser (headers become columns, ref:
    document_processing_service.py:480-487), PDF/DOCX by container
    strip (see _extract_pdf_real for the codec swap-in). Extraction
    recovers the original text exactly, which is what the oracle
    checks."""
    import pandas as pd

    lt = landing_table(spark, sf_dir)

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = [
                _extract_one(fn, pl)
                for fn, pl in zip(pdf["file_name"], pdf["payload"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "doc_type": [r[0] for r in rows],
                    "subject": [r[1] for r in rows],
                    "body_text": [r[2] for r in rows],
                    "body_chars": [len(r[2]) for r in rows],
                }
            )

    return lt.mapInPandas(
        gen,
        "doc_id long, doc_type string, subject string, body_text string, "
        "body_chars long",
    )


_TBL_OPEN, _TBL_CLOSE = "[TABLE]", "[/TABLE]"


def landing_table_with_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landing variant whose documents embed a delimited table section
    (ref: document_processing_service.py:207-228 PDF table regions,
    :413-447 DOCX w:tbl) — body text followed by
    ``[TABLE]\\nheader|…\\nrow|…\\n[/TABLE]`` built from the document's
    own metadata, so extraction output is value-derivable."""
    docs = spread(
        load(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
    )
    did = F.col("doc_id").cast("string")
    table = F.concat(
        F.lit(f"\n{_TBL_OPEN}\nfield|value\nlang|"),
        F.col("lang"),
        F.lit("\nsource|"),
        F.col("source"),
        F.lit("\nn_chars|"),
        F.col("n_chars").cast("string"),
        F.lit(f"\n{_TBL_CLOSE}"),
    )
    body = F.concat(F.col("text"), table)
    kind = F.col("doc_id") % 3
    pdf = F.concat(F.lit("%PDF-1.4\n"), body, F.lit("\n%%EOF"))
    docx = F.concat(F.lit("PK\x03\x04word/"), body)
    eml = F.concat(
        F.lit("From: sender-"), did,
        F.lit("@example.com\r\nTo: dest@example.com\r\nSubject: doc "),
        did, F.lit("\r\n\r\n"), body,
    )
    name = F.concat(
        F.lit("doc_"), did,
        F.when(kind == 0, F.lit(".pdf")).when(kind == 1, F.lit(".docx")).otherwise(F.lit(".eml")),
    )
    payload = F.when(kind == 0, pdf).when(kind == 1, docx).otherwise(eml)
    return docs.select(
        "doc_id",
        name.alias("file_name"),
        F.encode(payload, "UTF-8").cast("binary").alias("payload"),
    )


def _parse_tables(body: str) -> tuple[str, list[tuple[list[str], list[list[str]]]]]:
    """Split a body into (prose, tables) where each table is
    (headers, rows) — the nested-array form of the reference's
    extract_tables (ref: document_processing_service.py:207-228)."""
    tables = []
    prose_parts = []
    rest = body
    while _TBL_OPEN in rest:
        before, _, after = rest.partition("\n" + _TBL_OPEN + "\n")
        block, _, rest = after.partition("\n" + _TBL_CLOSE)
        prose_parts.append(before)
        lines = [l for l in block.split("\n") if l]
        headers = lines[0].split("|") if lines else []
        rows = [l.split("|") for l in lines[1:]]
        tables.append((headers, rows))
    prose_parts.append(rest)
    return "".join(prose_parts), tables


def extract_tables_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 (extract-and-flatten): parse embedded table regions out of
    the landing payloads into REAL nested columns —
    ``headers array<string>`` and ``rows array<array<string>>`` — via
    mapInPandas over the binary payloads. This is the engine-facing
    API; q_extract_tables projects the driver-facing flattened form."""
    import pandas as pd

    lt = landing_table_with_tables(spark, sf_dir)

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {"doc_id": [], "prose_chars": [], "n_tables": [],
                   "headers": [], "rows": []}
            for did, fn, pl in zip(pdf["doc_id"], pdf["file_name"], pdf["payload"]):
                _, _, body = _extract_one(fn, pl)
                prose, tables = _parse_tables(body)
                headers, rows = (tables[0] if tables else ([], []))
                out["doc_id"].append(did)
                out["prose_chars"].append(len(prose))
                out["n_tables"].append(len(tables))
                out["headers"].append(headers)
                out["rows"].append(rows)
            yield pd.DataFrame(out)

    return lt.mapInPandas(
        gen,
        "doc_id long, prose_chars long, n_tables long, "
        "headers array<string>, rows array<array<string>>",
    )


@register(
    "q_extract_tables",
    oracle="""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS prose_chars,
       CAST(1 AS BIGINT) AS n_tables,
       'field | value' AS headers_flat,
       CAST(3 AS BIGINT) AS n_rows,
       'lang | ' || lang || chr(10) || 'source | ' || source || chr(10)
         || 'n_chars | ' || n_chars AS flat_table
FROM documents
""",
)
def q_extract_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 end-to-end: binary container → table-region parse →
    (headers, rows) nested arrays → pipe-flattened text (ref:
    document_processing_service.py:207-228 extract, :351-367
    _table_to_text ' | '-join). The Spark path round-trips the real
    bytes; the oracle independently recomputes the expected flattened
    table from the source columns the containers were built from.
    Driver-facing projection is scalar (flattened strings + counts);
    extract_tables_df keeps the nested form."""
    nested = extract_tables_df(spark, sf_dir)
    return nested.select(
        "doc_id",
        "prose_chars",
        "n_tables",
        F.array_join("headers", " | ").alias("headers_flat"),
        F.size("rows").cast("long").alias("n_rows"),
        F.array_join(
            F.transform(F.col("rows"), lambda r: F.array_join(r, " | ")), "\n"
        ).alias("flat_table"),
    )


@register(
    "q_extract_chunks",
    oracle=f"""
WITH {_LANDING_SQL},
paras AS (
  SELECT doc_id,
         unnest(string_split(text, '. ')) AS para,
         generate_subscripts(string_split(text, '. '), 1) - 1 AS chunk_seq
  FROM landing JOIN documents USING (doc_id)
)
SELECT doc_id, chunk_seq,
       doc_id || '_c' || chunk_seq AS chunk_id,
       para AS content,
       CAST(len(list_filter(string_split(para, ' '), t -> t <> '')) AS BIGINT)
         AS word_count
FROM paras
WHERE length(para) > 20
""",
)
def q_extract_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 end-to-end: landing payload → extract → chunk rows (one
    file → N chunks, the UDTF fan-out of the reference's
    rechunk_document, ref: document_processing_service.py:551-587).
    Chunks = sentence-ish '. ' segments, meaningful-length filter > 20
    chars (F5 analog, ref :295), stable (doc_id, chunk_seq) keys —
    Spark has no implicit row order, so position is a column
    (SURVEY §2.6 O3)."""
    import pandas as pd

    lt = landing_table(spark, sf_dir)

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {"doc_id": [], "chunk_seq": [], "chunk_id": [],
                   "content": [], "word_count": []}
            for did, fn, pl in zip(pdf["doc_id"], pdf["file_name"], pdf["payload"]):
                _, _, body = _extract_one(fn, pl)
                for seq, para in enumerate(body.split(". ")):
                    if len(para) <= 20:
                        continue
                    out["doc_id"].append(did)
                    out["chunk_seq"].append(seq)
                    out["chunk_id"].append(f"{did}_c{seq}")
                    out["content"].append(para)
                    out["word_count"].append(len(para.split()))
            yield pd.DataFrame(out)

    return lt.mapInPandas(
        gen,
        "doc_id long, chunk_seq int, chunk_id string, content string, "
        "word_count long",
    )


# ------------------------------------------------------------------ OCR (U3)
#
# The reference's third extraction strategy rasterizes PDF pages and
# runs pytesseract over the page images (ref:
# document_processing_service.py:241-271). No OCR/image library ships
# in this environment, so the ENGINE path is a deterministic
# synthetic-glyph OCR with the same computational shape — page raster
# (binary bitmap) → fixed-pitch cell segmentation → per-glyph
# template classification → text — and the real pytesseract call is
# the guarded swap-in (_ocr_tesseract). The glyph font is procedural
# (uniqueness asserted at import), so decode is exact and the whole
# raster→text pass is value-verified by the DuckDB oracle.

_GLYPH_BYTES = 7  # 7 rows × 5 px per glyph, one row per byte (low 5 bits)
_OCR_PAGE_CHARS = 400  # chars rasterized per page (ref: per-page OCR loop)
_RASTER_MAGIC = b"RASTER1\x00"


def _make_font() -> dict[str, bytes]:
    """Procedural 5×7 glyph per printable-ASCII char. Rows derive from
    the same char-fold constants as functions/hashing.py; a per-char
    salt bumps until every glyph is unique so template matching is
    exact-inverse."""
    font: dict[str, bytes] = {}
    used: set[bytes] = set()
    for code in range(32, 127):
        salt = 0
        while True:
            rows = bytes(
                ((code * 131 + r * 31 + salt * 7919 + 13) * 2654435761 >> 11) & 0x1F
                for r in range(_GLYPH_BYTES)
            )
            if rows not in used:
                break
            salt += 1  # pragma: no cover - no collision for ASCII range
        used.add(rows)
        font[chr(code)] = rows
    return font


_FONT = _make_font()
_FONT_INV = {v: k for k, v in _FONT.items()}


def _rasterize_page(text: str) -> bytes:
    """Render one page of text as a glyph bitmap (the stand-in for the
    reference's pix = page.get_pixmap())."""
    return _RASTER_MAGIC + b"".join(_FONT[c] for c in text)


def _ocr_page(raster: bytes) -> str:
    """Synthetic-glyph OCR: segment the bitmap into fixed-pitch cells
    and classify each against the font templates."""
    if not raster.startswith(_RASTER_MAGIC):
        raise ValueError("not a RASTER1 page image")
    body = raster[len(_RASTER_MAGIC):]
    cells = (
        body[i : i + _GLYPH_BYTES] for i in range(0, len(body), _GLYPH_BYTES)
    )
    return "".join(_FONT_INV[c] for c in cells)


def _ocr_tesseract(raster: bytes) -> str:  # pragma: no cover - needs lib
    """pytesseract OCR (ref: document_processing_service.py:241-271 —
    pytesseract.image_to_string per page pixmap). Reached only via
    ocr_raster's dispatch when the libraries are installed."""
    import io

    import pytesseract
    from PIL import Image

    return pytesseract.image_to_string(Image.open(io.BytesIO(raster)))


def ocr_raster(raster: bytes) -> str:
    """Raster page → text with CONTENT-based routing: synthetic
    RASTER1 pages always decode via the glyph classifier (that format
    is this engine's own; pytesseract cannot read it), any other image
    routes to pytesseract when installed. Content dispatch means
    installing the library changes nothing for the deterministic test
    surface while real scans start working."""
    if raster.startswith(_RASTER_MAGIC):
        return _ocr_page(raster)
    if _HAS_TESSERACT:
        return _ocr_tesseract(raster)
    raise NotImplementedError(
        "non-RASTER1 page image and pytesseract/PIL are not installed; "
        "install them on every executor to OCR real scans"
    )


def scanned_pages_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, page, raster binary) — one raster page image per
    _OCR_PAGE_CHARS chars of each document, built in mapInPandas (the
    binary-column multimodal pattern, operators/multimodal.py)."""
    import pandas as pd

    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {"doc_id": [], "page": [], "raster": []}
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                for p in range(0, max(len(text), 1), _OCR_PAGE_CHARS):
                    out["doc_id"].append(did)
                    out["page"].append(p // _OCR_PAGE_CHARS + 1)
                    out["raster"].append(
                        _rasterize_page(text[p : p + _OCR_PAGE_CHARS])
                    )
            yield pd.DataFrame(out)

    return docs.mapInPandas(gen, "doc_id long, page int, raster binary")


@register(
    "q_ocr_text",
    oracle=f"""
WITH pages AS (
  SELECT doc_id, text,
         unnest(generate_series(
           1, CAST(ceil(length(text) / {_OCR_PAGE_CHARS}.0) AS BIGINT))) AS p
  FROM documents
)
SELECT doc_id, CAST(p AS INT) AS page,
       substr(text, CAST((p - 1) * {_OCR_PAGE_CHARS} + 1 AS BIGINT),
              {_OCR_PAGE_CHARS}) AS page_text,
       CAST(length(substr(text, CAST((p - 1) * {_OCR_PAGE_CHARS} + 1 AS BIGINT),
                          {_OCR_PAGE_CHARS})) AS BIGINT) AS n_chars
FROM pages
""",
)
def q_ocr_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: OCR tier — raster page images → per-page text via the
    synthetic-glyph OCR (segmentation + template classification in
    mapInPandas; pytesseract is the guarded swap-in, ref:
    document_processing_service.py:241-271). The raster build and the
    OCR run are separate passes over a real binary column, and the
    recovered page text is value-verified against the source."""
    import pandas as pd

    pages = scanned_pages_table(spark, sf_dir)

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            texts = [ocr_raster(bytes(r)) for r in pdf["raster"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "page": pdf["page"],
                    "page_text": texts,
                    "n_chars": [len(t) for t in texts],
                }
            )

    return pages.mapInPandas(
        gen, "doc_id long, page int, page_text string, n_chars long"
    )


# ------------------------------------------------- extraction cascade (S2)
#
# The reference tries extraction strategies in order and falls
# through when a strategy yields < 50 words (ref:
# document_processing_service.py:102-150 cascade; :152-154
# sufficiency check): PyMuPDF → pdfplumber → OCR. The engine form is
# a per-row cascade inside one mapInPandas over a composite container
# that carries all three layers: a text layer (≈PyMuPDF's extract), a
# structure layer (≈pdfplumber's layout parse), and a raster (≈the
# scanned page). Forced-failure docs are built deterministically —
# doc_id % 5 == 0 ships an empty text layer AND empty structure
# (scanned-only doc → OCR); doc_id % 5 == 1 ships a 10-word text
# layer (insufficient → structure) — so every strategy visibly fires
# and the oracle checks which strategy won per row.

_CASCADE_MIN_WORDS = 50  # ref :152-154: < 50 words → next strategy


def _build_cascade_payload(doc_id: int, text: str) -> bytes:
    """Composite scanned-PDF container: text layer + structure layer +
    raster, length-prefixed sections."""
    mode = doc_id % 5
    tl = "" if mode == 0 else (" ".join(text.split(" ")[:10]) if mode == 1 else text)
    st = text if mode == 1 else ""
    raster = _rasterize_page(text)
    out = bytearray(b"SCANPDF1")
    for section in (tl.encode("utf-8"), st.encode("utf-8"), raster):
        out += len(section).to_bytes(4, "big") + section
    return bytes(out)


def _n_words(s: str) -> int:
    return sum(1 for t in s.split(" ") if t)


def _extract_cascade_one(payload: bytes) -> tuple[str, str]:
    """(strategy_used, body_text) — per-row fall-through."""
    if not payload.startswith(b"SCANPDF1"):
        raise ValueError("not a SCANPDF1 container")
    sections, off = [], 8
    for _ in range(3):
        n = int.from_bytes(payload[off : off + 4], "big")
        sections.append(payload[off + 4 : off + 4 + n])
        off += 4 + n
    tl = sections[0].decode("utf-8")
    if _n_words(tl) >= _CASCADE_MIN_WORDS:
        return "text_layer", tl
    st = sections[1].decode("utf-8")
    if _n_words(st) >= _CASCADE_MIN_WORDS:
        return "structure", st
    return "ocr", ocr_raster(sections[2])


@register(
    "q_extract_cascade",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, text,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS nw
  FROM documents
)
SELECT doc_id,
       CASE
         WHEN doc_id % 5 = 0 THEN 'ocr'
         WHEN doc_id % 5 = 1 THEN
           CASE WHEN nw >= {_CASCADE_MIN_WORDS} THEN 'structure' ELSE 'ocr' END
         ELSE
           CASE WHEN nw >= {_CASCADE_MIN_WORDS} THEN 'text_layer' ELSE 'ocr' END
       END AS strategy_used,
       text AS body_text,
       CAST(nw AS BIGINT) AS n_words
FROM tok
""",
)
def q_extract_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: the 3-strategy extraction cascade with per-row fall-through
    (text layer → structure parse → OCR, each sufficient only at
    ≥ 50 words — ref: document_processing_service.py:102-154). The
    landing build plants failures deterministically (doc_id % 5 == 0:
    scanned-only; % 5 == 1: truncated text layer), and the oracle
    verifies both WHICH strategy won per document and that the final
    body text is exact regardless of the path taken."""
    import pandas as pd

    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))

    def build(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        _build_cascade_payload(did, text)
                        for did, text in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = [_extract_cascade_one(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "strategy_used": [r[0] for r in rows],
                    "body_text": [r[1] for r in rows],
                    "n_words": [_n_words(r[1]) for r in rows],
                }
            )

    # ONE Python pass, not two chained mapInPandas (r15 opt pass):
    # the build→extract composition ran as two MapInPandas nodes, so
    # every container payload (text layers + raster bytes) crossed
    # Python → Arrow → JVM → Arrow → Python between them — pure
    # serialization of the heaviest column. Composing the generators
    # keeps the payload inside one worker pass; rows out are
    # byte-identical (same per-row functions, same order).
    def build_extract(
        batches: Iterator["pd.DataFrame"],
    ) -> Iterator["pd.DataFrame"]:
        return extract(build(batches))

    return docs.mapInPandas(
        build_extract,
        "doc_id long, strategy_used string, body_text string, n_words long",
    )

"""WARC (Web ARChive, ISO 28500) source — the canonical web-scale
extraction input. Public format: records of

    WARC/1.0\r\n
    <warc-headers>\r\n
    \r\n
    <Content-Length bytes of block>\r\n
    \r\n

For ``response`` records the block is an HTTP response (status line,
headers, blank line, HTML body). Files may be plain ``.warc`` or
``.warc.gz`` with one gzip member per record (the Common Crawl layout
— members concatenate, and :func:`gzip.decompress` inflates the whole
stream).

Spark plan: ``binaryFile`` scan → ONE ``mapInArrow`` hop that splits
records, picks responses, and emits (url, warc_date, http_status,
html) rows — the same quarantined-Python shape as the extraction
kernel. The emitted frame feeds ``extract_df`` directly (rename
url→conv_id / synthesize turn_idx), so WARC → main-content text is a
two-hop pipeline end to end.

Scale notes: ``binaryFile`` caps files at 2 GB and reads whole files
per task — exactly the layout of Common Crawl segments (~1 GB .gz),
so file-count = parallelism; size partitions by files, not bytes. A
custom DataSource with intra-file record splitting is the >2 GB path;
the parser below is stream-oriented and reusable for it. Parsing is
pure stdlib and unit-tested on synthesized archives (no WARC corpus
ships in this container).
"""

from __future__ import annotations

import gzip
from typing import Iterator, Optional

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from .io import row_batcher

WARC_SPARK_SCHEMA = (
    "warc_file string, record_idx int, url string, warc_date string, "
    "http_status int, content_type string, html string, failure string"
)

_CRLF = b"\r\n"


def _parse_headers(chunk: bytes) -> dict:
    headers: dict[str, str] = {}
    for line in chunk.split(_CRLF):
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[k.decode("latin-1").strip().lower()] = v.decode(
                "latin-1"
            ).strip()
    return headers


def parse_warc(data: bytes) -> Iterator[dict]:
    """Stream WARC records out of raw (already-inflated) bytes.

    Yields dicts with warc headers + ``block`` bytes. Tolerant of
    leading noise; strict on Content-Length (the only sound way to
    split records whose blocks may contain 'WARC/1.0' literally)."""
    pos = 0
    n = len(data)
    while pos < n:
        start = data.find(b"WARC/", pos)
        if start == -1:
            return
        head_end = data.find(_CRLF + _CRLF, start)
        if head_end == -1:
            return
        headers = _parse_headers(data[start:head_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            pos = head_end + 4
            continue
        block_start = head_end + 4
        block = data[block_start:block_start + length]
        yield {"headers": headers, "block": block}
        pos = block_start + length


def parse_http_response(block: bytes) -> tuple[Optional[int], dict, bytes]:
    """HTTP status, headers, body from a response record block."""
    head_end = block.find(_CRLF + _CRLF)
    if head_end == -1:
        return None, {}, b""
    head = block[:head_end]
    status_line = head.split(_CRLF, 1)[0]
    parts = status_line.split()
    status = None
    if len(parts) >= 2 and parts[0].startswith(b"HTTP/"):
        try:
            status = int(parts[1])
        except ValueError:
            status = None
    return status, _parse_headers(head), block[head_end + 4:]


def _records_from_file(path_bytes: bytes, path: str) -> Iterator[tuple]:
    data = path_bytes
    if path.endswith(".gz") or data[:2] == b"\x1f\x8b":
        try:
            data = gzip.decompress(data)  # multi-member streams inflate whole
        except (OSError, EOFError):  # truncated member raises EOFError
            yield (path, -1, None, None, None, None, None, "gzip_error")
            return
    idx = 0
    for rec in parse_warc(data):
        h = rec["headers"]
        if h.get("warc-type") != "response":
            continue
        status, http_headers, body = parse_http_response(rec["block"])
        ctype = http_headers.get("content-type")
        # binary payloads (images, PDFs — common in real WARC response
        # records) must not flow downstream as replacement-character
        # mojibake "text": gate on the declared content type, keeping
        # text/* and the XML application types; records WITHOUT a
        # content-type header stay (tolerant default — many archives
        # omit it for HTML)
        main = (ctype or "").split(";")[0].strip().lower()
        if main and not (
            main.startswith("text/")
            or main in ("application/xhtml+xml", "application/xml")
        ):
            yield (path, idx, h.get("warc-target-uri"), h.get("warc-date"),
                   status, ctype, None, "non_text")
            idx += 1
            continue
        try:
            html = body.decode("utf-8", errors="replace")
            failure = None
        except Exception:  # pragma: no cover — replace never raises
            html, failure = None, "decode_error"
        yield (
            path, idx,
            h.get("warc-target-uri"),
            h.get("warc-date"),
            status,
            ctype,
            html,
            failure,
        )
        idx += 1


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC files → (warc_file, record_idx, url, warc_date,
    http_status, content_type, html, failure) rows."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")
    to_batch = row_batcher(WARC_SPARK_SCHEMA)

    def split_records(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = []
            for p, content in zip(batch.column("path").to_pylist(),
                                  batch.column("content").to_pylist()):
                rows.extend(_records_from_file(content, p))
            yield to_batch(rows)

    return files.mapInArrow(split_records, WARC_SPARK_SCHEMA)


def warc_to_turns(warc_df: DataFrame) -> DataFrame:
    """Adapt WARC rows to the extraction pipeline's input contract:
    (conv_id, turn_idx, text). One page = one turn keyed by URL."""
    from pyspark.sql import functions as F

    return warc_df.filter(
        F.col("failure").isNull() & (F.col("http_status") == 200)
    ).select(
        F.col("url").alias("conv_id"),
        F.col("record_idx").cast("int").alias("turn_idx"),
        F.col("html").alias("text"),
    )


# ---------------------------------------------------------------------------
# deterministic synthesis (no WARC corpus in this container)
# ---------------------------------------------------------------------------

def _build_record(url: str, date: str, body: bytes,
                  status: int = 200, ctype: str = "text/html") -> bytes:
    http = (
        f"HTTP/1.1 {status} OK\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body
    warc_headers = (
        f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\nContent-Type: application/http;msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode()
    return warc_headers + http + _CRLF + _CRLF


def synth_warc_file(path: str, n_records: int, seed: int = 42,
                    compress: bool = False) -> list[str]:
    """Write one deterministic .warc(.gz) file; returns its URLs. HTML
    bodies come from the transcript synthesizer so WARC extraction can
    be parity-checked against the serial kernel."""
    from . import synth

    parts: list[bytes] = []
    urls: list[str] = []
    for i in range(n_records):
        url = f"https://example.org/{seed}/{i}"
        body = (synth.payload(seed * 1000 + i, i % 4) or "").encode()
        rec = _build_record(url, "2026-01-01T00:00:00Z", body)
        parts.append(gzip.compress(rec) if compress else rec)
        urls.append(url)
    with open(path, "wb") as fh:
        fh.write(b"".join(parts))
    return urls

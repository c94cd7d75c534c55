"""WARC source — the web-archive interchange format every production
crawler reads and writes (public spec: ISO 28500 / WARC 1.0; the same
record layout Common-Crawl-style corpora ship).

Subset implemented: ``response`` (and ``resource``) records with
``WARC-Target-URI`` and ``Content-Length``-delimited payloads; payloads
that carry a full HTTP response envelope are unwrapped to the body.

Scale shape: parallelism is PER FILE (``binaryFile`` source +
``mapInArrow`` record scanner) — the industry pattern: WARC files are
written ~1 GiB each precisely so file-granular parallelism saturates a
cluster without splitting records; the html payload goes straight into
the extraction UDFs with no further shuffle.

``warc_record_col`` builds spec-shaped record text from (url, html)
columns JVM-side, so a corpus can be round-tripped through the format
entirely as DataFrame work (the driver contract's ``warc_roundtrip``
query oracle-checks exactly that against the planted-link ground
truth).
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rows import arrow_schema

WARC_OUT_SCHEMA = (
    "warc_file string, record_offset long, url string, html string"
)

#: deterministic default for WARC-Date — replayable output beats a
#: wall-clock stamp for oracle/roundtrip checks; pass ``date_col`` (e.g.
#: a fetch_time column formatted with ``date_format(.., ISO8601)``) for
#: real capture times.
WARC_DEFAULT_DATE = "2000-01-01T00:00:00Z"


def warc_record_id_col(url_col: Column | str = "url") -> Column:
    """``<urn:uuid:...>`` WARC-Record-ID, deterministic from the target
    URI (md5(url) formatted 8-4-4-4-12) — JVM-side, engine-replayable.
    ISO 28500 mandates a globally unique id per record; a url-keyed
    UUID satisfies external tooling (warcio et al.) while keeping the
    sink a pure function of its input."""
    url = F.col(url_col) if isinstance(url_col, str) else url_col
    h = F.md5(url)
    return F.concat(
        F.lit("<urn:uuid:"),
        F.substring(h, 1, 8), F.lit("-"),
        F.substring(h, 9, 4), F.lit("-"),
        F.substring(h, 13, 4), F.lit("-"),
        F.substring(h, 17, 4), F.lit("-"),
        F.substring(h, 21, 12),
        F.lit(">"),
    )


def warc_record_col(
    url_col: Column | str = "url",
    html_col: Column | str = "html",
    date_col: Column | str | None = None,
) -> Column:
    """WARC/1.0 response-record text for each row (JVM-side concat):
    headers (incl. the ISO 28500-mandatory WARC-Record-ID and
    WARC-Date) + Content-Length(payload bytes) + payload + the spec's
    record-terminating blank lines.

    ``date_col``: optional ISO-8601 string column for WARC-Date;
    defaults to the fixed ``WARC_DEFAULT_DATE`` so the sink stays a
    deterministic function of (url, html)."""
    url = F.col(url_col) if isinstance(url_col, str) else url_col
    html = F.col(html_col) if isinstance(html_col, str) else html_col
    if date_col is None:
        date = F.lit(WARC_DEFAULT_DATE)
    else:
        date = F.col(date_col) if isinstance(date_col, str) else date_col
    payload_len = F.length(F.encode(html, "UTF-8"))
    return F.concat(
        F.lit("WARC/1.0\r\n"),
        F.lit("WARC-Type: response\r\n"),
        F.lit("WARC-Record-ID: "), warc_record_id_col(url), F.lit("\r\n"),
        F.lit("WARC-Date: "), date, F.lit("\r\n"),
        F.lit("WARC-Target-URI: "), url, F.lit("\r\n"),
        F.lit("Content-Length: "), payload_len.cast("string"), F.lit("\r\n"),
        F.lit("\r\n"),
        html,
        F.lit("\r\n\r\n"),
    )


def write_warc(
    df: DataFrame,
    path: str,
    url_col: str = "url",
    html_col: str = "html",
    mode: str = "overwrite",
) -> None:
    """Sink: serialize (url, html) rows as WARC record text files (one
    record stream per partition — on a real cluster, size partitions
    ~1 GiB to match the WARC-file convention)."""
    df.select(warc_record_col(url_col, html_col).alias("value")).write.mode(
        mode
    ).text(path)


def _gunzip_members(blob: bytes) -> bytes:
    """Decompress ALL gzip members (Common-Crawl-style .warc.gz files
    are one gzip member PER RECORD, concatenated; ``gzip.decompress``
    stops after the first)."""
    import zlib

    out = bytearray()
    pos = 0
    while pos < len(blob):
        decomp = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out += decomp.decompress(blob[pos:])
        out += decomp.flush()
        remainder = decomp.unused_data
        if not remainder:
            break
        pos = len(blob) - len(remainder)
    return bytes(out)


def _scan_records(blob: bytes) -> Iterator[tuple[int, str, str]]:
    """(record_offset, url, html) from one WARC blob — header-driven,
    Content-Length delimited (never splits on payload content).

    ``record_offset`` is the byte offset of the record's ``WARC/``
    version line in the (decompressed) stream — the re-fetch address an
    index row needs.  Non-response record types (``request``,
    ``metadata``, ``warcinfo``, ...) interleaved in the input are
    skipped record-locally: their Content-Length is still consumed, so
    they never desync the scan.  The header terminator is whichever of
    CRLFCRLF / LFLF comes FIRST — an LF-delimited header block whose
    payload happens to contain a CRLF blank line must not have its
    header end located inside the payload."""
    if blob[:2] == b"\x1f\x8b":  # .warc.gz (multi-member supported)
        blob = _gunzip_members(blob)
    pos, size = 0, len(blob)
    while pos < size:
        # skip inter-record whitespace/newlines
        while pos < size and blob[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= size:
            return
        record_offset = pos
        crlf_end = blob.find(b"\r\n\r\n", pos)
        lf_end = blob.find(b"\n\n", pos)
        if crlf_end >= 0 and (lf_end < 0 or crlf_end <= lf_end):
            header_end, sep_len = crlf_end, 4
        elif lf_end >= 0:
            header_end, sep_len = lf_end, 2
        else:
            return
        headers: dict[str, str] = {}
        first_line = True
        valid = True
        for line in blob[pos:header_end].splitlines():
            text = line.decode("utf-8", "replace").strip()
            if first_line:
                valid = text.startswith("WARC/")
                first_line = False
                continue
            name, _, value = text.partition(":")
            headers[name.strip().lower()] = value.strip()
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            valid = False
            length = 0
        body_start = header_end + sep_len
        body = blob[body_start : body_start + length]
        pos = body_start + length
        if not valid or headers.get("warc-type") not in ("response", "resource"):
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        # unwrap an HTTP envelope if present (payload = full response)
        if body.startswith(b"HTTP/"):
            http_end = body.find(b"\r\n\r\n")
            if http_end < 0:
                http_end = body.find(b"\n\n")
                body = body[http_end + 2 :] if http_end >= 0 else b""
            else:
                body = body[http_end + 4 :]
        yield record_offset, url, body.decode("utf-8", "replace")


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """(warc_file, record_offset, url, html) rows from a directory/glob
    of WARC files; one task per file (``binaryFile`` + ``mapInArrow``
    scanner).  ``(warc_file, record_offset)`` is the record's re-fetch
    address (offset into the decompressed stream for .warc.gz).  A file
    yields many rows, so not on ``functions/rows.py``."""
    files = spark.read.format("binaryFile").load(path)
    schema = arrow_schema(WARC_OUT_SCHEMA)

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = [
                {"warc_file": fname, "record_offset": offset, "url": url, "html": html}
                for fname, blob in zip(
                    batch["path"].to_pylist(), batch["content"].to_pylist()
                )
                for offset, url, html in _scan_records(blob)
            ]
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return files.select("path", "content").mapInArrow(
        scan, schema=WARC_OUT_SCHEMA
    )


def cdx_index(records: DataFrame) -> DataFrame:
    """CDX-style capture index (the public Common-Crawl/OpenWayback
    convention) over ``read_warc`` output: ``urlkey`` = SURT key,
    ``digest`` = md5 of the payload octets (byte-fidelity witness for
    the envelope/unwrap roundtrip), ``length`` = payload octet length,
    plus the ``(warc_file, record_offset)`` re-fetch address the
    scanner surfaces.  Pure JVM column algebra — map-only over the
    scan.

    At 100 TB: write sorted by ``urlkey`` (range-partition +
    ``sortWithinPartitions``) to get the binary-searchable per-shard
    index files the public convention expects; this function leaves
    ordering to the writer so the scan stays shuffle-free."""
    from ..functions.urlfilter import surt_key

    return records.select(
        surt_key("url").alias("urlkey"),
        "url",
        F.md5(F.encode("html", "UTF-8")).alias("digest"),
        F.octet_length("html").cast("long").alias("length"),
        "warc_file",
        "record_offset",
    )


def revisit_dedup(cdx: DataFrame) -> DataFrame:
    """Payload-digest revisit deduplication — the public Heritrix /
    Common-Crawl storage convention (ISO 28500 §6.7 ``revisit`` record
    type with the ``identical-payload-digest`` profile): when a
    capture's payload digest has been stored before, the archive keeps
    a ``revisit`` record pointing at the original capture instead of
    the payload bytes.

    Input: a :func:`cdx_index`-shaped capture table.  Output adds

    * ``record_type`` — ``'response'`` for the FIRST capture of each
      digest, ``'revisit'`` for every later one;
    * ``refers_to_file`` / ``refers_to_offset`` — the original
      capture's re-fetch address (NULL on originals);
    * ``stored_length`` — ``length`` for originals, 0 for revisits:
      summing it is the archive-bytes-after-dedup metric.

    "First" is deterministic: smallest ``(warc_file, record_offset,
    urlkey)`` per digest — capture order in file order, no wall clock.

    Scale shape: ONE hash(digest) window exchange carrying only the
    index columns (the payload bytes never shuffle — this runs over
    the CDX, not the WARC).  At 10^10 captures the digest key is
    uniform by construction (md5), so no skew handling is needed."""
    from pyspark.sql import Window

    w = Window.partitionBy("digest").orderBy(
        "warc_file", "record_offset", "urlkey"
    )
    ranked = cdx.select(
        "*",
        F.row_number().over(w).alias("__rn"),
        F.first("warc_file").over(w).alias("__orig_file"),
        F.first("record_offset").over(w).alias("__orig_offset"),
    )
    is_orig = F.col("__rn") == 1
    return ranked.select(
        "urlkey",
        "url",
        "digest",
        "length",
        "warc_file",
        "record_offset",
        F.when(is_orig, F.lit("response"))
        .otherwise(F.lit("revisit"))
        .alias("record_type"),
        F.when(~is_orig, F.col("__orig_file")).alias("refers_to_file"),
        F.when(~is_orig, F.col("__orig_offset")).alias("refers_to_offset"),
        F.when(is_orig, F.col("length"))
        .otherwise(F.lit(0).cast("long"))
        .alias("stored_length"),
    )

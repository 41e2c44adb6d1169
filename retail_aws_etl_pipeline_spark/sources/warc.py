"""WARC web-archive source — the interchange format crawl corpora arrive in.

A WARC file is a concatenation of records::

    WARC/1.0\r\n
    <Header-Name>: <value>\r\n ...
    \r\n
    <Content-Length bytes of block>
    \r\n\r\n

The block of a ``response``/``request`` record is itself an HTTP message
(status/request line + headers + payload). Reference scope: the reference
engine reads CSV drops only; WARC is part of the LLM-pipeline extension
surface (TESTDATA has no WARC fixture, so the proof corpus is synthesized
from id formulas exactly like the media-probe corpora —
``operators/multimodal.synth_webp_media``).

Scale shape (100 TB): real crawls ship as ~1 GB shards, so parallelism is
per-shard (shard count >> cores on any real crawl) and Spark's
``binaryFile`` source yields one (path, content) row per shard —
``parse_warc_records`` accepts exactly that schema, whether the rows come
from disk or from :func:`synth_warc_shards`. The record split runs as one
Arrow-batched kernel pass per shard; the stats path carries headers only
(``include_body=False`` default), so nothing body-sized survives past the
kernel. Whole-shard gzip is handled transparently (``.warc.gz`` members);
``spark.sql.files.maxPartitionBytes`` does not apply (binaryFile never
splits a file), so executor memory must budget one decompressed shard per
task — the same contract any WARC reader has.
"""

from __future__ import annotations

import gzip

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.operators.multimodal import map_rows

#: Parsed-record schema (body column appended when include_body=True).
WARC_RECORD_SCHEMA = (
    "path string, record_idx int, record_id string, warc_type string, "
    "target_uri string, content_type string, content_length long, "
    "http_status int, payload_length long"
)

_CRLF = b"\r\n"


def iter_warc_records(buf: bytes):
    """Yield dicts for every record in one WARC shard (plain or whole-file
    gzip). Structural violations raise ValueError — a crawl shard whose
    framing is broken should surface as a reject at the file level, not
    silently drop its tail records. For ``response``/``request`` records
    the HTTP block is split into status line / headers / payload;
    ``http_status`` is parsed for responses only and ``payload_length``
    counts bytes after the HTTP header terminator."""
    if buf[:2] == b"\x1f\x8b":
        try:
            buf = gzip.decompress(buf)
        except OSError as ex:
            # BadGzipFile/zlib errors are OSError, not ValueError — fold
            # them into the documented file-level reject contract so a
            # corrupt-gzip shard is classified like any framing violation.
            raise ValueError(f"corrupt gzip WARC shard: {ex}") from ex
    pos, idx = 0, 0
    while pos < len(buf):
        eol = buf.find(_CRLF, pos)
        if eol < 0:
            raise ValueError(f"truncated WARC: no version line at byte {pos}")
        version = buf[pos:eol]
        if not version.startswith(b"WARC/"):
            raise ValueError(f"bad WARC version line {version[:20]!r} at byte {pos}")
        pos = eol + 2
        headers: dict[str, str] = {}
        while True:
            eol = buf.find(_CRLF, pos)
            if eol < 0:
                raise ValueError("truncated WARC: header block cut off")
            line = buf[pos:eol]
            pos = eol + 2
            if not line:
                break
            name, _, value = line.partition(b":")
            headers[name.decode("latin-1").strip().lower()] = (
                value.decode("latin-1").strip()
            )
        if "content-length" not in headers:
            raise ValueError("WARC record without Content-Length")
        try:
            n = int(headers["content-length"])
        except ValueError:
            raise ValueError(
                f"bad WARC Content-Length {headers['content-length']!r}"
            ) from None
        if n < 0:
            # A negative length slices an empty block (which passes the
            # shorter-than-n check, since 0 > n) and then steps pos
            # BACKWARD — crafted input could cycle the parser forever.
            # Certain input at 100 TB of untrusted crawl bytes; found by
            # the r13 hostile-WARC battery.
            raise ValueError(f"negative WARC Content-Length {n}")
        block = buf[pos : pos + n]
        if len(block) < n:
            raise ValueError("truncated WARC: block shorter than Content-Length")
        pos += n
        if buf[pos : pos + 4] != _CRLF + _CRLF:
            raise ValueError("WARC record missing the CRLF CRLF terminator")
        pos += 4
        warc_type = headers.get("warc-type", "")
        status, payload_len = None, None
        if warc_type in ("response", "request"):
            sep = block.find(_CRLF + _CRLF)
            if sep < 0:
                raise ValueError("HTTP block without header terminator")
            payload_len = n - (sep + 4)
            if warc_type == "response":
                first = block[: block.find(_CRLF)].decode("latin-1", "replace")
                parts = first.split(" ")
                if len(parts) < 2 or not parts[1][:3].isdigit():
                    raise ValueError(f"bad HTTP status line {first[:40]!r}")
                status = int(parts[1][:3])
        yield {
            "record_idx": idx,
            "record_id": headers.get("warc-record-id", ""),
            "warc_type": warc_type,
            "target_uri": headers.get("warc-target-uri", ""),
            "content_type": headers.get("content-type", ""),
            "content_length": n,
            "http_status": status,
            "payload_length": payload_len,
            "block": block,
        }
        idx += 1


def parse_warc_records(shards: DataFrame, include_body: bool = False) -> DataFrame:
    """(path, content) shard rows → one row per WARC record. ``shards``
    is binaryFile-shaped (``spark.read.format("binaryFile")`` or
    :func:`synth_warc_shards`); only (path, content) are read. With
    ``include_body`` the raw block AND the HTTP payload (bytes past the
    HTTP header terminator; the full block for non-HTTP records) ride
    along as binary — the corpus-building path; the default stats path
    drops both inside the kernel so the exchange never carries bodies."""
    schema = WARC_RECORD_SCHEMA + (
        ", block binary, payload binary" if include_body else ""
    )

    def records(path, content):
        for rec in iter_warc_records(bytes(content)):
            row = (
                path,
                rec["record_idx"],
                rec["record_id"],
                rec["warc_type"],
                rec["target_uri"],
                rec["content_type"],
                rec["content_length"],
                rec["http_status"],
                rec["payload_length"],
            )
            if include_body:
                block, pl = rec["block"], rec["payload_length"]
                row += (block, block[len(block) - pl :] if pl is not None else block)
            yield row

    return map_rows(shards, ["path", "content"], records, schema)


# --- synthetic proof corpus (id-formula discipline, never touching disk) ---


def _warc_record_bytes(mid: int, html: bool = False, dup_mod: int | None = None) -> bytes:
    """One record derived from the id: ``request`` when id % 4 == 3, else
    ``response`` with status 200/404/301 by id % 3 and an
    ``10 + id % 50``-byte payload (or, with ``html``, a small formulaic
    HTML document for the text-extraction corpus). Every field the
    parser emits is a pure function of the id, so the oracle
    reconstructs the parse without ever seeing WARC bytes. ``dup_mod``
    (html only) derives the BODY text from ``id % dup_mod`` while record
    identity (record-id, URI) keeps the full id — the duplicate
    structure a real crawl has (one page mirrored under many URLs), for
    the dedup-stats corpus."""
    uri = f"http://src{mid % 7}.example/doc/{mid}"
    if mid % 4 == 3:
        block = (
            f"GET /doc/{mid} HTTP/1.1\r\nHost: src{mid % 7}.example\r\n\r\n"
        ).encode()
        wtype, ctype = "request", "application/http;msgtype=request"
    else:
        status = (200, 404, 301)[mid % 3]
        if html:
            bid = mid if dup_mod is None else mid % dup_mod
            body = (
                f"<html><head><title>T{bid}</title></head>"
                f"<body><p>alpha beta {bid}</p><p>gamma</p></body></html>"
            ).encode()
        else:
            body = b"x" * (10 + mid % 50)
        block = (
            f"HTTP/1.1 {status} X\r\nContent-Type: text/html\r\n\r\n"
        ).encode() + body
        wtype, ctype = "response", "application/http;msgtype=response"
    headers = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {wtype}\r\n"
        f"WARC-Record-ID: <urn:doc:{mid}>\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"Content-Type: {ctype}\r\n"
        f"Content-Length: {len(block)}\r\n\r\n"
    ).encode()
    return headers + block + _CRLF + _CRLF


def synth_warc_shards(
    ids: DataFrame,
    id_col: str,
    n_shards: int = 10,
    compress: bool = False,
    html: bool = False,
    dup_mod: int | None = None,
) -> DataFrame:
    """(id) rows → binaryFile-shaped (path, content) shard rows, each the
    concatenation of the id-formula records for ``id % n_shards`` (sorted
    by id within the shard, so shard bytes are deterministic). Built
    executor-side in one applyInPandas pass — the proof corpus never
    touches disk. ``compress`` emits whole-shard gzip (.warc.gz)."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        mids = sorted(int(m) for m in pdf[id_col])
        shard = mids[0] % n_shards if mids else 0
        body = b"".join(_warc_record_bytes(m, html=html, dup_mod=dup_mod) for m in mids)
        ext = "warc.gz" if compress else "warc"
        if compress:
            body = gzip.compress(body, mtime=0)
        return pd.DataFrame(
            [(f"synth://shard-{shard:04d}.{ext}", body)], columns=["path", "content"]
        )

    return (
        ids.select(id_col)
        .groupBy((F.col(id_col) % n_shards).alias("__shard"))
        .applyInPandas(build, schema="path string, content binary")
    )


def warc_html_documents(shards: DataFrame) -> DataFrame:
    """Crawl → corpus: successful (2xx) response payloads decoded and
    tag-stripped into (doc_id, url, text, n_chars) rows — the extraction
    step that feeds the curation pipeline (normalize → dedup → budget)
    from WARC shards. Tag stripping is scan-side Column algebra
    (regexp_replace tags → space, collapse, trim) so the whole step
    fuses into the kernel's output scan; a production extractor would
    swap in a real HTML parser as an Arrow-batched kernel, but the
    PLUMBING (payload split, decode, id/url carry-through, n_chars
    recompute) is what this function pins. doc_id parses from the
    WARC-Record-ID urn; a crawl without one would key on
    xxhash64(target_uri) instead."""
    recs = parse_warc_records(shards, include_body=True)
    return (
        recs.filter(
            (F.col("warc_type") == "response")
            & F.col("http_status").between(200, 299)
        )
        .select(
            F.regexp_extract("record_id", "urn:doc:([0-9]+)", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("target_uri").alias("url"),
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(
                        F.decode(F.col("payload"), "UTF-8"), "<[^>]*>", " "
                    ),
                    " +",
                    " ",
                )
            ).alias("text"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )

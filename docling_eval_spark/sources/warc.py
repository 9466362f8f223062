"""WARC source: Common-Crawl-style archives -> (url, warc_ts, html) rows.

The north-rule input table (url, warc_ts, html, text, lang) is what a
crawl DELIVERS as WARC files (ISO 28500); this module is the ingestion
edge that turns raw `binaryFile` archive bytes into that table, fully
from scratch on the published format — no warcio, no external deps:

  * records are framed as a WARC/1.X header block (CRLF-terminated
    named fields, case-insensitive), a blank line, Content-Length bytes
    of block payload, and a CRLF CRLF record separator;
  * `response` records carry an HTTP/1.1 message as payload — status
    line, headers, blank line, entity body (the html bytes);
  * .warc.gz stores ONE GZIP MEMBER PER RECORD so archives are
    seekable; stdlib gzip decompresses multi-member streams natively.

Scale shape: one archive file = one row from `binaryFile` = one Arrow
batch element; parsing fans out records per file inside the executors
(mapInPandas), so a 100 TB crawl parses at input-split parallelism with
zero driver involvement. Memory note: `binaryFile` does NOT split a
file, so executor memory must hold whole archives — Common Crawl ships
~1 GB .warc.gz shards, which is exactly why the session config keeps
Arrow batches small (maxRecordsPerBatch); re-shard anything larger
before ingesting. Malformed records are counted, never raised — a
crawl ALWAYS contains torn records, and one bad segment must not kill
a 10^12-document job.

Reference analog: none (the reference ingests prepared datasets); the
operator exists because the north-rule corpus arrives as WARC.
"""

from __future__ import annotations

import gzip
import string
from datetime import datetime, timezone
from urllib.parse import quote

from pyspark.sql import DataFrame

from ..session import row_stage

_CRLF2 = b"\r\n\r\n"


def _target_uri(url: str) -> bytes:
    """WARC-Target-URI field bytes: non-ASCII characters (and any
    whitespace, which would break the header line) percent-encoded as
    UTF-8, ASCII punctuation and existing escapes kept as they are."""
    return quote(url, safe=string.punctuation).encode("ascii")


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n")[1:]:          # [0] is the version line
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower().decode("latin-1")] = \
                v.strip().decode("latin-1")
    return headers


def parse_warc(payload: bytes) -> tuple[list[dict], int]:
    """WARC archive bytes (plain or multi-member gzip) -> (records,
    n_malformed). Each record dict carries rec_type, url, warc_ts
    (datetime or None), http_status, mime, and body (bytes — the HTTP
    entity body for responses, the raw block otherwise)."""
    if payload[:2] == b"\x1f\x8b":
        payload = gzip.decompress(payload)
    records: list[dict] = []
    bad = 0
    i, n = 0, len(payload)
    while i < n:
        # skip inter-record CRLFs
        while payload.startswith(b"\r\n", i):
            i += 2
        if i >= n:
            break
        if not payload.startswith(b"WARC/", i):
            bad += 1
            nxt = payload.find(b"\r\nWARC/", i)
            if nxt == -1:
                break
            i = nxt + 2
            continue
        hdr_end = payload.find(_CRLF2, i)
        if hdr_end == -1:
            bad += 1
            break
        headers = _parse_headers(payload[i:hdr_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            bad += 1
            i = hdr_end + 4
            continue
        body_start = hdr_end + 4
        body = payload[body_start:body_start + length]
        if len(body) < length:
            bad += 1
            break
        i = body_start + length
        rec = {
            "rec_type": headers.get("warc-type", ""),
            "url": headers.get("warc-target-uri"),
            "warc_ts": _parse_ts(headers.get("warc-date")),
            "http_status": None,
            "mime": headers.get("content-type"),
            "body": body,
        }
        if rec["rec_type"] == "response" and body[:5] == b"HTTP/":
            http_end = body.find(_CRLF2)
            if http_end != -1:
                status_line = body[:body.find(b"\r\n")].split(b" ")
                if len(status_line) >= 2 and status_line[1].isdigit():
                    rec["http_status"] = int(status_line[1])
                http = _parse_headers(b"HTTP\r\n" + body[:http_end])
                rec["mime"] = http.get("content-type", rec["mime"])
                rec["body"] = body[http_end + 4:]
        records.append(rec)
    return records, bad


def _parse_ts(value: str | None):
    if not value:
        return None
    try:
        return datetime.strptime(value, "%Y-%m-%dT%H:%M:%SZ") \
            .replace(tzinfo=timezone.utc)
    except ValueError:
        return None


def build_warc(records: list[tuple[str, datetime, bytes]],
               mime: str = "text/html",
               gzip_members: bool = True) -> bytes:
    """(url, ts, body)s -> a well-formed WARC archive (response records
    wrapping an HTTP/1.1 200 message), one gzip member per record when
    `gzip_members` — the .warc.gz layout crawlers actually write. The
    fixture/roundtrip twin of parse_warc; also the sink for re-sharding
    a curated corpus back into archive form."""
    out = bytearray()
    for url, ts, body in records:
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: "
                + mime.encode("latin-1")
                + b"\r\nContent-Length: " + str(len(body)).encode()
                + _CRLF2 + body)
        hdr = (b"WARC/1.0\r\n"
               b"WARC-Type: response\r\n"
               b"WARC-Target-URI: " + _target_uri(url) + b"\r\n"
               b"WARC-Date: "
               + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode() + b"\r\n"
               b"Content-Type: application/http; msgtype=response\r\n"
               b"Content-Length: " + str(len(http)).encode() + _CRLF2)
        rec = bytes(hdr) + http + _CRLF2
        out += gzip.compress(rec, 6) if gzip_members else rec
    return bytes(out)


WARC_SCHEMA = ("archive string, rec_type string, url string, "
               "warc_ts timestamp, http_status int, mime string, "
               "html binary, n_malformed int")


def warc_records(df: DataFrame, payload_col: str = "content",
                 path_col: str = "path",
                 responses_only: bool = True) -> DataFrame:
    """binaryFile rows of WARC archives -> one row per record:
    (archive, rec_type, url, warc_ts, http_status, mime, html,
    n_malformed). `html` is the HTTP entity body for responses — the
    exact bytes the extraction pipeline's html column expects.
    n_malformed is per-archive torn-record accounting (repeated on each
    row of its archive; aggregate with max per archive)."""
    def _records(path, payload):
        recs, bad = parse_warc(bytes(payload))
        for r in recs:
            if not responses_only or r["rec_type"] == "response":
                yield (path, r["rec_type"], r["url"], r["warc_ts"],
                       r["http_status"], r["mime"], r["body"], bad)

    return row_stage(df.select(path_col, payload_col), _records, WARC_SCHEMA)


def build_wet(records: list[tuple[str, datetime, bytes]],
              gzip_members: bool = True) -> bytes:
    """(url, ts, text_bytes)s -> a WET archive: `conversion` records
    carrying extracted plain text directly as the WARC block (no HTTP
    envelope) — Common Crawl's .wet.gz exchange format for exactly the
    artifact this pipeline produces. One gzip member per record, same
    seekable framing as build_warc, so WET shards index and
    range-fetch through the identical cdx machinery
    (index_warc_members(rec_types=("conversion",)))."""
    out = bytearray()
    for url, ts, body in records:
        hdr = (b"WARC/1.0\r\n"
               b"WARC-Type: conversion\r\n"
               b"WARC-Target-URI: " + _target_uri(url) + b"\r\n"
               b"WARC-Date: "
               + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode() + b"\r\n"
               b"Content-Type: text/plain\r\n"
               b"Content-Length: " + str(len(body)).encode() + _CRLF2)
        rec = bytes(hdr) + body + _CRLF2
        out += gzip.compress(rec, 6) if gzip_members else rec
    return bytes(out)


def wet_export(df: DataFrame, docs_per_shard: int = 1000,
               key: str = "doc_id", url_col: str = "url",
               ts_col: str = "warc_ts", text_col: str = "text",
               prefix: str = "shard") -> DataFrame:
    """Curated rows -> (path, content) WET shards, ready for a binary
    sink. Sharding is deterministic (xxhash64(key) mod shard count
    derived from a corpus count — one partial-aggregable rollup);
    records inside a shard sort by key so shard bytes are reproducible
    run-to-run modulo gzip mtime. The Arrow stage builds each shard
    from its collected record list — docs_per_shard bounds the rows a
    single build sees, the WET twin of warc_records' archive-per-row
    memory note."""
    from pyspark.sql import functions as F

    n = df.count()
    n_shards = max(1, -(-n // docs_per_shard))
    tagged = df.select(
        (F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(n_shards))
         ).alias("_s"),
        F.col(key).alias("_k"), F.col(url_col).alias("_u"),
        F.col(ts_col).alias("_t"), F.col(text_col).alias("_x"))
    grouped = tagged.groupBy("_s").agg(
        F.sort_array(F.collect_list(F.struct("_k", "_u", "_t", "_x")))
        .alias("_recs"))

    def _shard(s, recs):
        # a NULL text is an empty conversion body
        triples = [(r["_u"], r["_t"], (r["_x"] or "").encode("utf-8"))
                   for r in recs]
        yield f"{prefix}-{s:05d}.warc.wet.gz", bytearray(build_wet(triples))

    return row_stage(grouped, _shard, "path string, content binary")

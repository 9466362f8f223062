"""CDXJ crawl-index source — locate WARC records without scanning archives.

Common Crawl (and every wayback-style archive) publishes its index as
CDXJ text: one line per capture,

    org,example)/path 20240101000000 {"url": "...", "mime": "text/html",
        "status": "200", "digest": "sha1:...", "length": "1234",
        "offset": "5678", "filename": "crawl-data/.../x.warc.gz"}

i.e. a SURT-sorted key, a 14-digit timestamp, and a JSON block with the
byte range of the record inside its WARC file (public format:
https://github.com/webrecorder/cdxj-indexer / the ISO 28500 ecosystem).
Reference analog: none — the reference ingests prepared datasets; this
is the index-first ingestion edge that makes 100 TB crawls tractable:
instead of scanning every archive (`sources/warc.py` fans archives out
at input-split parallelism), the pipeline filters the INDEX (a ~0.1%
sized text table) and fetches only the selected byte ranges.

Spark shape: the whole parse is native expressions — two
`substring_index` splits for the three fields plus one `from_json` for
the block — so index selection (status, mime, URL predicates, digest
dedup, latest-capture collapse) runs at scan speed with predicate
pushdown on anything derived; the output manifest is repartitioned by
archive file and sorted by offset inside each partition so a fetcher
reads each WARC sequentially.
"""

from __future__ import annotations

import hashlib
import zlib
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import row_stage

# the JSON block's published fields (all strings in CDXJ)
_BLOCK_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("mime", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("digest", T.StringType()),
    T.StructField("length", T.StringType()),
    T.StructField("offset", T.StringType()),
    T.StructField("filename", T.StringType()),
])


def parse_cdxj(df: DataFrame, line_col: str = "line") -> DataFrame:
    """CDXJ text lines -> typed capture rows, native expressions only.

    Lines that do not carry a parsable JSON block yield null fields
    (from_json's failure posture) rather than dropped rows, so torn
    index shards stay accountable — filter on `offset IS NOT NULL` to
    keep fetchable captures."""
    line = F.col(line_col)
    surt = F.substring_index(line, " ", 1)
    ts = F.substring_index(F.substring_index(line, " ", 2), " ", -1)
    # everything after the second space is the JSON block (the block
    # itself contains spaces, so expr-split on the first two only)
    block = F.expr(
        f"substring({line_col}, length(substring_index({line_col}, ' ', 2)) + 2)")
    j = F.from_json(block, _BLOCK_SCHEMA)
    return df.select(
        surt.alias("surt_key"),
        # try_: torn lines must yield null, not an ANSI raise
        F.try_to_timestamp(ts, F.lit("yyyyMMddHHmmss")).alias("capture_ts"),
        j["url"].alias("url"),
        j["mime"].alias("mime"),
        j["status"].cast("int").alias("status"),
        j["digest"].alias("digest"),
        j["filename"].alias("warc_filename"),
        j["offset"].cast("long").alias("offset"),
        j["length"].cast("long").alias("length"),
    )


def surt_host(surt_key_col) -> "F.Column":
    """SURT key -> forward hostname: 'org,example)/path' ->
    'example.org' (reverse the comma-joined labels before the ')')."""
    rev = F.split(F.substring_index(surt_key_col, ")", 1), ",")
    return F.array_join(F.reverse(rev), ".")


def cdx_fetch_manifest(captures: DataFrame,
                       statuses: tuple = (200,),
                       mimes: tuple = ("text/html",),
                       latest_only: bool = True,
                       dedup_digest: bool = True) -> DataFrame:
    """Selected captures -> a fetch manifest (warc_filename, offset,
    length, url, capture_ts, digest).

    Selection order is the cheap-first curation shape: status/mime
    predicates at the scan, then latest-capture-per-url collapse
    (max_by — partial-aggregable, no window), then content dedup on the
    index's own payload digest (min_by keeps the earliest capture of
    each payload — RefinedWeb-style URL/content dedup BEFORE any byte
    is fetched). The result repartitions by archive file and sorts by
    offset within partitions so a fetcher streams each WARC forward."""
    sel = captures.where(F.col("offset").isNotNull())
    if statuses:
        sel = sel.where(F.col("status").isin(*[int(s) for s in statuses]))
    if mimes:
        sel = sel.where(F.col("mime").isin(*list(mimes)))
    cols = ("url", "capture_ts", "digest", "warc_filename", "offset",
            "length")
    if latest_only:
        row = F.struct(*[F.col(c) for c in cols[1:]])
        sel = (sel.groupBy("url")
               .agg(F.max_by(row, "capture_ts").alias("_r"))
               .select("url", *[F.col(f"_r.{c}") for c in cols[1:]]))
    if dedup_digest:
        # a NULL digest says nothing about the payload: those captures
        # skip the dedup instead of collapsing into one group
        row = F.struct(*[F.col(c) for c in cols if c != "digest"])
        sel = (sel.where(F.col("digest").isNotNull()).groupBy("digest")
               .agg(F.min_by(row, F.struct("capture_ts", "url"))
                    .alias("_r"))
               .select(*[F.col(f"_r.{c}") for c in cols if c != "digest"],
                       "digest")
               .unionByName(sel.where(F.col("digest").isNull()).select(*cols)))
    return (sel.select(*cols)
            .repartition(F.col("warc_filename"))
            .sortWithinPartitions("warc_filename", "offset"))


def _iter_gzip_members(payload: bytes):
    """Walk a multi-member gzip stream: yield (offset, length,
    decompressed) per member — the member boundary is what
    `unused_data` exposes after each member's trailer."""
    pos, n = 0, len(payload)
    while pos < n:
        d = zlib.decompressobj(31)
        data = d.decompress(payload[pos:])
        if not d.eof:            # torn trailing member
            break
        end = n - len(d.unused_data)
        yield pos, end - pos, data
        pos = end


def _surt(url: str) -> str:
    """Forward URL -> SURT sort key: reverse the host labels, keep the
    path — 'https://sub.example.com/a/b' -> 'com,example,sub)/a/b'."""
    rest = url.split("://", 1)[-1]
    host, _, path = rest.partition("/")
    host = host.split("@")[-1].split(":")[0].lower()
    return ",".join(reversed(host.split("."))) + ")/" + path


INDEX_SCHEMA = (
    "surt_key string, capture_ts timestamp, url string, mime string, "
    "status int, digest string, warc_filename string, offset long, "
    "length long"
)


def index_warc_members(df: DataFrame, payload_col: str = "content",
                       path_col: str = "path",
                       rec_types: tuple = ("response",)) -> DataFrame:
    """The cdxj-indexer analog: WARC archives -> typed capture rows
    with REAL byte ranges, one Arrow stage. Archives fan out at
    input-split parallelism; each record's (offset, length) is its
    gzip member's range (the .warc.gz record-per-member layout), the
    digest is the sha1 of the response entity body (hex — Common
    Crawl uses base32 of the same hash), and the SURT key is derived
    from the target URI. `rec_types` selects what indexes — responses
    by default; ("conversion",) indexes WET extracted-text shards
    through the same machinery. Plain (non-gzip) archives yield no
    index rows — an index needs member framing to be seekable; parse
    those with warc_records instead."""
    from .warc import parse_warc

    def _index_members(path, payload):
        b = bytes(payload)
        if b[:2] != b"\x1f\x8b":
            return
        for off, length, data in _iter_gzip_members(b):
            recs, _bad = parse_warc(data)
            for r in recs:
                if r["rec_type"] in rec_types and r["url"]:
                    yield (_surt(r["url"]), r["warc_ts"], r["url"], r["mime"],
                           r["http_status"],
                           "sha1:" + hashlib.sha1(r["body"]).hexdigest(),
                           path, off, length)

    return row_stage(df.select(path_col, payload_col), _index_members,
                     INDEX_SCHEMA)


FETCHED_SCHEMA = ("warc_filename string, url string, warc_ts timestamp, "
                  "http_status int, mime string, html binary")


def fetch_manifest_records(manifest: DataFrame, archives: DataFrame,
                           payload_col: str = "content",
                           path_col: str = "path") -> DataFrame:
    """Index-first record extraction: a `cdx_fetch_manifest` joined
    back to archive bytes, decoding ONLY the selected byte ranges.

    Scale shape: ranges group per archive first (collect_list of the
    SMALL (offset, length) structs, offset-sorted), join one-row-per-
    archive — the archive bytes are never duplicated per selected
    record — then one Arrow stage gunzips each selected member
    standalone (a CDXJ range is one complete gzip member) and parses
    it through the WARC machinery. The un-selected bytes of the
    archive are never decompressed; on object storage this becomes
    ranged GETs and the archive column disappears entirely."""
    from .warc import parse_warc

    ranges = manifest.groupBy("warc_filename").agg(
        F.sort_array(F.collect_list(F.struct("offset", "length")))
        .alias("_ranges"))
    joined = (archives
              .select(F.col(path_col).alias("warc_filename"),
                      F.col(payload_col).alias("_bytes"))
              .join(ranges, "warc_filename"))

    def _fetch_ranges(fn, payload, rngs):
        b = bytes(payload)
        for r in rngs:
            off, length = int(r["offset"]), int(r["length"])
            member = b[off:off + length]
            if member[:2] == b"\x1f\x8b":
                member = zlib.decompress(member, 31)
            recs, _bad = parse_warc(member)
            for rec in recs:
                yield (fn, rec["url"], rec["warc_ts"], rec["http_status"],
                       rec["mime"], rec["body"])

    return row_stage(joined, _fetch_ranges, FETCHED_SCHEMA)

"""Webtext ingestion: WARC container parsing + real HTML extraction.

The Common-Crawl-shaped front half of a training-data pipeline:
``.warc.gz`` bytes → records (`functions/warc.py`, ISO 28500 layout,
per-record gzip members) → HTTP response split → visible-text /
title / link extraction (`functions/htmltext.py`, a real tokenizer —
not the regex fast path the synthetic ``<article>`` pages use) →
the existing text-quality / token / dedup layer.

Everything is deterministic and closed-form so the driver oracles pin
it cross-engine: `synthetic_warc` builds valid .warc.gz files whose
record/page facts (urls, statuses, paragraph word counts, link
counts) are arithmetic in the page id (`warc_records` and
`webtext_extract` contract queries).

Reference analog: the blob-level container scan feeding the reference
pipeline (SURVEY.md §2.1 S1/S2) — WARC is the container for the
webtext axis of this graft; `sources/pages.py` describes the pages
table as the materialized form of exactly this input.

Scale design: files parallelize across partitions (one task decodes
many files; `spark.sql.execution.arrow.maxRecordsPerBatch` bounds
Arrow batches); per-record gzip members make single huge files
splittable too (a CDX-style member-offset index is exactly what
`parse` reports). No collect, no driver-side loops.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, BooleanType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from ingest_spark.functions import charset as _charset
from ingest_spark.functions import htmltext as _htmltext
from ingest_spark.functions import warc as _warc
from ingest_spark.operators.partitioning import kernel_partitions

# ------------------------------------------------- synthetic corpus

PAGES_PER_FILE = 8


def synthetic_page_html(page_id: int) -> "tuple[int, str, str]":
    """Deterministic page → (status, mime, html). Facts are
    closed-form in ``page_id``:

    - every 7th page (id % 7 == 3) is a 404: title "404", body
      "Not Found" (2 words), no links;
    - otherwise 200: title "Doc {id}", an <h1> with the same 2 words,
      ``2 + id % 4`` paragraphs where paragraph j holds
      ``3 + (id + j) % 7`` words (one bolded — entity/inline tags
      must not split words), ``id % 5`` links of 1 word each, plus a
      head <script> and an HTML comment that must contribute NOTHING.
    """
    if page_id % 7 == 3:
        html = ("<html><head><title>404</title></head>"
                "<body><h1>Not Found</h1></body></html>")
        return 404, "text/html", html
    np_ = 2 + page_id % 4
    nl = page_id % 5
    paras = []
    for j in range(np_):
        words = [f"w{j}x{k}" for k in range(3 + (page_id + j) % 7)]
        words[0] = f"<b>{words[0]}</b>"
        paras.append("<p>" + " ".join(words) + "</p>")
    links = "".join(
        f'<a href="/l{k}">go{k}</a> ' for k in range(nl)
    )
    html = (
        f"<html><head><title>Doc {page_id}</title>"
        f"<script>var x = {page_id};</script></head>"
        f"<body><h1>Doc {page_id}</h1>"
        f"<!-- crawl id {page_id} -->"
        + "".join(paras) + links
        + "</body></html>"
    )
    return 200, "text/html", html


def expected_word_count(page_id: int) -> int:
    """The SQL-twinned word count of `synthetic_page_html`."""
    if page_id % 7 == 3:
        return 2
    return 2 + sum(
        3 + (page_id + j) % 7 for j in range(2 + page_id % 4)
    ) + page_id % 5


def build_warc_file(file_idx: int, pages_per_file: int = PAGES_PER_FILE) -> bytes:
    """One valid .warc.gz: a warcinfo record then one HTTP response
    record per page, every record its own gzip member."""
    out = [_warc.gzip_member(_warc.build_record(
        "warcinfo",
        b"software: ingest-spark synthetic crawler\r\n",
        {"Content-Type": "application/warc-fields"},
        rec_id_seed=f"info-{file_idx}",
    ))]
    for k in range(pages_per_file):
        pid = file_idx * pages_per_file + k
        status, mime, html = synthetic_page_html(pid)
        reason = "OK" if status == 200 else "Not Found"
        http = _warc.build_http_response(
            status, reason, mime, html.encode())
        out.append(_warc.gzip_member(_warc.build_record(
            "response", http,
            {
                "WARC-Target-URI": f"https://example.org/doc/{pid}",
                "Content-Type": "application/http; msgtype=response",
            },
            rec_id_seed=f"resp-{pid}",
        )))
    return b"".join(out)


def synthetic_warc(spark: SparkSession, n_files: int = 12,
                   pages_per_file: int = PAGES_PER_FILE) -> DataFrame:
    """Deterministic table of VALID .warc.gz payloads, one row per
    archive file — the in-memory stand-in for a binaryFile scan of a
    crawl bucket."""
    df = spark.range(0, n_files).withColumnRenamed("id", "file_idx")

    @F.pandas_udf(BinaryType())
    def _payload(fi: pd.Series) -> pd.Series:
        return pd.Series(
            [build_warc_file(int(f), pages_per_file) for f in fi])

    df = kernel_partitions(df)
    return df.select(
        "file_idx",
        F.format_string("warc-%05d", F.col("file_idx")).alias("warc_file"),
        _payload(F.col("file_idx")).alias("content"),
    )


# ---------------------------------------------------------- parsing

WARC_RECORDS_SCHEMA = StructType([
    StructField("warc_file", StringType(), False),
    StructField("rec_idx", IntegerType(), False),
    StructField("member_offset", LongType(), False),
    StructField("warc_type", StringType(), False),
    StructField("record_id", StringType(), False),
    StructField("url", StringType(), False),
    StructField("status", IntegerType(), False),
    StructField("mime", StringType(), False),
    # full Content-Type header value — the charset= parameter feeds
    # the decode cascade in extract_webtext (functions/charset.py)
    StructField("content_type", StringType(), False),
    StructField("body", BinaryType(), False),
])


def parse_warc(files: DataFrame) -> DataFrame:
    """(warc_file, content) → one row per WARC record with the HTTP
    response split out (status + body) and the compressed member
    offset (the CDX index value — what a splittable reader seeks to).
    """

    def _parse(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k.name: [] for k in WARC_RECORDS_SCHEMA}
            for fname, content in zip(
                pdf["warc_file"].to_numpy(), pdf["content"].to_numpy()
            ):
                for i, rec in enumerate(_warc.parse(bytes(content))):
                    _warc.parse_http(rec)
                    ctype = (
                        rec.http_headers.get("content-type", "")
                        if rec.warc_type == "response"
                        else rec.headers.get("Content-Type", "")
                    )
                    mime = ctype.split(";")[0]
                    rows["warc_file"].append(str(fname))
                    rows["rec_idx"].append(i)
                    rows["member_offset"].append(rec.offset)
                    rows["warc_type"].append(rec.warc_type)
                    rows["record_id"].append(
                        rec.headers.get("WARC-Record-ID", ""))
                    rows["url"].append(
                        rec.headers.get("WARC-Target-URI", ""))
                    rows["status"].append(rec.http_status)
                    rows["mime"].append(mime)
                    rows["content_type"].append(ctype)
                    rows["body"].append(
                        rec.http_body if rec.warc_type == "response"
                        else rec.payload)
            yield pd.DataFrame(rows)

    return files.mapInPandas(_parse, WARC_RECORDS_SCHEMA)


def read_warc_files(spark: SparkSession, path: str) -> DataFrame:
    """Disk surface: binaryFile scan → `parse_warc` (used by jobs and
    tests; the contract queries use the in-memory synthetic table)."""
    files = (
        spark.read.format("binaryFile").load(path)
        .select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("warc_file"),
            F.col("content"),
        )
    )
    return parse_warc(files)


WEBTEXT_SCHEMA = StructType([
    StructField("page_id", LongType(), False),
    StructField("url", StringType(), False),
    StructField("status", IntegerType(), False),
    StructField("title", StringType(), False),
    StructField("n_links", IntegerType(), False),
    StructField("n_words", IntegerType(), False),
    # decode provenance (functions/charset.py): which encoding was
    # used, which cascade stage chose it, and whether a strict decode
    # succeeded (False = replacement chars — fidelity lost)
    StructField("charset", StringType(), False),
    StructField("charset_source", StringType(), False),
    StructField("decode_ok", BooleanType(), False),
    StructField("text", StringType(), False),
])


def page_id_of(url: str) -> int:
    """Deterministic page id for a url. Numeric-tail fast path (the
    synthetic corpora put the id in the last path segment); any other
    url — i.e. essentially all real archives — gets a stable 63-bit
    MD5 surrogate instead of raising and killing the task."""
    tail = url.rsplit("/", 1)[-1]
    try:
        pid = int(tail)
        # Python ints are unbounded but the page_id column is int64 —
        # a >19-digit numeric tail (timestamp+id concatenations) must
        # take the surrogate path, not overflow the Arrow conversion
        if -(2 ** 63) <= pid < 2 ** 63:
            return pid
    except ValueError:
        pass
    h = hashlib.md5(url.encode("utf-8", "replace")).digest()
    return int.from_bytes(h[:8], "big") >> 1


def extract_webtext(records: DataFrame) -> DataFrame:
    """response records → visible text via the real HTML tokenizer:
    title, link count, word count, decode provenance, and the
    extracted text itself. script/style/comment content contributes
    nothing (the oracle's closed-form word counts would catch
    leakage). Bodies are decoded via the charset cascade
    (BOM > Content-Type header > meta prescan > UTF-8) — not blind
    UTF-8 — so windows-1252 / shift_jis / utf-16 pages survive with
    their text intact and `decode_ok` records strict-decode success.
    """
    resp = records.filter(F.col("warc_type") == "response")
    has_ct = "content_type" in resp.columns

    def _extract(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k.name: [] for k in WEBTEXT_SCHEMA}
            ctypes = (pdf["content_type"].to_numpy() if has_ct
                      else pdf["mime"].to_numpy())
            for url, status, ctype, body in zip(
                pdf["url"].to_numpy(), pdf["status"].to_numpy(),
                ctypes, pdf["body"].to_numpy(),
            ):
                text, cname, csource, ok = _charset.decode_html(
                    bytes(body), str(ctype))
                d = _htmltext.extract(text)
                rows["page_id"].append(page_id_of(str(url)))
                rows["url"].append(str(url))
                rows["status"].append(int(status))
                rows["title"].append(d["title"])
                rows["n_links"].append(len(d["links"]))
                rows["n_words"].append(d["n_words"])
                rows["charset"].append(cname)
                rows["charset_source"].append(csource)
                rows["decode_ok"].append(ok)
                rows["text"].append(d["text"])
            yield pd.DataFrame(rows)

    return resp.mapInPandas(_extract, WEBTEXT_SCHEMA)


# ------------------------------------------- multi-charset corpus

# one charset scenario per pid % 8 — each exercises a distinct stage
# (or stage-conflict) of the decode cascade; every expected fact is
# closed-form in pid so the DuckDB oracle re-derives it exactly
_CS_MARKS = {
    0: "café über",        # utf-8, declared in the header
    1: "café déjà",        # windows-1252, declared in the header
    2: "日本語 テスト",      # shift_jis, declared ONLY in <meta>
    3: "Ünïcøde",          # utf-16le BOM; header LIES (says utf-8)
    4: "“naïve”",  # header says iso-8859-1 → cp1252 rule;
                            # 0x93/0x94 curly quotes only cp1252 has;
                            # meta says utf-8 and must LOSE to header
    5: "plain ascii",      # nothing declared anywhere → default
    6: "bad�byte",    # header says utf-8, body has a raw 0xFF →
                            # strict decode fails, decode_ok=False
    7: "mystery bytes",    # header charset is bogus → fall to default
}


def charset_page(page_id: int) -> "tuple[str, bytes]":
    """Deterministic multi-charset page → (content_type, body bytes).
    The page text is ``{marker} page {page_id}`` under the variant's
    encoding; see `_CS_MARKS` for the scenario each variant covers."""
    v = page_id % 8
    meta = {2: '<meta charset="shift_jis">',
            4: '<meta charset="utf-8">'}.get(v, "")
    marker = _CS_MARKS[v] if v != 6 else "bad&byte"  # placeholder, below
    html = (f"<html><head>{meta}<title>C{page_id}</title></head>"
            f"<body><p>{marker} page {page_id}</p></body></html>")
    if v == 0:
        return "text/html; charset=utf-8", html.encode("utf-8")
    if v == 1:
        return "text/html; charset=windows-1252", html.encode("cp1252")
    if v == 2:
        return "text/html", html.encode("cp932")
    if v == 3:
        return ("text/html; charset=utf-8",
                b"\xff\xfe" + html.encode("utf-16-le"))
    if v == 4:
        return "text/html; charset=ISO-8859-1", html.encode("cp1252")
    if v == 5:
        return "text/html", html.encode("ascii")
    if v == 6:  # raw 0xFF spliced into otherwise-valid utf-8
        head, _, tail = html.partition("bad&byte")
        body = head.encode() + b"bad\xffbyte" + tail.encode()
        return "text/html; charset=utf-8", body
    return "text/html; charset=x-bogus-enc", html.encode("ascii")


def build_charset_warc_file(file_idx: int,
                            pages_per_file: int = PAGES_PER_FILE) -> bytes:
    """A valid .warc.gz whose response bodies cycle through the eight
    charset scenarios — the corpus behind the `webtext_charset`
    contract query."""
    out = []
    for k in range(pages_per_file):
        pid = file_idx * pages_per_file + k
        ctype, body = charset_page(pid)
        http = (
            f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body
        out.append(_warc.gzip_member(_warc.build_record(
            "response", http,
            {
                "WARC-Target-URI": f"https://intl.example.org/doc/{pid}",
                "Content-Type": "application/http; msgtype=response",
            },
            rec_id_seed=f"cs-{pid}",
        )))
    return b"".join(out)


def synthetic_charset_warc(spark: SparkSession, n_files: int = 8,
                           pages_per_file: int = PAGES_PER_FILE) -> DataFrame:
    """Deterministic multi-charset .warc.gz table (same shape as
    `synthetic_warc`)."""
    df = spark.range(0, n_files).withColumnRenamed("id", "file_idx")

    @F.pandas_udf(BinaryType())
    def _payload(fi: pd.Series) -> pd.Series:
        return pd.Series(
            [build_charset_warc_file(int(f), pages_per_file) for f in fi])

    df = kernel_partitions(df)
    return df.select(
        "file_idx",
        F.format_string("wcs-%05d", F.col("file_idx")).alias("warc_file"),
        _payload(F.col("file_idx")).alias("content"),
    )


# ------------------------------------------------------ geotagging

GEOTAG_SCHEMA = StructType([
    StructField("page_id", LongType(), False),
    StructField("lat", DoubleType(), False),
    StructField("lon", DoubleType(), False),
])


def _geo_values(i: int) -> "tuple[float, float]":
    """Closed-form quarter-degree coordinates for page ``i`` — every
    value is an exact binary double (multiple of 0.25), so string
    round-trips and SQL re-derivation are bit-exact."""
    lat = ((i * 37) % 641) / 4.0 - 80.0
    lon = ((i * 73) % 1361) / 4.0 - 170.0
    return lat, lon


def synthetic_geotagged_pages(spark: SparkSession,
                              n_pages: int = 500) -> DataFrame:
    """Deterministic (page_id, html) corpus where pages carry
    geographic metadata the way real web pages do: ``<meta
    name="geo.position" content="lat;lon">`` (i%3==0), the ICBM
    variant ``content="lat, lon"`` (i%3==1), or none (i%3==2). Every
    21st page (i%21==6) carries a MALFORMED geo.position that the
    extractor must skip without dropping the batch."""
    df = spark.range(0, n_pages).withColumnRenamed("id", "page_id")

    @F.pandas_udf(StringType())
    def _html(pid: pd.Series) -> pd.Series:
        out = []
        for i in pid:
            i = int(i)
            lat, lon = _geo_values(i)
            if i % 21 == 6:
                meta = '<meta name="geo.position" content="here;there">'
            elif i % 3 == 0:
                meta = f'<meta name="geo.position" content="{lat};{lon}">'
            elif i % 3 == 1:
                meta = f'<meta name="ICBM" content="{lat}, {lon}">'
            else:
                meta = ""
            out.append(
                f"<html><head><title>G{i}</title>{meta}</head>"
                f"<body><p>geo page {i}</p></body></html>"
            )
        return pd.Series(out)

    df = kernel_partitions(df)
    return df.select("page_id", _html(F.col("page_id")).alias("html"))


def geotag_points(pages: DataFrame) -> DataFrame:
    """(page_id, html) → (page_id, lat, lon) for pages carrying
    parseable geo metadata. ``geo.position`` ("lat;lon") wins over
    ``ICBM`` ("lat, lon"); unparseable content is skipped row-wise.
    Output feeds `operators/spatial.with_cells` directly — the bridge
    from the webtext axis to the H3/S2 spatial core."""

    def _geo(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"page_id": [], "lat": [], "lon": []}
            for pid, html in zip(
                pdf["page_id"].to_numpy(), pdf["html"].to_numpy()
            ):
                meta = _htmltext.extract(str(html))["meta"]
                raw = meta.get("geo.position") or meta.get("icbm")
                if not raw:
                    continue
                sep = ";" if ";" in raw else ","
                parts = raw.split(sep)
                if len(parts) != 2:
                    continue
                try:
                    lat, lon = float(parts[0]), float(parts[1])
                except ValueError:
                    continue
                rows["page_id"].append(int(pid))
                rows["lat"].append(lat)
                rows["lon"].append(lon)
            yield pd.DataFrame(rows)

    return pages.mapInPandas(_geo, GEOTAG_SCHEMA)


# ------------------------------------------- boilerplate removal

MAIN_CONTENT_SCHEMA = StructType([
    StructField("page_id", LongType(), False),
    StructField("n_blocks", IntegerType(), False),
    StructField("n_content_blocks", IntegerType(), False),
    StructField("n_words", IntegerType(), False),
    StructField("n_content_words", IntegerType(), False),
    StructField("content_text", StringType(), False),
])


def boilerplate_page_html(page_id: int) -> str:
    """Deterministic page with every boilerplate class the classifier
    must reject, around closed-form main content:

    - nav bar: ``2 + id % 3`` one-word links (chrome + link density);
    - <h1> "Doc {id} Story" — 3 words, heading rule keeps it;
    - ``2 + id % 4`` paragraphs, paragraph j carrying
      ``10 + (id + j) % 8`` words — all content;
    - a 3-word note (short rule drops it);
    - a link-farm paragraph: 4 plain words + one ``5 + id % 3``-word
      anchor (integer-exact density 3*link > n drops it);
    - a 12-word <aside> (chrome rule beats the length rule);
    - a footer with a link (chrome).
    """
    nav = " ".join(
        f'<a href="/n{k}">nav{k}</a>' for k in range(2 + page_id % 3))
    paras = []
    for j in range(2 + page_id % 4):
        words = " ".join(
            f"w{page_id}p{j}x{k}" for k in range(10 + (page_id + j) % 8))
        paras.append(f"<p>{words}</p>")
    farm_words = " ".join(f"f{k}" for k in range(5 + page_id % 3))
    aside_words = " ".join(f"s{k}" for k in range(12))
    return (
        f"<html><head><title>Doc {page_id}</title>"
        f"<script>var boiler = {page_id};</script></head>"
        f"<body><nav>{nav}</nav>"
        f"<h1>Doc {page_id} Story</h1>"
        + "".join(paras)
        + "<p>Updated today only.</p>"
        f'<p>see also here now <a href="/f">{farm_words}</a></p>'
        f"<aside><p>{aside_words}</p></aside>"
        f'<footer>Copyright site <a href="/l">legal</a></footer>'
        f"</body></html>"
    )


def synthetic_boilerplate_pages(spark: SparkSession,
                                n: int = 400) -> DataFrame:
    """(page_id, html) table of `boilerplate_page_html` pages."""
    df = spark.range(0, n).withColumnRenamed("id", "page_id")

    @F.pandas_udf(StringType())
    def _html(pid: pd.Series) -> pd.Series:
        return pd.Series([boilerplate_page_html(int(p)) for p in pid])

    return kernel_partitions(df).select(
        "page_id", _html(F.col("page_id")).alias("html"))


def extract_main_content(pages: DataFrame) -> DataFrame:
    """(page_id, html) → main-content census via the block classifier
    (`functions/htmltext.py main_content`): chrome containers, high
    link density (exact integer test), and short fragments drop;
    what remains is the text a training corpus keeps. The `main_content`
    contract oracle re-derives every count in closed-form SQL.

    Scale design: same shape as `extract_webtext` — per-page pure
    Python inside mapInPandas batches, parallel across partitions, no
    shuffle, no driver state."""

    def _mc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k.name: [] for k in MAIN_CONTENT_SCHEMA}
            for pid, html in zip(
                pdf["page_id"].to_numpy(), pdf["html"].to_numpy()
            ):
                d = _htmltext.main_content(str(html))
                rows["page_id"].append(int(pid))
                rows["n_blocks"].append(d["n_blocks"])
                rows["n_content_blocks"].append(d["n_content_blocks"])
                rows["n_words"].append(d["n_words"])
                rows["n_content_words"].append(d["n_content_words"])
                rows["content_text"].append(d["text"])
            yield pd.DataFrame(rows)

    return pages.mapInPandas(_mc, MAIN_CONTENT_SCHEMA)


# ------------------------------------------------- WET (extracted text)

def wet_page_text(page_id: int) -> str:
    """Closed-form plain-text payload of a WET ``conversion`` record:
    a title line ("Doc {id}") then one line of ``4 + id % 6`` body
    tokens — n_words = 2 + 4 + id % 6."""
    words = " ".join(f"t{page_id}x{k}" for k in range(4 + page_id % 6))
    return f"Doc {page_id}\n{words}\n"


def build_wet_file(file_idx: int,
                   pages_per_file: int = PAGES_PER_FILE) -> bytes:
    """One valid .warc.wet.gz: a warcinfo record then one
    ``conversion`` record (Content-Type text/plain, no HTTP framing —
    the Common-Crawl WET layout) per page, every record its own gzip
    member."""
    out = [_warc.gzip_member(_warc.build_record(
        "warcinfo",
        b"software: ingest-spark synthetic text extractor\r\n",
        {"Content-Type": "application/warc-fields"},
        rec_id_seed=f"wetinfo-{file_idx}",
    ))]
    for k in range(pages_per_file):
        pid = file_idx * pages_per_file + k
        out.append(_warc.gzip_member(_warc.build_record(
            "conversion",
            wet_page_text(pid).encode(),
            {
                "WARC-Target-URI": f"https://example.org/doc/{pid}",
                "Content-Type": "text/plain",
            },
            rec_id_seed=f"conv-{pid}",
        )))
    return b"".join(out)


def synthetic_wet(spark: SparkSession, n_files: int = 12,
                  pages_per_file: int = PAGES_PER_FILE) -> DataFrame:
    """Deterministic table of VALID .warc.wet.gz payloads (the
    pre-extracted-text sibling of `synthetic_warc`)."""
    df = spark.range(0, n_files).withColumnRenamed("id", "file_idx")

    @F.pandas_udf(BinaryType())
    def _payload(fi: pd.Series) -> pd.Series:
        return pd.Series(
            [build_wet_file(int(f), pages_per_file) for f in fi])

    df = kernel_partitions(df)
    return df.select(
        "file_idx",
        F.format_string("wet-%05d", F.col("file_idx")).alias("warc_file"),
        _payload(F.col("file_idx")).alias("content"),
    )


WET_SCHEMA = StructType([
    StructField("page_id", LongType(), False),
    StructField("url", StringType(), False),
    StructField("n_chars", IntegerType(), False),
    StructField("n_words", IntegerType(), False),
    StructField("text", StringType(), False),
])


def extract_wet(records: DataFrame) -> DataFrame:
    """``conversion`` records (WET — text already extracted upstream)
    → (page_id, url, n_chars, n_words, text). The payload is plain
    text, not HTML: only the charset cascade runs (BOM > header
    charset > UTF-8; there is no meta prescan hit in plain text), no
    tokenizer. Common Crawl ships WET alongside WARC; a pipeline that
    starts from WET skips the extract stage and feeds this straight
    into the token/quality/dedup layer."""
    conv = records.filter(F.col("warc_type") == "conversion")

    def _extract(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k.name: [] for k in WET_SCHEMA}
            for url, ctype, body in zip(
                pdf["url"].to_numpy(), pdf["content_type"].to_numpy(),
                pdf["body"].to_numpy(),
            ):
                text, _cn, _cs, _ok = _charset.decode_html(
                    bytes(body), str(ctype))
                rows["page_id"].append(page_id_of(str(url)))
                rows["url"].append(str(url))
                rows["n_chars"].append(len(text))
                rows["n_words"].append(len(text.split()))
                rows["text"].append(text)
            yield pd.DataFrame(rows)

    return conv.mapInPandas(_extract, WET_SCHEMA)

"""html → text / out-link extraction as Arrow-vectorized pandas UDFs.

This is the engine's ingestion front end (north rule: "extract a url->url
edge table from Common-Crawl-style web pages ... byte-identical extracted
text per url via vectorized Arrow UDFs, links parsed from html").

Both UDFs are pure functions of their inputs — no state, no randomness, no
locale dependence — so extracted text is byte-identical per url across runs,
partition counts and row orders (tested in tests/test_extract.py, mirroring
the reference's golden-output byte-compare,
`/root/reference/analytical_engine/test/app_tests.sh:115-126`).

Per the input hint, no per-row Python UDFs: these are pandas UDFs over Arrow
batches; the inner work is pandas vectorized string ops, with Python-level
iteration only for URL resolution of the (small) relative-href subset.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# --- text extraction ---------------------------------------------------------

_SCRIPT_RE = re.compile(r"(?is)<(script|style)\b.*?</\1>")
_TAG_RE = re.compile(r"(?s)<[^>]*>")
_WS_RE = re.compile(r"\s+")

_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&amp;", "&"),
             ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " ")]


@pandas_udf(T.StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """Visible text of an html document: drop script/style, strip tags,
    decode the common entities, collapse whitespace. Deterministic."""
    s = html.map(lambda b: b.decode("utf-8", errors="replace") if isinstance(b, (bytes, bytearray)) else (b or ""))
    s = s.str.replace(_SCRIPT_RE, " ", regex=True)
    s = s.str.replace(_TAG_RE, " ", regex=True)
    for ent, ch in _ENTITIES:
        s = s.str.replace(ent, ch, regex=False)
    s = s.str.replace(_WS_RE, " ", regex=True).str.strip()
    return s


# --- link extraction ---------------------------------------------------------

_HREF_RE = re.compile(r"""(?is)<a\b[^>]*?\bhref\s*=\s*["']([^"']*)["']""")


def _normalize(base: str, href: str) -> str | None:
    """Resolve href against base url; strip fragment; lowercase scheme+host;
    keep only http(s). Returns None for non-web schemes."""
    href = href.strip()
    absu = urljoin(base, href)
    parts = urlsplit(absu)
    if parts.scheme not in ("http", "https"):
        return None
    netloc = parts.netloc.lower()
    path = parts.path or "/"
    return urlunsplit((parts.scheme.lower(), netloc, path, parts.query, ""))


# Simple-absolute: http(s), no dot-segments, no embedded whitespace — the
# overwhelming majority of real hrefs; anything else falls back to urljoin.
_ABS_RE = re.compile(r"(?i)^(https?)://([^/?#\s]+)([^?#\s]*)(?:\?([^#\s]*))?(?:#\S*)?$")
_DOTSEG_RE = re.compile(r"/\.\.?(?:/|$)")
_BASE_RE = re.compile(r"(?i)^(https?)://([^/?#]*)")


@pandas_udf(T.ArrayType(T.StringType()))
def extract_links_udf(url: pd.Series, html: pd.Series) -> pd.Series:
    """Deduplicated, normalized absolute out-links per page.

    Vectorized hot path (this is the single hottest ingestion loop at
    10¹²-document scale): hrefs are pulled with one ``str.extractall`` per
    Arrow batch, then resolved class-by-class with pandas string ops —
    simple absolute http(s) URLs, root-relative paths, and fragment-only
    refs cover essentially all crawl hrefs. Only the residue (dot-segments,
    protocol-relative, exotic schemes) walks through per-row ``urljoin``,
    which keeps output byte-identical to the reference semantics
    (tests/test_invariance.py pins this)."""
    docs = html.map(
        lambda b: b.decode("utf-8", errors="replace")
        if isinstance(b, (bytes, bytearray))
        else (b or "")
    )
    docs.index = pd.RangeIndex(len(docs))
    urls = pd.Series(url.values, index=docs.index, dtype=object)
    ex = docs.str.extractall(_HREF_RE)
    n = len(docs)
    if len(ex) == 0:
        return pd.Series([[] for _ in range(n)])
    href = ex[0].str.strip()
    row = href.index.get_level_values(0)
    base = pd.Series(urls.values[row], index=href.index, dtype=object)
    resolved = pd.Series(index=href.index, dtype=object)

    # class 1: simple absolute http(s)
    parts = href.str.extract(_ABS_RE)
    is_abs = parts[0].notna() & ~href.str.contains(_DOTSEG_RE, regex=True)
    if is_abs.any():
        scheme = parts.loc[is_abs, 0].str.lower()
        host = parts.loc[is_abs, 1].str.lower()
        path = parts.loc[is_abs, 2].replace("", "/")
        query = parts.loc[is_abs, 3]
        out = scheme + "://" + host + path
        out = out.where(query.isna() | (query == ""), out + "?" + query.fillna(""))
        resolved.loc[is_abs] = out

    # base scheme/host for relative classes
    bparts = base.str.extract(_BASE_RE)
    bpre = bparts[0].str.lower() + "://" + bparts[1].str.lower()

    # class 2: root-relative path ("/p5?q#frag"), not protocol-relative
    is_root = (
        resolved.isna()
        & href.str.startswith("/")
        & ~href.str.startswith("//")
        & ~href.str.contains(_DOTSEG_RE, regex=True)
        & ~href.str.contains(r"\s", regex=True)
        & bparts[0].notna()
    )
    if is_root.any():
        pq = href.loc[is_root].str.replace(r"#.*$", "", regex=True).replace("", "/")
        resolved.loc[is_root] = bpre.loc[is_root] + pq

    # class 3: fragment-only ("#top") → the page itself, normalized
    is_frag = resolved.isna() & href.str.startswith("#") & bparts[0].notna()
    if is_frag.any():
        bp = base.loc[is_frag].str.extract(
            r"(?i)^https?://[^/?#]*([^?#]*)(?:\?([^#]*))?"
        )
        path = bp[0].replace("", "/")
        query = bp[1]
        out = bpre.loc[is_frag] + path
        out = out.where(query.isna() | (query == ""), out + "?" + query.fillna(""))
        resolved.loc[is_frag] = out

    # residue: full RFC resolution per row (rare)
    rest = resolved.isna()
    if rest.any():
        resolved.loc[rest] = [
            _normalize(b, h) for b, h in zip(base.loc[rest].values, href.loc[rest].values)
        ]

    out_lists: list[list[str]] = [[] for _ in range(n)]
    seen: list[set] = [set() for _ in range(n)]
    for r, u in zip(row, resolved.values):
        if u is not None and u not in seen[r]:
            seen[r].add(u)
            out_lists[r].append(u)
    return pd.Series(out_lists)


# --- DataFrame-level pipeline -------------------------------------------------


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → (url, warc_ts, lang, text, links).

    ``text`` is re-extracted from html (the stored column may be stale/null);
    ``links`` is an array of normalized absolute urls.
    """
    return pages.select(
        "url",
        "warc_ts",
        "lang",
        extract_text(F.col("html")).alias("text"),
        extract_links_udf(F.col("url"), F.col("html")).alias("links"),
    )


def edges_from_pages(pages: DataFrame) -> DataFrame:
    """url→url edge table: explode links, dedup. Keeps self-loops (dropped
    later where semantics require, e.g. triangles)."""
    # explode_outer, not explode: for a plain explode Spark infers the filter
    # ``size(links) > 0 AND links IS NOT NULL`` under the generator, and
    # filter pushdown copies the UDF into it, so every page would run the
    # link extractor twice (two ArrowEvalPython nodes). No filter is
    # inferred for an outer generator; the null row it emits for a page
    # without links is dropped above it, so the edge table is the same.
    return (
        extract_pages(pages)
        .select(F.col("url").alias("src_url"), F.explode_outer("links").alias("dst_url"))
        .where(F.col("dst_url").isNotNull())
        .distinct()
    )


_ANCHOR_RE = re.compile(
    r"""(?is)<a\b[^>]*?\bhref\s*=\s*["']([^"']*)["'][^>]*>(.*?)</a\s*>"""
)

_ANCHOR_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("href", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
)


@pandas_udf(_ANCHOR_SCHEMA)
def extract_anchors_udf(url: pd.Series, html: pd.Series) -> pd.Series:
    """(href, anchor_text) pairs per page — anchor text is the classic
    web-corpus relevance signal (what OTHER pages call a target). Hrefs are
    normalized exactly like ``extract_links_udf`` (same fragment-strip /
    scheme-host lowering), anchor text is tag-stripped + whitespace-
    collapsed; duplicate (href, text) pairs within a page are dropped but
    the same href with different texts is kept — that multiplicity IS the
    signal ``anchor_text_index`` aggregates. Arrow-batched; one extractall
    per batch, per-row work only on the matched anchors."""
    docs = html.map(
        lambda b: b.decode("utf-8", errors="replace")
        if isinstance(b, (bytes, bytearray))
        else (b or "")
    )
    docs.index = pd.RangeIndex(len(docs))
    urls = pd.Series(url.values, index=docs.index, dtype=object)
    ex = docs.str.extractall(_ANCHOR_RE)
    n = len(docs)
    out_lists: list[list] = [[] for _ in range(n)]
    if len(ex) == 0:
        return pd.Series(out_lists)
    href = ex[0].str.strip()
    text = (
        ex[1]
        .str.replace(_TAG_RE, " ", regex=True)
        .str.replace(_WS_RE, " ", regex=True)
        .str.strip()
    )
    row = href.index.get_level_values(0)
    base = urls.values[row]
    seen: list[set] = [set() for _ in range(n)]
    for r, b, h, t in zip(row, base, href.values, text.values):
        u = _normalize(b, h)
        if u is not None and (u, t) not in seen[r]:
            seen[r].add((u, t))
            out_lists[r].append({"href": u, "text": t})
    return pd.Series(out_lists)


def anchor_text_index(pages: DataFrame) -> DataFrame:
    """(url, anchor_texts, n_refs) — the inbound anchor-text index: for
    every TARGET url, the sorted distinct texts other pages use to link to
    it plus the total reference count. One explode + one groupBy(target)
    with map-side partial aggregation — anchor records are tiny relative to
    html, so at crawl scale this is a fraction of the extraction scan."""
    a = pages.select(
        F.explode(extract_anchors_udf(F.col("url"), F.col("html"))).alias("a")
    )
    return (
        a.groupBy(F.col("a.href").alias("url"))
        .agg(
            F.sort_array(F.collect_set("a.text")).alias("anchor_texts"),
            F.count("*").alias("n_refs"),
        )
    )


_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)"

# Tracking/session query parameters that never change page content — the
# standard strip-list of web-crawl canonicalizers (utm_* campaign tags,
# Google/Facebook/Microsoft click ids, bare ref). Anchored per-param.
_TRACKING_PARAM_RE = r"^(utm_[^=&]*|gclid|fbclid|msclkid|ref)(=|$)"
_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://"


def canonicalize_url(url) -> F.Column:
    """Canonical form of a URL column — ONE Catalyst expression tree
    (regexp_extract/replace + array ops), whole-stage codegen, no Python.

    The canonicalization every training-data web pipeline applies before
    URL-level dedup (CCNet / RefinedWeb / the reference's LDBC datagen all
    key pages on a normalized URL; reference text normalization semantics:
    `flex/interactive/examples/` page keys are pre-canonicalized):

    * scheme and host lowercased;
    * fragment (``#…``) stripped — never sent to the server;
    * default ports stripped (``:80`` for http, ``:443`` for https);
    * empty path → ``/``;
    * tracking query params removed (``utm_*``, ``gclid``, ``fbclid``,
      ``msclkid``, ``ref``) and the survivors SORTED — param order is
      semantically irrelevant, so sorting maximizes dedup recall;
    * an emptied query string drops its ``?``.

    Scale shape: pure per-row projection — no shuffle, no UDF; at 10¹² rows
    it pipelines inside whatever scan feeds it.
    """
    u = F.regexp_replace(url, r"#.*$", "")  # fragment first: may hide '?'
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    hostport = F.lower(
        F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
    )
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .otherwise(hostport)
    )
    path = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(u, r"^[^?]*\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
        )
    )
    qs = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, path, qs)


def dedup_by_canonical_url(
    pages: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """(canon_url, keeper, n_docs) — URL-level exact dedup: group pages by
    ``canonicalize_url(url)``, keep the smallest id per group (first-crawl
    wins, deterministic), count the collapsed duplicates.

    Scale shape: the canonical projection is codegen; the dedup is ONE
    hash groupBy with map-side partial min/count — the same one-shuffle
    contract as ``datapipe.dedup.exact_dedup`` (dedup.py:33), keyed on the
    canonical string. Mega-duplicated URLs skew-collapse map-side.
    """
    return (
        pages.select(
            canonicalize_url(F.col(url_col)).alias("canon_url"),
            F.col(id_col),
        )
        .groupBy("canon_url")
        .agg(
            F.min(id_col).cast("long").alias("keeper"),
            F.count("*").cast("long").alias("n_docs"),
        )
    )


def host_of(url):
    """Authority (host) of a url as a Catalyst expression — one
    regexp_extract, whole-stage codegen, no Python."""
    return F.lower(F.regexp_extract(url, _HOST_RE, 1))


def host_graph(
    edges: DataFrame, src_col: str = "src_url", dst_col: str = "dst_url"
) -> DataFrame:
    """(src_host, dst_host, n_links) — collapse the url→url edge graph to
    the HOST graph, the standard web-graph rollup (Common Crawl publishes
    exactly this artifact alongside the page graph; the reference's LDBC
    datagen demos run the same algorithms on it).

    Scale shape: one projection (two regexp_extracts, codegen) + one
    groupBy with map-side partial counts — hosts are orders of magnitude
    fewer than pages, so the post-shuffle side is tiny; per-host skew
    (mega-hosts) stays bounded because partial aggregation collapses each
    partition's contribution to one row per host pair before the shuffle.
    The output is itself a weighted LinkGraph-ready edge list: hash the
    host strings (xxhash64) to vids and any analytical app runs on it.
    """
    return (
        edges.select(
            host_of(F.col(src_col)).alias("src_host"),
            host_of(F.col(dst_col)).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )

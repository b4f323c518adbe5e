"""Text hygiene: Unicode normalization and compressibility signals.

Two curation steps Spark's native function library genuinely cannot
express, so both run as Arrow-batched ``mapInPandas`` (the sanctioned
slow path — never row-at-a-time Python UDFs):

* **Unicode normalization** (``normalize_text``): NFC/NFKC via the
  stdlib ``unicodedata`` — the standard first step before hashing or
  dedup (the same text in composed vs decomposed form would otherwise
  produce different digests), plus optional control-character
  stripping. Spark SQL has no normalization builtin.
* **Compressibility** (``compression_signals``): per-document zlib
  ratio — the classic cheap junk detector (public precedent: the
  C4/Gopher-era curation stacks and web-spam literature use gzip
  compressibility to flag boilerplate and generated sludge). Highly
  compressible documents are repetitive/templated; incompressible ones
  are often binary-in-text or encrypted junk. Both tails get gated.

Determinism: zlib with a FIXED level and strategy is deterministic for
a given input on every platform this engine targets (the DEFLATE
stream is produced by the same zlib algorithm; the pure-Python oracle
in tests replicates byte counts exactly). Scale shape: both operators
are stateless per-row transforms — partition-preserving, no shuffle,
blobs/text never leave their partition.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_hadoop_spark.functions.rank import _literal, _quote

__all__ = [
    "normalize_text",
    "compression_signals",
    "dedup_lines",
    "strip_html",
    "extract_urls",
    "domain_counts",
    "URL_PATTERN",
]

#: Control characters stripped by ``strip_control`` — C0/C1 minus the
#: whitespace the tokenizer is specified over (tab, LF, CR).
_CONTROL = "".join(
    chr(c)
    for c in list(range(0x00, 0x20)) + [0x7F] + list(range(0x80, 0xA0))
    if chr(c) not in "\t\n\r"
)

COMPRESSION_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("n_deflate_bytes", T.LongType(), True),
        T.StructField("compression_ratio", T.DoubleType(), True),
    ]
)


def normalize_text(
    df: DataFrame,
    form: str = "NFKC",
    strip_control: bool = True,
    text_col: str = "text",
) -> DataFrame:
    """Return ``df`` with ``text_col`` Unicode-normalized in place.

    ``form`` is any ``unicodedata.normalize`` form (NFC/NFKC/NFD/NFKD);
    ``strip_control`` removes C0/C1 control characters except
    tab/newline/carriage-return. All other columns pass through
    untouched (the transform runs on the full row batch, preserving
    column order)."""
    import pandas as pd  # noqa: F401  (worker-side import)

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    cols = df.columns
    table = {ord(c): None for c in _CONTROL} if strip_control else None

    def _norm(batches):
        import unicodedata

        for pdf in batches:
            out = pdf.copy()
            texts = out[text_col]

            def fix(t):
                if t is None:
                    return None
                t = unicodedata.normalize(form, t)
                return t.translate(table) if table is not None else t

            out[text_col] = texts.map(fix)
            yield out

    return df.mapInPandas(_norm, schema=df.schema).select(*cols)


def compression_signals(
    df: DataFrame,
    level: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(doc_id, n_bytes, n_deflate_bytes, compression_ratio)`` per
    document: UTF-8 byte length, zlib-deflated length at ``level``, and
    their ratio (deflated/raw — LOW means repetitive/templated, HIGH
    means incompressible junk). Empty documents yield ratio NULL."""
    if not (0 <= level <= 9):
        raise ValueError(f"zlib level must be 0..9, got {level}")

    def _sig(batches: Iterator) -> Iterator:
        import zlib

        import pandas as pd

        for pdf in batches:
            rows = []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                raw = (t or "").encode("utf-8")
                n = len(raw)
                z = len(zlib.compress(raw, level)) if n else 0
                rows.append((did, n, z, (z / n) if n else None))
            yield pd.DataFrame(
                rows, columns=[f.name for f in COMPRESSION_SCHEMA]
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _sig, schema=COMPRESSION_SCHEMA
    )


# Self-contained executor serialization (see operators/multimodal.py):
# by-value pickling lets drivers launched outside the repo run these
# closures without shipping the package to executor Python workers.
import sys as _sys

try:  # pragma: no cover - vendored cloudpickle without the API
    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except (ImportError, AttributeError):
    pass


def dedup_lines(
    docs: DataFrame,
    max_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document LINE-level deduplication — the CCNet/RefinedWeb
    boilerplate step (public): drop every line whose trimmed form occurs
    in MORE than ``max_df`` distinct documents (nav bars, cookie
    banners, "subscribe" footers — template text that survives
    document-level dedup because each page differs elsewhere). Returns
    ``(id_col, text, n_lines, n_dropped)`` with the surviving lines
    rejoined in original order; empty/whitespace-only lines carry no
    content signal and are kept as structure.

    Purely declarative — split/posexplode, one distinct-df aggregate on
    the line DIGEST (md5 — lines never shuffle twice), a hash join back,
    and an order-restoring array_sort rollup. 100 TB shape: two
    shuffles keyed by line hash (df count + join; both combine
    map-side) and one keyed by document (rebuild); no driver state, no
    Python. Skew note: the hottest boilerplate line is exactly the row
    the df-count compacts map-side, so hot lines cost one row per map
    task, not a hot reduce partition.
    """
    if max_df < 1:
        raise ValueError(f"max_df must be >= 1, got {max_df}")
    # posexplode_OUTER: a NULL-text document must survive as one row
    # with text NULL, not vanish from the output (review finding —
    # plain posexplode of a NULL array yields zero rows and the doc
    # silently disappeared).
    key, text = _quote(id_col), _quote(text_col)
    lines = docs.selectExpr(
        key,
        f"{text} IS NULL AS _null_text",
        f"posexplode_outer(split({text}, '\\n')) AS (pos, line)",
    ).selectExpr("*", "CASE WHEN trim(line) != '' THEN md5(trim(line)) END AS key")
    dfc = (
        lines.where("key IS NOT NULL")
        .groupBy("key")
        .agg(F.expr(f"count(DISTINCT {key}) AS _df"))
        .where(f"_df > {int(max_df)}")
        .selectExpr("key", "true AS _drop")
    )
    kept = lines.join(dfc, "key", "left").withColumn(
        "_drop", F.expr("coalesce(_drop, false)")
    )
    return (
        kept.groupBy(key)
        .agg(
            F.expr("count(line) AS n_lines"),  # 0 for a NULL-text doc
            F.expr("sum(CAST(_drop AS BIGINT)) AS n_dropped"),
            F.expr(
                "CASE WHEN NOT first(_null_text) THEN concat_ws('\\n', "
                "transform(array_sort(collect_list(CASE WHEN NOT _drop THEN "
                "struct(pos, line) END)), s -> s.line)) END"
            ).alias(text_col),
        )
        .select(key, text, "n_lines", "n_dropped")
    )


def strip_html(col: Column) -> Column:
    """Declarative HTML-to-text for web curation: drop
    ``<script>``/``<style>`` blocks wholesale (their text is code, not
    prose), replace block-level closes/breaks with newlines, strip the
    remaining tags and HTML comments, decode the named+numeric entities
    that matter for tokenization, and collapse the whitespace the
    removals leave behind. A chain of ``regexp_replace`` — JVM-side,
    whole-stage-codegen'd, no Python; the right 80% solution for tag
    soup at corpus scale (a DOM parser is neither available in this
    environment nor parallelizable as cheaply).

    Not a sanitizer: malformed nesting degrades gracefully to over- or
    under-stripping text, never to an error."""
    c = F.regexp_replace(
        col, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " "
    )
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(
        c, r"(?i)</(p|div|h[1-6]|li|tr|table|blockquote)\s*>|<br\s*/?>", "\n"
    )
    c = F.regexp_replace(c, r"(?s)<[^>]+>", " ")
    # &amp; must decode LAST: '&amp;lt;' is the literal string '&lt;'
    # on the rendered page, and decoding &amp; first would double-decode
    # it into '<' (review finding).
    for ent, rep in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"), ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.regexp_replace(c, r"[ \t\x0b\f\r]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    return F.btrim(c, F.lit(" \t\n\r"))


#: URL recognizer shared by extraction and the PII scrubber's precedent:
#: scheme required, host mandatory (dot-separated labels — a trailing
#: sentence period is NOT part of the host), path/query optional with
#: trailing punctuation excluded.
URL_PATTERN = (
    r"(?i:https?)://[\w-]+(?:\.[\w-]+)*(?::\d+)?"
    r"(?:/[^\s\"'<>]*[^\s\"'<>.,;:!?)]|/)?"
)


def extract_urls(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(id_col, url, domain)`` — one row per URL occurrence in each
    document, with the registrable-ish domain (host lowercased, port
    stripped). The provenance primitive: join the result with
    ``cap_per_group(group_col="domain")`` or blocklist filters to get
    the per-domain controls of web curation stacks. Narrow
    extract+explode, no shuffle."""
    return (
        docs.select(
            F.col(_quote(id_col)),
            F.explode(
                F.regexp_extract_all(
                    F.col(_quote(text_col)), F.lit(URL_PATTERN), 0
                )
            ).alias("url"),
        )
        .withColumn(
            "domain",
            F.lower(
                F.regexp_extract(
                    F.col("url"), r"^(?i:https?)://([\w-]+(?:\.[\w-]+)*)", 1
                )
            ),
        )
    )


def domain_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-domain link statistics over the corpus: occurrences and
    distinct linking documents. One extract pass + one aggregate keyed
    by domain (combines map-side)."""
    u = extract_urls(docs, id_col=id_col, text_col=text_col)
    return u.groupBy("domain").agg(
        F.count("*").alias("n_links"),
        F.count_distinct(F.col(_quote(id_col))).alias("n_docs"),
    )


#: Query parameters that identify a CLICK, not a RESOURCE — the
#: tracking families every web-curation pipeline strips before URL
#: dedup (utm_* is the Google Analytics convention; the rest are the
#: major platforms' click ids).
#: Case-insensitive (mailers emit UTM_Source=) and the "=" is optional
#: (bare ?fbclid decorations occur). `ref` is NOT here: on major sites
#: it selects content (a branch, a section) — stripping it would merge
#: genuinely different pages; only Twitter's `ref_src` is safely
#: tracking-only (review finding).
_TRACKING_PARAM_RE = (
    r"(?i)^(?:utm_[a-z]+|fbclid|gclid|gclsrc|dclid|msclkid|mc_eid|"
    r"igshid|ref_src|spm|_ga)(?:=|$)"
)
_SCHEME_RE = r"^([A-Za-z][\w+.-]*)://"
_HOSTPORT_RE = r"^[A-Za-z][\w+.-]*://([^/?#]*)"
_REST_RE = r"^[A-Za-z][\w+.-]*://[^/?#]*([^#]*)"
_QUERY_RE = r"\?(.*)$"


def canonical_url(url_col: str) -> Column:
    """Canonical form of the URL in the column NAMED ``url_col`` for
    dedup/aggregation, parsed from one SQL string of native expressions
    (no UDF): lowercase scheme and host, strip the
    fragment, strip default ports (``:80`` for http, ``:443`` for
    https), drop tracking query parameters (``utm_*``, ``fbclid``,
    ``gclid``, ...), SORT the surviving parameters (param order is
    non-semantic), drop a now-empty query, and normalize an empty path
    to ``/``. The same page reached from a newsletter, a social share,
    and a search ad collapses to one key — without this, URL-keyed
    dedup at crawl scale undercounts duplicates by exactly the
    tracking-decoration rate. Non-URL-shaped strings pass through
    unchanged (NULL in, NULL out)."""
    url = _quote(url_col)
    no_frag = f"regexp_replace({url}, '#.*$', '')"
    scheme = f"lower(regexp_extract({no_frag}, {_literal(_SCHEME_RE)}, 1))"
    hostport = f"regexp_extract({no_frag}, {_literal(_HOSTPORT_RE)}, 1)"
    # strip only the port that is DEFAULT for the scheme —
    # scheme-mismatched ports (https://x:80) are preserved as-is
    host = (
        f"CASE WHEN {scheme} = 'http' AND endswith(lower({hostport}), ':80') "
        f"THEN lower(regexp_replace({hostport}, ':80$', '')) "
        f"WHEN {scheme} = 'https' AND endswith(lower({hostport}), ':443') "
        f"THEN lower(regexp_replace({hostport}, ':443$', '')) "
        f"ELSE lower({hostport}) END"
    )
    rest = f"regexp_extract({no_frag}, {_literal(_REST_RE)}, 1)"
    path = f"regexp_extract({rest}, '^([^?]*)', 1)"
    query = (
        f"CASE WHEN contains({rest}, '?') THEN "
        f"regexp_extract({rest}, {_literal(_QUERY_RE)}, 1) ELSE '' END"
    )
    params = (
        f"filter(split({query}, '&'), "
        f"p -> p != '' AND NOT p RLIKE {_literal(_TRACKING_PARAM_RE)})"
    )
    qs = f"array_join(array_sort({params}), '&')"
    canon = (
        f"concat({scheme}, '://', {host}, "
        f"CASE WHEN {path} = '' THEN '/' ELSE {path} END, "
        f"CASE WHEN {qs} = '' THEN '' ELSE concat('?', {qs}) END)"
    )
    return F.expr(f"CASE WHEN {scheme} = '' THEN {url} ELSE {canon} END")


def canonical_urls(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """:func:`extract_urls` + :func:`canonical_url`: one row per URL
    occurrence with its canonical form — the input to URL-keyed dedup
    and to honest per-domain/per-page frequency counts."""
    u = extract_urls(docs, id_col=id_col, text_col=text_col)
    return u.withColumn("canonical", canonical_url("url"))

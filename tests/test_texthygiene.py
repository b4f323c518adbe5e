"""Text hygiene (``operators.texthygiene``): normalization against
stdlib ``unicodedata`` directly, compression signals against a zlib
replication, and schema/pass-through invariants."""

from __future__ import annotations

import unicodedata
import zlib

import pytest

from pyspark.sql import functions as F

from big_data_hadoop_spark.operators.texthygiene import (
    compression_signals,
    normalize_text,
)
from big_data_hadoop_spark.sources.io import load_table

SF = "/root/testdata/sf0.001"


def test_normalize_nfkc_and_control_strip(spark):
    rows = [
        (1, "café ﬁne"),          # combining acute + fi ligature
        (2, "a\x00b\x07c\td\ne"),            # NUL/BEL stripped, tab/LF kept
        (3, None),
        (4, "① ½"),                # circled one, vulgar half
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in normalize_text(df).collect()}
    assert got[1] == unicodedata.normalize("NFKC", rows[0][1])
    assert got[1] == "café fine"
    assert got[2] == "abc\td\ne"
    assert got[3] is None
    assert got[4] == unicodedata.normalize("NFKC", rows[3][1])
    with pytest.raises(ValueError):
        normalize_text(df, form="NFX")


def test_normalize_preserves_other_columns_and_schema(spark):
    docs = load_table(spark, SF, "documents")
    out = normalize_text(docs, form="NFC", strip_control=False)
    assert out.columns == docs.columns
    assert out.count() == docs.count()
    # NFC on already-clean ASCII-ish text is identity
    a = {r["doc_id"]: r["text"] for r in docs.collect()}
    b = {r["doc_id"]: r["text"] for r in out.collect()}
    assert a == b


def test_compression_signals_match_zlib(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    got = {
        r["doc_id"]: (r["n_bytes"], r["n_deflate_bytes"], r["compression_ratio"])
        for r in compression_signals(docs).collect()
    }
    for r in docs.collect():
        raw = r["text"].encode("utf-8")
        z = len(zlib.compress(raw, 6))
        nb, nz, ratio = got[r["doc_id"]]
        assert (nb, nz) == (len(raw), z)
        assert ratio == pytest.approx(z / len(raw))


def test_compression_signals_flag_both_tails(spark):
    import os

    junk = "".join(chr(33 + (b % 90)) for b in os.urandom(4000))
    rows = [
        (1, "spam " * 1000),   # templated -> highly compressible
        (2, junk),             # random -> incompressible
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["compression_ratio"] for r in compression_signals(df).collect()}
    assert got[1] < 0.05
    assert got[2] > 0.7
    assert got[3] is None
    with pytest.raises(ValueError):
        compression_signals(df, level=11)


def _boiler_docs(spark):
    boiler = "Subscribe to our newsletter"
    cookie = "This site uses cookies"
    rows = [
        (1, f"unique alpha\n{boiler}\n{cookie}\nmore alpha text"),
        (2, f"{boiler}\nbeta body line\n{cookie}"),
        (3, f"gamma start\n{boiler}\n\n{cookie}  \ngamma end"),
        (4, f"{boiler}\n{cookie}"),                      # all boilerplate
        (5, "delta only original content"),
        (6, f"epsilon text\n{boiler}"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_lines_drops_cross_document_boilerplate(spark):
    from big_data_hadoop_spark.operators.texthygiene import dedup_lines

    out = {r.doc_id: r for r in dedup_lines(_boiler_docs(spark), max_df=2).collect()}
    assert out[1].text == "unique alpha\nmore alpha text"
    assert out[1].n_dropped == 2 and out[1].n_lines == 4
    assert out[2].text == "beta body line"
    # empty line and trailing-space line: trim matches the cookie banner
    assert out[3].text == "gamma start\n\ngamma end"
    assert out[4].text == "" and out[4].n_dropped == 2
    assert out[5].text == "delta only original content"
    assert out[5].n_dropped == 0
    assert out[6].text == "epsilon text"


def test_dedup_lines_max_df_boundary(spark):
    """A line in exactly max_df documents survives; max_df+1 dies."""
    from big_data_hadoop_spark.operators.texthygiene import dedup_lines

    docs = _boiler_docs(spark)
    # boiler appears in 5 docs, cookie in 4
    out5 = {r.doc_id: r.text for r in dedup_lines(docs, max_df=5).collect()}
    assert "Subscribe to our newsletter" in out5[1]
    assert "This site uses cookies" in out5[1]
    out4 = {r.doc_id: r.text for r in dedup_lines(docs, max_df=4).collect()}
    assert "Subscribe to our newsletter" not in out4[1]
    assert "This site uses cookies" in out4[1]


def test_dedup_lines_repeated_within_one_doc_not_dropped(spark):
    """df counts DISTINCT documents: a line repeated 10x inside one doc
    is that document's own repetition (repetition_signals' job), not
    cross-document boilerplate."""
    from big_data_hadoop_spark.operators.texthygiene import dedup_lines

    docs = spark.createDataFrame(
        [(1, "\n".join(["same line"] * 10))], "doc_id long, text string"
    )
    row = dedup_lines(docs, max_df=1).collect()[0]
    assert row.n_dropped == 0 and row.text.count("same line") == 10


def test_dedup_lines_matches_duckdb(spark):
    import duckdb

    from big_data_hadoop_spark.operators.texthygiene import dedup_lines

    docs = _boiler_docs(spark)
    pdf = docs.toPandas()
    con = duckdb.connect()
    con.register("docs", pdf)
    want = {
        (r[0], r[1], r[2], r[3])
        for r in con.sql(
            """
        WITH s AS (
          SELECT doc_id, string_split(text, chr(10)) AS ls FROM docs
        ), l AS (
          SELECT doc_id, g.pos, ls[g.pos + 1] AS line,
                 CASE WHEN trim(ls[g.pos + 1]) != ''
                      THEN md5(trim(ls[g.pos + 1])) END AS key
          FROM s, LATERAL (SELECT unnest(generate_series(0, len(ls) - 1))
                           AS pos) g
        ), dfc AS (
          SELECT key FROM l WHERE key IS NOT NULL
          GROUP BY key HAVING COUNT(DISTINCT doc_id) > 2
        )
        SELECT l.doc_id,
               COALESCE(string_agg(CASE WHEN dfc.key IS NULL THEN l.line END,
                                   chr(10) ORDER BY l.pos), '') AS text,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN dfc.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dropped
        FROM l LEFT JOIN dfc ON l.key = dfc.key
        GROUP BY l.doc_id
        """
        ).fetchall()
    }
    got = {
        (r.doc_id, r.text, r.n_lines, r.n_dropped)
        for r in dedup_lines(docs, max_df=2).collect()
    }
    assert got == want
    con.close()


def test_dedup_lines_rejects_bad_max_df(spark):
    import pytest as _pytest

    from big_data_hadoop_spark.operators.texthygiene import dedup_lines

    with _pytest.raises(ValueError):
        dedup_lines(_boiler_docs(spark), max_df=0)


def test_strip_html_basic(spark):
    from pyspark.sql import functions as F

    from big_data_hadoop_spark.operators.texthygiene import strip_html

    html = (
        "<html><head><style>body{color:red}</style>"
        "<script>var x = '<p>not text</p>';</script></head>"
        "<body><!-- comment --><h1>Title</h1>"
        "<p>First &amp; second &lt;para&gt;.</p>"
        "<div>Item one<br>Item two</div>"
        "<p>Tail&nbsp;text &#39;quoted&#39;</p></body></html>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, text string")
    out = df.select(strip_html(F.col("text")).alias("t")).collect()[0].t
    assert out == (
        "Title\nFirst & second <para>.\nItem one\nItem two\n"
        "Tail text 'quoted'"
    )


def test_strip_html_plain_text_unchanged(spark):
    from pyspark.sql import functions as F

    from big_data_hadoop_spark.operators.texthygiene import strip_html

    df = spark.createDataFrame(
        [(1, "no markup here, just 2 < 3 words")],
        "doc_id long, text string",
    )
    out = df.select(strip_html(F.col("text")).alias("t")).collect()[0].t
    # "< 3 words" is not a tag (no matching >)... but the tag regex is
    # greedy-safe: "< 3" contains a space and no closing > until end
    assert "no markup here" in out


def test_extract_urls_and_domains(spark):
    from big_data_hadoop_spark.operators.texthygiene import (
        domain_counts,
        extract_urls,
    )

    docs = spark.createDataFrame(
        [
            (1, "see https://Example.COM/a/b?q=1 and http://other.org."),
            (2, "again https://example.com/x, plus https://example.com/x"),
            (3, "no links at all"),
        ],
        "doc_id long, text string",
    )
    urls = extract_urls(docs).collect()
    got = {(r.doc_id, r.url, r.domain) for r in urls}
    assert (1, "https://Example.COM/a/b?q=1", "example.com") in got
    # trailing sentence period excluded
    assert (1, "http://other.org", "other.org") in got
    assert len([r for r in urls if r.doc_id == 2]) == 2

    dc = {r.domain: (r.n_links, r.n_docs) for r in domain_counts(docs).collect()}
    assert dc["example.com"] == (3, 2)
    assert dc["other.org"] == (1, 1)


def test_extract_urls_matches_duckdb(spark):
    import duckdb

    from big_data_hadoop_spark.operators.texthygiene import (
        URL_PATTERN,
        extract_urls,
    )

    docs = spark.createDataFrame(
        [
            (1, "a https://x.io/p and https://y.net/q?a=b#f end"),
            (2, "bare host http://z.dev and dup https://x.io/p"),
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_id, r.url) for r in extract_urls(docs).collect()}
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    # the pattern contains a quote char: bind it, don't inline it
    want = {
        (r[0], r[1])
        for r in con.execute(
            "SELECT doc_id, unnest(regexp_extract_all(text, ?)) AS url "
            "FROM docs",
            [URL_PATTERN],
        ).fetchall()
    }
    assert got == want and len(got) == 4
    con.close()


def test_strip_html_escaped_entities_not_double_decoded(spark):
    """'&amp;lt;' renders as the literal string '&lt;' — decoding &amp;
    last must not turn it into '<' (review finding)."""
    from pyspark.sql import functions as F

    from big_data_hadoop_spark.operators.texthygiene import strip_html

    df = spark.createDataFrame(
        [(1, "<p>Write &amp;lt;div&amp;gt; for a literal tag</p>")],
        "doc_id long, text string",
    )
    out = df.select(strip_html(F.col("text")).alias("t")).collect()[0].t
    assert out == "Write &lt;div&gt; for a literal tag"


def test_dedup_lines_preserves_null_text_doc(spark):
    """A NULL-text document must survive with text NULL, 0 lines
    (review finding: posexplode dropped it entirely)."""
    from big_data_hadoop_spark.operators.texthygiene import dedup_lines

    docs = spark.createDataFrame(
        [(1, "real\ncontent"), (2, None), (3, "real\nother")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_lines(docs, max_df=1).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2].text is None
    assert out[2].n_lines == 0 and out[2].n_dropped == 0
    assert out[1].text == "content" and out[1].n_dropped == 1  # 'real' df=2


def test_extract_urls_uppercase_scheme(spark):
    from big_data_hadoop_spark.operators.texthygiene import extract_urls

    docs = spark.createDataFrame(
        [(1, "Visit HTTP://EXAMPLE.COM/Page and HtTpS://Mixed.Io/x")],
        "doc_id long, text string",
    )
    got = {(r.url, r.domain) for r in extract_urls(docs).collect()}
    assert ("HTTP://EXAMPLE.COM/Page", "example.com") in got
    assert ("HtTpS://Mixed.Io/x", "mixed.io") in got


# ---------------------------------------------------------- canonical URLs


def test_canonical_url_golden(spark):
    """Golden canonicalization pairs: scheme/host case, fragments,
    default ports, tracking params, param sorting, empty paths."""
    from big_data_hadoop_spark.operators.texthygiene import canonical_url

    cases = [
        ("HTTP://Example.COM", "http://example.com/"),
        ("http://example.com:80/a", "http://example.com/a"),
        ("https://example.com:443/a", "https://example.com/a"),
        ("https://example.com:8443/a", "https://example.com:8443/a"),
        # https with port 80 is NOT default — preserved
        ("https://example.com:80/a", "https://example.com:80/a"),
        ("http://a.com/p#frag", "http://a.com/p"),
        (
            "http://a.com/p?utm_source=x&utm_campaign=y",
            "http://a.com/p",
        ),
        (
            "http://a.com/p?b=2&a=1&fbclid=XYZ",
            "http://a.com/p?a=1&b=2",
        ),
        (
            "http://a.com/p?gclid=1&keep=yes&ref_src=twsrc",
            "http://a.com/p?keep=yes",
        ),
        # `ref` is SEMANTIC (selects content on major sites) — kept
        (
            "http://a.com/raw/README.md?ref=main",
            "http://a.com/raw/README.md?ref=main",
        ),
        # case-insensitive tracking match; valueless decorations strip
        ("http://a.com/p?UTM_Source=mail", "http://a.com/p"),
        ("http://a.com/p?fbclid", "http://a.com/p"),
        ("http://a.com?x=1", "http://a.com/?x=1"),
        ("not a url", "not a url"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    got = {
        r.i: r.c
        for r in df.select("i", canonical_url("url").alias("c")).collect()
    }
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, f"{u!r}: {got[i]!r} != {want!r}"


def test_canonical_urls_collapses_tracking_variants(spark):
    from big_data_hadoop_spark.operators.texthygiene import canonical_urls

    docs = spark.createDataFrame(
        [
            (1, "see http://news.example.com/story?utm_source=mail today"),
            (2, "see HTTP://news.Example.com/story?utm_medium=social now"),
            (3, "see http://news.example.com/story#comments too"),
        ],
        "doc_id long, text string",
    )
    out = canonical_urls(docs)
    assert out.select("canonical").distinct().count() == 1
    assert (
        out.select("canonical").first()[0]
        == "http://news.example.com/story"
    )

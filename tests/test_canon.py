import pandas as pd
import pytest

from pegasus_spark.canon import canonicalize_one, host_of, resolve_canonicalize

BASE = "http://h3.example/p/17"

TABLE = [
    # (href, expected)
    ("http://h5.example/p/9", "http://h5.example/p/9"),
    ("HTTP://H5.EXAMPLE/p/9", "http://h5.example/p/9"),
    ("http://h5.example:80/p/9", "http://h5.example/p/9"),
    ("https://h5.example:443/p/9", "https://h5.example/p/9"),
    ("http://h5.example:8080/p/9", "http://h5.example:8080/p/9"),
    ("http://h5.example/p/9#frag", "http://h5.example/p/9"),
    ("http://h5.example/p/9?q=1#frag", "http://h5.example/p/9?q=1"),
    ("/p/9", "http://h3.example/p/9"),
    ("../p/9", "http://h3.example/p/9"),
    ("9", "http://h3.example/p/9"),
    ("./9", "http://h3.example/p/9"),
    ("http://h5.example", "http://h5.example/"),
    ("http://h5.example/a/./b/../c", "http://h5.example/a/c"),
    ("http://h5.example/../../x", "http://h5.example/x"),
    ("  http://h5.example/p/9  ", "http://h5.example/p/9"),
    ("//h5.example/p/9", "http://h5.example/p/9"),
]

NON_CRAWLABLE = ["javascript:alert(1)", "mailto:a@b.c", "data:text/plain,x", "http://", "", "#frag"]


@pytest.mark.parametrize("href,expected", TABLE)
def test_canonicalize_table(href, expected):
    assert canonicalize_one(BASE, href) == expected


def test_vectorized_matches_scalar():
    hrefs = pd.Series([h for h, _ in TABLE])
    bases = pd.Series([BASE] * len(TABLE))
    out = resolve_canonicalize(bases, hrefs)
    assert list(out) == [e for _, e in TABLE]


def test_non_crawlable_hrefs_are_na():
    out = resolve_canonicalize(
        pd.Series([BASE] * len(NON_CRAWLABLE)), pd.Series(NON_CRAWLABLE)
    )
    assert out.isna().all()


def test_host_of():
    s = pd.Series(["http://h3.example/p/1", "https://x.y:8080/z", "http://h0.example/"])
    assert list(host_of(s)) == ["h3.example", "x.y", "h0.example"]


def test_idempotent():
    for href, expected in TABLE:
        assert canonicalize_one(expected, expected) == expected


def test_chunked_canon_udf_matches_resolve_canonicalize(spark):
    """The canon UDF merges small Arrow batches into chunks of up to
    CANON_CHUNK_ROWS rows per resolve_canonicalize call; across several
    partitions, each with more rows than one chunk and fed as 64-row
    batches, every row must still get its own href's canonical form."""
    from pegasus_spark.round import CANON_CHUNK_ROWS, canonicalize_links

    hrefs = [h for h, _ in TABLE] + NON_CRAWLABLE + [
        None, "   ", "  /p/3  ", "/a/./b/../c", "../../x", "HTTP://H1.EXAMPLE:80/p/1#top",
        "http://h1.example/p/../p/2", "https://H2.example:443/q?x=1", "http://h2.example:8443/r",
    ]
    # the fixture generator's out-link and seed surface forms
    for t in range(40):
        th = f"h{t % 5}.example"
        hrefs += [f"http://{th.upper()}/p/{t}", f"http://{th}:80/p/{t}",
                  f"http://{th}/p/{t}#frag{t}", f"../p/{t}", f"/p/{t}", f"http://{th}/p/{t}",
                  f"http://{th.upper()}:80/p/{t}#top", f"http://{th}/p/../p/{t}"]
    bases = [BASE, "http://h1.example/a/b/c", "https://h2.example/", "http://h4.example/p/"]
    n_parts = 3
    n = n_parts * (CANON_CHUNK_ROWS + CANON_CHUNK_ROWS // 2 + 7)
    pdf = pd.DataFrame({
        "rid": range(n),
        "base_url": [bases[i % len(bases)] for i in range(n)],
        "href": [hrefs[i % len(hrefs)] for i in range(n)],
    })
    expected = resolve_canonicalize(pdf.base_url, pdf.href)
    want = {int(r): u for r, u in zip(pdf.rid, expected) if not pd.isna(u)}
    assert 0 < len(want) < n  # some rows are dropped as non-crawlable

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        df = spark.createDataFrame(pdf, "rid long, base_url string, href string") \
            .repartitionByRange(n_parts, "rid")
        assert df.rdd.getNumPartitions() == n_parts
        got = {r["rid"]: r["url"]
               for r in canonicalize_links(df).select("rid", "url").collect()}
    finally:
        spark.conf.set(key, old)
    assert got == want

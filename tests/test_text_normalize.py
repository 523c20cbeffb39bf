"""Unicode/text normalization chain: control strip -> NFC -> mojibake
repair -> NFC -> whitespace collapse. Pins (a) exact agreement of the pandas NFC
step with DuckDB's nfc_normalize (the oracle's normalizer), (b) chain
semantics on hand-built edge cases vs an independent Python reference,
(c) the no-shuffle plan shape of the JVM-only variant."""

import re
import unicodedata

import duckdb
import pytest
from pyspark.sql import functions as F

from go_streams_spark.functions import text as T


def _ref_chain(t: str) -> str:
    """Independent Python reference of the full cleaning chain."""
    t = t.replace("\r\n", "\n")
    t = re.sub("[\x00-\x08\x0b-\x1f\x7f\x80-\x9f]", "", t)
    t = unicodedata.normalize("NFC", t)
    for bad, good in T.MOJIBAKE_TABLE:
        t = t.replace(bad, good)
    t = unicodedata.normalize("NFC", t)
    t = re.sub("[ \t]+", " ", t)
    t = re.sub(" ?\n ?", "\n", t)
    t = re.sub("\n{3,}", "\n\n", t)
    return t.strip()


EDGE_CASES = [
    "",                                      # empty survives as empty
    "   \t  ",                               # whitespace-only -> empty
    "\x00\x01\x1f\x7f\x9f",                  # controls-only -> empty
    "plain ascii text",
    "already  spaced\ttabbed",
    "Café composed?",                  # NFC composes e + U+0301
    "Ã© and Ã¼",         # 2-byte mojibake
    "itâ€™s here",            # 3-byte mojibake (U+2019)
    "aÂ b",                        # nbsp mojibake
    "line1\r\nline2\rline3",                 # CRLF vs bare CR
    "p1\n\n\n\n\np2",                        # newline-run collapse
    " lead \n trail \n\n mixed  runs ",
    "â€™",                    # mojibake-only string
    "unicode: İstanbul Ａwide",     # NFKC-only stuff must survive
    "A\u0303\u00a9",                        # NFC composes mojibake Ã©
    "\u00c3\u00bc\u0301",                  # repaired ü composes with U+0301
]


def test_chain_matches_reference(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(EDGE_CASES)],
                               "i int, t string")
    got = {r["i"]: r["c"] for r in
           df.select("i", T.normalize_text("t").alias("c")).collect()}
    for i, s in enumerate(EDGE_CASES):
        assert got[i] == _ref_chain(s), f"case {i}: {s!r}"


def test_nfc_matches_duckdb(spark):
    """The pandas NFC -> repair -> NFC step must agree byte-for-byte
    with the same chain over DuckDB's nfc_normalize — this equivalence
    is what makes the oracle exact."""
    cases = ["Café", "Å", "Ａ", "ĲJ", "é́",
             "½ already-NFC", "mixed Café and café",
             "A\u0303\u00a9", "\u00c3\u00bc\u0301"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)],
                               "i int, t string")
    got = {r["i"]: r["c"] for r in
           df.select("i", T._nfc_repair_nfc(F.col("t")).alias("c")).collect()}
    sql = "nfc_normalize(?)"
    for bad, good in T.MOJIBAKE_TABLE:
        sql = f"replace({sql}, '{bad}', '{good.replace(chr(39), chr(39) * 2)}')"
    for i, s in enumerate(cases):
        db = duckdb.sql(f"select nfc_normalize({sql})", params=[s]).fetchone()[0]
        assert got[i] == db, f"case {i}: {s!r}"


def test_jvm_only_variant_has_no_python_and_no_shuffle(spark):
    """With unicode_nfc=False the whole chain is JVM Column exprs: the
    plan shows no ArrowEvalPython / BatchEvalPython and no Exchange."""
    from go_streams_spark.plans import explain_str
    df = spark.range(10).select(
        F.concat(F.lit("x  y\r\n"), F.col("id").cast("string")).alias("t"))
    out = df.select(T.normalize_text("t", unicode_nfc=False).alias("c"))
    plan = explain_str(out, "formatted")
    assert "EvalPython" not in plan
    assert "Exchange" not in plan
    # and the full chain keeps exactly one Python stage (the
    # NFC -> repair -> NFC hop);
    # simple mode prints each physical node once
    plan_full = explain_str(
        df.select(T.normalize_text("t").alias("c")), "simple")
    assert plan_full.count("ArrowEvalPython") == 1


def test_mojibake_table_roundtrips_cp1252(spark):
    """Every table entry is the UTF-8 bytes of its repair target seen
    through cp1252 — i.e. the repair really inverts the encoding bug
    (quote/dash fixes map to the ASCII conventions the pipeline uses)."""
    ascii_convention = {"’": "'", "–": "-", "“": '"',
                        " ": " "}
    for bad, good in T.MOJIBAKE_TABLE:
        orig = bad.encode("cp1252").decode("utf-8")
        assert ascii_convention.get(orig, orig) == good


def test_strip_html_matches_reference(spark):
    """strip_html vs an independent Python reference on edge cases:
    script/style content dropped, comments, nested entities (&amp;
    decoded LAST), attribute tags, and plain text pass-through."""
    cases = [
        "<p>hello <b>world</b></p>",
        "<script>var a = '<p>not text</p>';</script>after",
        "<style>.x { color: blue }</style>body",
        "<!-- a -- tricky comment -->kept",
        "Tom &amp; Jerry &lt;3 &quot;q&#39; &nbsp;done",
        "&amp;lt; stays one level: &amp;amp;",
        "no markup at all",
        "<div class='a' data-x=\"1\">attr</div>",
        "",
    ]
    import re as _re

    def ref(t):
        t = _re.sub(r"(?is)<script[^>]*>.*?</script>", " ", t)
        t = _re.sub(r"(?is)<style[^>]*>.*?</style>", " ", t)
        t = _re.sub(r"(?s)<!--.*?-->", " ", t)
        t = _re.sub(r"<[^>]+>", " ", t)
        for ent, ch in T.HTML_ENTITIES:
            t = t.replace(ent, ch)
        return _ref_chain_ws(t)

    def _ref_chain_ws(t):
        t = t.replace("\r\n", "\n")
        t = _re.sub("[ \t]+", " ", t)
        t = _re.sub(" ?\n ?", "\n", t)
        t = _re.sub("\n{3,}", "\n\n", t)
        return t.strip()

    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)],
                               "i int, t string")
    got = {r["i"]: r["c"] for r in
           df.select("i", T.strip_html("t").alias("c")).collect()}
    for i, s in enumerate(cases):
        assert got[i] == ref(s), f"case {i}: {s!r} -> {got[i]!r}"
    # double-escape decodes exactly one level per pass
    assert got[5] == "&lt; stays one level: &amp;"


def test_canonical_url_edge_cases(spark):
    """Canonical-form semantics on hand-built URLs: default-port strip,
    case, fragments, tracking params, param sorting, trailing slash,
    no-query/no-path degenerate shapes — and the dedup property (noisy
    variants collapse to one key, distinct pages stay distinct)."""
    cases = {
        0: ("HTTPS://Ex.COM:443/a?b=1&a=2#x", "https://ex.com/a?a=2&b=1"),
        1: ("https://ex.com/a?a=2&b=1", "https://ex.com/a?a=2&b=1"),
        2: ("http://ex.com:80/", "http://ex.com"),
        3: ("http://ex.com", "http://ex.com"),
        4: ("http://ex.com/p?utm_source=tw&fbclid=9", "http://ex.com/p"),
        5: ("http://ex.com/p?", "http://ex.com/p"),
        6: ("http://ex.com:8080/p", "http://ex.com:8080/p"),  # real port kept
        7: ("https://ex.com/a/b/", "https://ex.com/a/b"),
        8: ("https://ex.com/other", "https://ex.com/other"),
    }
    df = spark.createDataFrame(
        [(i, url) for i, (url, _) in cases.items()], "i int, url string") \
        .select("i", T.canonical_url("url").alias("c"))
    got = {r["i"]: r["c"] for r in df.collect()}
    for i, (_, want) in cases.items():
        assert got[i] == want, (i, got[i], want)
    # dedup property
    assert got[0] == got[1] and got[2] == got[3]
    assert len({got[1], got[3], got[6], got[7], got[8]}) == 5


def test_pii_scrub_patterns_cross_engine_and_semantics(spark):
    """Every PII pattern must (a) behave identically under Java regex
    and DuckDB RE2 (the oracle's engine) on tricky inputs — partial
    shapes, boundaries, adjacent PII — and (b) attribute overlapping
    shapes deterministically via the progressive count-then-redact
    chain."""
    import duckdb
    from pyspark.sql import functions as F
    from go_streams_spark.functions.text import PII_PATTERNS, pii_scrub

    texts = [
        "contact bob.smith+x@ex-ample.co.uk or a@b.io now",
        "card 4111-1111 1111-1111 and 1234 5678 9012 3456 ok",
        "from 10.0.0.1 to 192.168.255.255, not 1.2.3",
        "call 555-123-4567 or 555.987.6543 x",
        "ssn 123-45-6789 end; mixed a@b.c.de 1.2.3.4 999-88-7777",
        "edge .@x.yy 1234-5678-9012-3456x 12.34.56.789 123-45-67890",
        "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    red, counts = pii_scrub("t")
    got = df.select(F.col("t"), red.alias("red"), *counts).collect()

    con = duckdb.connect()
    for r in got:
        cur = r["t"]
        for marker, rx in PII_PATTERNS:
            n = con.execute(
                "SELECT len(regexp_extract_all($1, $2))",
                [cur, rx]).fetchone()[0]
            cur = con.execute(
                "SELECT regexp_replace($1, $2, $3, 'g')",
                [cur, rx, f"<{marker}>"]).fetchone()[0]
            assert r[f"n_{marker.lower()}"] == n, (r["t"], marker)
        assert r["red"] == cur, (r["t"], r["red"], cur)

    by_text = {r["t"]: r for r in got}
    r0 = by_text[texts[0]]
    assert r0["n_email"] == 2 and "<EMAIL>" in r0["red"]
    r4 = by_text[texts[4]]
    assert (r4["n_email"], r4["n_ipv4"], r4["n_ssn"]) == (1, 1, 2)

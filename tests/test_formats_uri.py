"""`format: uri` fast path: RX_URI_FAST may only short-cut the exact check.

_uri() is CASE WHEN fast THEN true ELSE exact, so it equals the exact check
on every string exactly when the fast regex accepts nothing the exact check
rejects. Both are evaluated by Spark's (Java) regex engine, as in the
engine. RX_URI_FAST is tuned for the JVM's regex compiler; REFERENCE_FAST
below is its plain form, and the two must accept the same language.

The exact check's RX_PATH_CHARS and RX_HOSTNAME, and RX_EMAIL,
RX_JSON_POINTER and RX_REL_JSON_POINTER, are written so that Java's regex
engine does not recurse per character or per label: one long value must
not overflow the stack and take Spark's JVM down with it."""

import time
from datetime import datetime
from functools import reduce
from operator import or_

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from json_schema_spark.constraints.formats import (
    RX_EMAIL,
    RX_HOSTNAME,
    RX_JSON_POINTER,
    RX_PATH_CHARS,
    RX_REL_JSON_POINTER,
    RX_URI_FAST,
    _uri,
    _uri_exact,
)
from json_schema_spark.flagship import validate_webtext
from json_schema_spark.sources.webtext import WEBTEXT_SCHEMA

LABEL_63 = "a" + "b" * 61 + "c"

# The plain form of RX_URI_FAST's language, kept as its reference: every
# run possessive, every class spelled out as ASCII ranges.
_REF_PCHAR = r"A-Za-z0-9\-._~!$&'()*+,;=:@"
_REF_LABEL = r"[A-Za-z0-9]++(?:-++[A-Za-z0-9]++)*+"
REFERENCE_FAST = (
    r"^https?://(?=[^/?#]{1,63}+(?:[/?#]|\z))"
    rf"{_REF_LABEL}(?:\.{_REF_LABEL})*+(?::[0-9]++)?+"
    rf"(?:/(?:[{_REF_PCHAR}/]++|%[0-9A-Fa-f]{{2}})*+)?+"
    rf"(?:\?(?:[{_REF_PCHAR}/?]++|%[0-9A-Fa-f]{{2}})*+)?+"
    rf"(?:#(?:[{_REF_PCHAR}/]++|%[0-9A-Fa-f]{{2}})*+)?+\z"
)

EDGE_CASES = [
    # label and authority lengths around the 63-character bounds
    f"http://{LABEL_63}/p",
    f"http://{LABEL_63}d/p",
    "http://" + "a" * 31 + "." + "b" * 31 + "/",            # authority 63
    "http://" + "a" * 31 + "." + "b" * 32 + "/",            # authority 64
    "http://" + "a" * 28 + "." + "b" * 31 + ":8080/",       # 63 with port
    "http://" + "a" * 29 + "." + "b" * 31 + ":8080/",       # 64 with port
    # leading and trailing '-'
    "http://-a.example/", "http://a-.example/", "http://a.example-/",
    "http://a--b.example/", "http://a.-example/",
    # ports
    "http://a.example:80/x", "http://a.example:/x", "http://a.example:8a/",
    "http://a.example:80:90/",
    # percent escapes
    "http://a.example/%zz", "http://a.example/%4F", "http://a.example/%4",
    "http://a.example/?q=%zz", "http://a.example/#%zz",
    "http://a.example/#%4F",
    # query and fragment
    "http://a.example?x=1", "http://a.example/p?x=1&y=/?#f",
    "http://a.example/p#f?g", "http://a.example/p#f#g", "http://a.example#",
    "http://a.example/p?<bad>", "http://a.example/p?x y",
    # userinfo
    "http://user@a.example/", "http://u:p@a.example/", "http://@a.example/",
    "http://a@b@c.example/",
    # trailing line terminators and spaces
    "http://a.example/\n", "http://a.example\n", "http://a.example/p#f\n",
    "http://a.example/ ", "http://a.example/\r\n",
    # hosts that are not plain labels
    "http://a.example./", "http://a..example/", "http:///p", "http://",
    "http://1.2.3.4/", "http://[::1]/", "http://a_b.example/",
    "https://bad_host!3.example/d1/page/7",
    # schemes
    "HTTP://a.example/", "ftp://a.example/", "https:a.example", "http:/a",
    "www.host7.example/d1/page/7", "https://www.host7.example/d1/page/7",
]


def _verdicts(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    u = F.col("u")
    return [(r["u"], r["fast"], r["exact"], r["combined"]) for r in df.select(
        "u", u.rlike(RX_URI_FAST).alias("fast"),
        F.coalesce(_uri_exact(u), F.lit(False)).alias("exact"),
        F.coalesce(_uri(u), F.lit(False)).alias("combined")).collect()]


def _unsound(rows):
    return [(u, exact) for u, fast, exact, combined in rows
            if (fast and not exact) or combined != exact]


def test_fast_uri_edge_cases(spark):
    rows = _verdicts(spark, EDGE_CASES)
    assert _unsound(rows) == []
    fast = {u for u, f, _, _ in rows if f}
    # the fast path does take the plain urls, so it is not dead code
    assert {f"http://{LABEL_63}/p", "https://www.host7.example/d1/page/7",
            "http://a.example/p?x=1&y=/?#f", "http://a.example:80/x",
            "http://a.example/%4F"} <= fast
    # ...and leaves the rest to the exact check
    assert not fast & {f"http://{LABEL_63}d/p", "http://a.example/\n",
                       "http://user@a.example/", "http://a-.example/",
                       "http://a.example/%zz", "http://a.example/p#f?g"}


# letters and digits outside ASCII: Spark's rlike compiles without
# UNICODE_CHARACTER_CLASS, so \p{Alnum} and \w must not match them
_ALNUM = "abcXYZ019" + "\u00e9\u0661\u212a\uff21"
# labels of 58-66 characters straddle the 63-character bounds; '_' is a
# word character but no label character
_label = st.one_of(st.text(_ALNUM + "-_", max_size=20),
                   st.integers(58, 66).map(lambda n: "a" + "b" * (n - 1)))
_host = st.one_of(
    st.lists(_label, min_size=1, max_size=4).map(".".join),
    st.lists(_label, min_size=1, max_size=3)
    .map(lambda ls: ".".join(ls) + "."),
    st.just("1.2.3.4"), st.just("[::1]"))
_piece = st.text(_ALNUM + "-._~!$&'()*+,;=:@/%4Fz?#[] <>\n", max_size=20)
_url = st.builds(
    lambda scheme, userinfo, host, port, path, query, frag, tail:
        f"{scheme}://{userinfo}{host}{port}{path}{query}{frag}{tail}",
    st.sampled_from(["http", "https", "HTTP", "ftp"]),
    st.sampled_from(["", "", "", "user@", "u:p@", "@"]),
    _host,
    st.one_of(st.just(""), st.integers(0, 99999).map(lambda p: f":{p}"),
              st.just(":")),
    st.one_of(st.just(""), _piece.map(lambda s: "/" + s)),
    st.one_of(st.just(""), _piece.map(lambda s: "?" + s)),
    st.one_of(st.just(""), _piece.map(lambda s: "#" + s)),
    st.sampled_from(["", "", "", "\n", " ", "\r\n"]),
)


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.data_too_large])
@given(st.lists(_url, min_size=50, max_size=150))
def test_fast_uri_accepts_nothing_exact_rejects(spark, urls):
    assert _unsound(_verdicts(spark, urls)) == []


def _changed(spark, urls):
    """urls on which rlike gives RX_URI_FAST and REFERENCE_FAST different
    verdicts."""
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    u = F.col("u")
    return [r["u"] for r in df.filter(
        u.rlike(RX_URI_FAST) != u.rlike(REFERENCE_FAST)).collect()]


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.data_too_large])
@given(st.lists(_url, min_size=50, max_size=150))
def test_fast_uri_language_unchanged(spark, urls):
    assert _changed(spark, EDGE_CASES + urls) == []


# long runs that a backtracking regex could retry at every split
ADVERSARIAL = [
    "http://" + "a" * 20_000 + "/",                  # one 20k-char label
    "http://" + "a-" * 5_000 + ".example/",          # label ends in '-'
    "http://a.example/" + "%4" * 5_000,              # truncated escapes
    "http://" + ".".join(["a" * 60] * 300) + "-/",   # 300 labels, last bad
]


def test_fast_uri_rejects_adversarial_inputs_in_bounded_time(spark):
    df = spark.createDataFrame([(u,) for u in ADVERSARIAL], "u string")
    u = F.col("u")
    start = time.perf_counter()
    rows = df.select(u.rlike(RX_URI_FAST).alias("fast"),
                     F.coalesce(_uri(u), F.lit(False)).alias("uri")).collect()
    elapsed = time.perf_counter() - start
    assert [tuple(r) for r in rows] == [(False, False)] * len(ADVERSARIAL)
    # catastrophic backtracking takes minutes; this batch takes well
    # under a second
    assert elapsed < 10, elapsed


# RX_PATH_CHARS and RX_HOSTNAME as they were before their repeated groups
# became possessive. Java recursed once per repetition of those groups and
# overflowed the stack on ~2,500 path characters or ~4,400 host characters,
# so they are compared only on short inputs.
REFERENCE_PATH_CHARS = \
    r"^(?i)(?:(%[0-9a-f]{2})|[a-z0-9/:@\-._~!$&'()*+,;=])*$"
REFERENCE_HOSTNAME = (
    r"^(?i)(?:[a-z0-9](?:[a-z0-9\-]{0,61}[a-z0-9])?\.)*"
    r"[a-z0-9](?:[a-z0-9\-]{0,61}[a-z0-9])?$"
)

PATH_HOST_EDGE_CASES = [
    "", "a", "/", "%4F", "%4f", "%4", "%zz", "a%", "%%41", "/a/%41b/c%",
    "a b", "a\n", "a\n\n", "\na", "a#b", "a?b", "[a]", "\u00e9", "AZ/az",
    "a.b", "a.b.", ".a", "a..b", "-a", "a-", "a-b", "a--b.c", "a_b",
    LABEL_63, LABEL_63 + "d", f"{LABEL_63}.{LABEL_63}", f"x.{LABEL_63}d",
    f"{LABEL_63}d.x",
    "a.b\n", "a.b\r\n", "1.2.3.4", "[::1]",
    ".".join(["ab-c"] * 200), ".".join(["ab-c"] * 200) + "-",
    "/%41" * 200, "/%41" * 200 + "%4",
]


def _regex_changed(spark, strings, pairs):
    """strings on which rlike gives a regex of ``pairs`` and its reference
    different verdicts."""
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    s = F.col("s")
    changed = [s.rlike(rx) != s.rlike(ref) for rx, ref in pairs]
    return [r["s"] for r in df.filter(reduce(or_, changed)).collect()]


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.data_too_large])
@given(st.lists(st.one_of(_host, _piece,
                          st.tuples(_host, st.sampled_from(
                              ["\n", " ", "-", "."])).map("".join)),
                min_size=50, max_size=150))
def test_path_and_hostname_regexes_language_unchanged(spark, strings):
    assert _regex_changed(spark, PATH_HOST_EDGE_CASES + strings, [
        (RX_PATH_CHARS, REFERENCE_PATH_CHARS),
        (RX_HOSTNAME, REFERENCE_HOSTNAME)]) == []


# RX_EMAIL, RX_JSON_POINTER and RX_REL_JSON_POINTER as they were before
# their repeated groups became possessive. Java overflowed its stack on
# them at 3,364, 6,200 and 6,194 characters.
REFERENCE_EMAIL = (
    r"^[A-Za-z0-9.!#$%&'*+\/=?^_`{|}~\-]+@"
    r"(([a-zA-Z0-9]|[a-zA-Z0-9][a-zA-Z0-9\-]*[a-zA-Z0-9])\.)+"
    r"([A-Za-z0-9]|[A-Za-z0-9][A-Za-z0-9\-]*[A-Za-z0-9])$"
)
REFERENCE_JSON_POINTER = r"^(?:/[^/#]*)*$"
REFERENCE_REL_JSON_POINTER = r"^(0|[1-9][0-9]*)((?:/[^/#]+)*)(#?)$"

EMAIL_POINTER_EDGE_CASES = [
    "a@b", "a@b.c", "a@b.c.", "a@.b", "a@b..c", "a@-b.c", "a@b-.c",
    "a@b--c.d", "a@b.c-d", "a@b.c\n", "a@b.c\n\n", "a@b.c ", "@b.c",
    "a.b+c@d.e", "a@b@c.d", "a@b_c.d", "a@\u00e9.c", "a@1.2",
    "a@" + ".".join(["ab-c"] * 200), "a@" + ".".join(["ab-c"] * 200) + "-",
    "", "/", "//", "/a", "/a/", "/a#", "#", "/~0", "/a\n", "a", "/a/b~1c",
    "0", "1", "01", "10", "0/", "0/a", "0/a/", "0/a#", "0#", "0##",
    "1/a/b#", "0/a\n", "0\n", "0/\n", "0//a",
    "/a" * 200, "0" + "/a" * 200 + "#",
]

_email = st.builds(
    lambda local, labels, tail: f"{local}@{'.'.join(labels)}{tail}",
    st.text("aZ9.!#+_~@ -", max_size=6),
    st.lists(st.text(_ALNUM + "-_", max_size=6), max_size=4),
    st.sampled_from(["", "", ".", "-", " ", "\n", "\r\n"]))
_pointer = st.builds(
    lambda head, segs, tail: head + "".join("/" + s for s in segs) + tail,
    st.sampled_from(["", "", "0", "1", "10", "01", "a"]),
    st.lists(st.text("a~01/#\n \u00e9", max_size=4), max_size=4),
    st.sampled_from(["", "", "#", "\n", "#\n", "/", "//"]))

EMAIL_POINTER_PAIRS = [(RX_EMAIL, REFERENCE_EMAIL),
                       (RX_JSON_POINTER, REFERENCE_JSON_POINTER),
                       (RX_REL_JSON_POINTER, REFERENCE_REL_JSON_POINTER)]


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.data_too_large])
@given(st.lists(st.one_of(_email, _pointer), min_size=50, max_size=150))
def test_email_and_pointer_regexes_language_unchanged(spark, strings):
    assert _regex_changed(spark, EMAIL_POINTER_EDGE_CASES + strings,
                          EMAIL_POINTER_PAIRS) == []


def test_email_and_pointer_regexes_on_long_inputs(spark):
    """Each of these values overflowed Java's stack under the old form of
    its regex, an error that exits Spark's JVM."""
    cases = [
        (RX_EMAIL, "a@" + "a." * 50_000 + "com", True),
        (RX_EMAIL, "a@" + "a-b." * 25_000 + "-", False),
        (RX_JSON_POINTER, "/a" * 50_000, True),
        (RX_JSON_POINTER, "/a" * 50_000 + "#", False),
        (RX_REL_JSON_POINTER, "0" + "/a" * 50_000 + "#", True),
        (RX_REL_JSON_POINTER, "0" + "/a" * 50_000 + "/", False),
    ]
    df = spark.createDataFrame(
        [(i, text) for i, (_, text, _) in enumerate(cases)], "i int, s string")
    verdict = F.coalesce(*[F.when(F.col("i") == i, F.col("s").rlike(rx))
                           for i, (rx, _, _) in enumerate(cases)])
    got = [r[0] for r in df.orderBy("i").select(verdict).collect()]
    assert got == [want for _, _, want in cases]


def test_validate_webtext_verdict_on_long_url(spark):
    """A 70-character host puts these urls past RX_URI_FAST and into the
    exact check; before its regexes were possessive, each row threw a
    StackOverflowError that exits Spark's JVM."""
    host = "a" * 30 + "." + "b" * 39
    urls = [f"http://{host}/" + "p" * 99_999,           # 100,000-char path
            f"http://{host}/" + "%41" * 20_000,         # 20,000 escapes
            "http://" + "a." * 5_000 + "example/"]      # 5,001 labels
    ts = datetime(2024, 1, 1)
    df = spark.createDataFrame([(u, ts, None, "some text", "en")
                                for u in urls], WEBTEXT_SCHEMA)
    assert validate_webtext(df).violations().collect() == []

"""Column-level format registry — the scale path for `format` constraints.

Mirrors the reference's format registry (/root/reference/src/Validator.php:44-61
registers 17 built-ins; registerFormat() at :68-71) as named builders
``Column -> Column`` returning a BOOLEAN predicate. Regex-expressible formats
compile to `rlike` (JVM-side, whole-stage-codegen'd — zero Python in the hot
path). Formats needing IDN/URL parsing (idn-email, idn-hostname, iri,
iri-reference) fall back to an Arrow-batched pandas UDF over the pure-Python
checks in json_schema_spark.validator.checks (the same functions that give
fixture parity), so columnar verdicts and row-level verdicts agree.

Regexes are written for Java's regex dialect (rlike); semantics follow the
reference's checks (/root/reference/src/Check.php:88-483) and the RFCs they
encode.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_spark.errors import SchemaError

# ---------------------------------------------------------------------------
# Regexes (Java dialect). Anchored with ^...$ because rlike is a *partial*
# match in Java, while the reference's preg_match patterns carry their own
# anchors (Check.php:95,111,127,175).
# ---------------------------------------------------------------------------

# RFC3339 date-time, leap-second-excluded variant (Check.php:95)
RX_DATE_TIME = (
    r"^([0-9]+)-(0[1-9]|1[012])-(0[1-9]|[12][0-9]|3[01])"
    r"[Tt]([01][0-9]|2[0-3]):([0-5][0-9]):([0-5][0-9])(\.[0-9]+)?"
    r"(([Zz])|([+\-]([01][0-9]|2[0-3]):[0-5][0-9]))$"
)
RX_TIME = (
    r"^([01][0-9]|2[0-3]):([0-5][0-9]):([0-5][0-9])(\.[0-9]+)?"
    r"(([Zz])|([+\-]([01][0-9]|2[0-3]):[0-5][0-9]))$"
)
RX_DATE = r"^([0-9]+)-(0[1-9]|1[012])-(0[1-9]|[12][0-9]|3[01])$"

# hostname labels (1-63 chars, alnum edges), case-insensitive
# (Check.php:175) — linear form, no nested quantifier ambiguity, so the
# JVM regex engine can't blow up on adversarial hyphenated input. The
# label group is possessive: Java matches a greedy repeated group by one
# recursion per iteration, and the StackOverflowError it throws on a few
# thousand labels is fatal to Spark's JVM. Each iteration ends at the
# only '.' it can reach, so giving one back never helps the match.
RX_HOSTNAME = (
    r"^(?i)(?:[a-z0-9](?:[a-z0-9\-]{0,61}[a-z0-9])?\.)*+"
    r"[a-z0-9](?:[a-z0-9\-]{0,61}[a-z0-9])?$"
)

# Dotted-quad IPv4 (PHP FILTER_VALIDATE_IP accepts only dotted-quad)
RX_IPV4 = r"^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$"

# RFC 4291 IPv6 (full + compressed + v4-mapped)
RX_IPV6 = (
    r"^(?:(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,7}:"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,6}:[0-9A-Fa-f]{1,4}"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,5}(?::[0-9A-Fa-f]{1,4}){1,2}"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,4}(?::[0-9A-Fa-f]{1,4}){1,3}"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,3}(?::[0-9A-Fa-f]{1,4}){1,4}"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,2}(?::[0-9A-Fa-f]{1,4}){1,5}"
    r"|[0-9A-Fa-f]{1,4}:(?::[0-9A-Fa-f]{1,4}){1,6}"
    r"|:(?:(?::[0-9A-Fa-f]{1,4}){1,7}|:)"
    r"|(?:[0-9A-Fa-f]{1,4}:){1,4}:(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
    r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    r"|::(?:[Ff]{4}(?::0{1,4})?:)?(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
    r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9]))$"
)

# Pragmatic email (close to PHP FILTER_VALIDATE_EMAIL for common cases;
# exact-parity path is the pandas fallback). Domain labels sit in
# possessive groups for the reason RX_PATH_CHARS below gives.
RX_EMAIL = (
    r"^[A-Za-z0-9.!#$%&'*+\/=?^_`{|}~\-]+@"
    r"(?:[A-Za-z0-9]+(?:-+[A-Za-z0-9]+)*+\.)++"
    r"[A-Za-z0-9]+(?:-+[A-Za-z0-9]+)*+$"
)

# uri path / fragment char classes (Check.php:468,482). Keep it as greedy
# class runs inside a possessive group: Java's regex engine recurses once
# per repetition of a group, and a group repeated once per character
# overflows the stack on a path of a few thousand characters, an error
# that exits Spark's JVM.
RX_PATH_CHARS = r"^(?i)(?:[a-z0-9/:@\-._~!$&'()*+,;=]+|%[0-9a-f]{2})*+$"

# json-pointer: '' or sequence of /segments with ~0 ~1 escapes only
# (Check.php:406-414)
RX_JSON_POINTER = r"^(?:/[^/#]*)*+$"
RX_TILDE_BAD = r"~([^01]|$)"  # a '~' not followed by 0/1
RX_REL_JSON_POINTER = r"^(0|[1-9][0-9]*)((?:/[^/#]+)*+)(#?)$"

# Simple absolute-URI shape: scheme ':' + allowed chars; host/path validity
# refined below in _uri()
RX_URI_SCHEME = r"^[A-Za-z][A-Za-z0-9+.\-]*:"

# Plain http(s) urls that _uri_exact() accepts, by one regex: a hostname
# authority of at most 63 characters (so no label can exceed 63), an
# optional port, then path / query / fragment characters of
# RX_PATH_CHARS's class with well-formed %XX escapes. Userinfo, IP
# literals and line terminators (\z, not $) fall through to the exact
# check. tests/test_formats_uri.py checks that it accepts nothing the
# exact check rejects, and exactly what its all-possessive,
# range-class form accepts.
#
# It runs on every url, so it is written for the JDK 17 regex compiler:
# - ASCII classes: \p{Alnum}, \w and \p{XDigit}. Spark's RLike compiles
#   with flags 0, never UNICODE_CHARACTER_CLASS, so they match ASCII only,
#   each by one table lookup where [A-Za-z0-9] is a chain of range tests.
# - Greedy single-class runs (X+) inside possessive groups (*+, ?+):
#   Pattern compiles X+ on a class to the tight CharPropertyGreedy loop
#   but X++ to the generic Curly node. No run is followed by a character
#   of its class except as the next iteration of its own possessive
#   group, so it accepts what the X++ form accepts, and no backtracking
#   crosses a label or a segment.
# rlike alone over the benchmark's 300k urls (4 vCPU, median of 13
# shuffled reps): 276 ms with range classes and possessive runs, 203 ms
# with both rules, against 99 ms to scan the column.
_PCHAR = r"\w\-.~!$&'()*+,;=:@"
_LABEL = r"\p{Alnum}+(?:-+\p{Alnum}+)*+"
RX_URI_FAST = (
    r"^https?://(?=[^/?#]{1,63}+(?:[/?#]|\z))"
    rf"{_LABEL}(?:\.{_LABEL})*+(?::[0-9]+)?+"
    rf"(?:/(?:[{_PCHAR}/]+|%\p{{XDigit}}{{2}})*+)?+"
    rf"(?:\?(?:[{_PCHAR}/?]+|%\p{{XDigit}}{{2}})*+)?+"
    rf"(?:#(?:[{_PCHAR}/]+|%\p{{XDigit}}{{2}})*+)?+\z"
)


def _not_tilde_broken(col: Column) -> Column:
    return ~col.rlike(RX_TILDE_BAD)


def _rx(pattern: str) -> Callable[[Column], Column]:
    def builder(col: Column) -> Column:
        return col.rlike(pattern)

    return builder


def _hostname(col: Column) -> Column:
    # label regex, falling back to (possibly bracketed) IPv6 — Check.php:169-186
    stripped = F.regexp_replace(col, r"^\[([^\]]+)\]$", "$1")
    return col.rlike(RX_HOSTNAME) | stripped.rlike(RX_IPV6)


def _uri(col: Column) -> Column:
    """Absolute URI: the RX_URI_FAST regex, else the exact check.

    CASE WHEN, not ``fast | exact``: in validate()'s projection the Or
    costs most of the exact check, likely because subexpression elimination
    hoists the exact check's repeated regexp_extract calls ahead of the
    short-circuit. validate() of this format alone on 1M cached webtext
    urls, local[4] on 4 vCPUs, best of 3: exact 2.60 s, ``fast | exact``
    2.02 s, CASE WHEN 1.06 s.
    """
    return F.when(col.rlike(RX_URI_FAST), F.lit(True)) \
        .otherwise(_uri_exact(col))


def _uri_exact(col: Column) -> Column:
    """Absolute URI: scheme required; host (if present) must be a hostname;
    path/fragment restricted to URI char classes — Check.php:243-272.

    Component extraction stays JVM-side: the authority is pulled with
    regexp_extract (parse_url silently drops malformed authorities, which
    would let bad-hostname URLs pass), path/fragment with parse_url.
    """
    has_scheme = col.rlike(RX_URI_SCHEME)
    is_hier = col.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://")  # scheme://...
    # authority = between '//' and the next / ? #, minus userinfo@ and :port
    authority = F.regexp_extract(col, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    host = F.regexp_replace(  # strip userinfo@ then :port
        F.regexp_replace(authority, r"^[^@\[\]]*@", ""), r":[0-9]*$", "")
    path = F.regexp_extract(col, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    frag = F.regexp_extract(col, r"#(.*)$", 1)
    host_ok = (host == "") | _hostname(host)
    path_ok = (path == "") | path.rlike(RX_PATH_CHARS)
    frag_ok = (frag == "") | frag.rlike(RX_PATH_CHARS)
    hier_ok = is_hier & host_ok & path_ok & frag_ok
    # opaque form (mailto:, urn:): restrict to URI char classes
    opaque = F.regexp_replace(col, RX_URI_SCHEME, "")
    opaque_ok = (~is_hier) & opaque.rlike(RX_PATH_CHARS)
    return has_scheme & (hier_ok | opaque_ok)


def _uri_reference(col: Column) -> Column:
    # like uri but scheme optional — Check.php:279-304
    rel_ok = col.rlike(RX_PATH_CHARS) | col.rlike(r"^(?i)[a-z0-9/:@\-._~!$&'()*+,;=%?#]*$")
    return _uri(col) | (~col.rlike(RX_URI_SCHEME) & rel_ok)


def _uri_template(col: Column) -> Column:
    # balanced {...} count + uri/path validity on the de-templated string
    # (Check.php:367-393)
    balanced = (
        F.length(col) - F.length(F.regexp_replace(col, r"\{", ""))
    ) == (F.length(col) - F.length(F.regexp_replace(col, r"\}", "")))
    stripped = F.regexp_replace(col, r"[{}]", "")
    return balanced & (_uri(stripped) | stripped.rlike(RX_PATH_CHARS))


def _json_pointer(col: Column) -> Column:
    return ((col == "") | col.rlike(RX_JSON_POINTER)) & _not_tilde_broken(col)


def _rel_json_pointer(col: Column) -> Column:
    return col.rlike(RX_REL_JSON_POINTER) & _not_tilde_broken(col)


def _pandas_format(name: str) -> Callable[[Column], Column]:
    """Arrow-batched fallback over the pure-Python parity checks."""

    def builder(col: Column) -> Column:
        @F.pandas_udf(T.BooleanType())
        def check(s: pd.Series) -> pd.Series:
            # imported inside the UDF so only the worker needs it
            from json_schema_spark.validator import checks as pychecks

            fn = getattr(pychecks, pychecks.FORMAT_FUNCS[name])
            return s.map(lambda v: bool(fn(v)) if v is not None else True)

        return check(col)

    return builder


# name -> Column builder (predicate is True when the format matches)
_REGISTRY: dict[str, Callable[[Column], Column]] = {
    "date-time": _rx(RX_DATE_TIME),
    "time": _rx(RX_TIME),
    "date": _rx(RX_DATE),
    "email": _rx(RX_EMAIL),
    "idn-email": _pandas_format("idn-email"),
    "hostname": _hostname,
    "idn-hostname": _pandas_format("idn-hostname"),
    "ipv4": _rx(RX_IPV4),
    "ipv6": _rx(RX_IPV6),
    "uri": _uri,
    "uri-reference": _uri_reference,
    "iri": _pandas_format("iri"),
    "iri-reference": _pandas_format("iri-reference"),
    "uri-template": _uri_template,
    "json-pointer": _json_pointer,
    "relative-json-pointer": _rel_json_pointer,
    "regex": _pandas_format("regex"),
}


def register_format(name: str, builder: Callable[[Column], Column]) -> None:
    """Public registry API — mirrors Validator::registerFormat
    (/root/reference/src/Validator.php:68-71, examples/register-custom-format.php:20-23).

    ``builder`` maps a string Column to a boolean Column. Cached
    validation plans are dropped: their predicates hold the old builder's.
    """
    from json_schema_spark.constraints.evaluator import clear_plan_cache

    if not callable(builder):
        raise SchemaError(f"format builder for {name!r} must be callable")
    _REGISTRY[name] = builder
    clear_plan_cache()


def format_predicate(name: str, col: Column) -> Column:
    """Build the pass-predicate for a named format. Unknown format is a
    schema error (Validator.php:252-258 throws SchemaException)."""
    if name not in _REGISTRY:
        raise SchemaError(f"unknown format {name!r}")
    # format applies to strings only; NULL passes, and a NULL verdict on a
    # value counts as a failure (compiler.py's null discipline)
    return col.isNull() | _REGISTRY[name](col)

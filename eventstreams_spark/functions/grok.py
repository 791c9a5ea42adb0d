"""Grok pattern support (Logstash `grok` filter equivalent, SURVEY §2.3 P9).

A grok expression like ``src%{NUMBER:num}`` compiles to a Java regex
with one capture group per field. :func:`grok_frame` matches each line
once: a single ``regexp_replace`` writes every group, joined by a
control character, and one ``split`` feeds all fields. The column-level
:func:`grok_extract` is the per-field ``regexp_extract`` reference that
the one-pass form reproduces exactly. Both are JVM-side and codegen'd,
with no Python in the hot path. Pattern library is the standard public
grok core set (re-expressed, not copied).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Core grok patterns (public Logstash pattern names, regex re-derived,
# not copied). Definitions may reference other patterns with %{NAME} —
# the compiler expands recursively, like Logstash's pattern files.
PATTERNS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "POSINT": r"[1-9]\d*",
    "NONNEGINT": r"\d+",
    "NUMBER": r"\d+(?:\.\d+)?",
    "BASE10NUM": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "BASE16NUM": r"(?:0[xX])?[0-9a-fA-F]+",
    "IP": r"(?:\d{1,3}\.){3}\d{1,3}",
    "IPV6": r"(?:[0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4}(?:%\w+)?",
    "HOSTNAME": r"[a-zA-Z0-9](?:[a-zA-Z0-9-]*[a-zA-Z0-9])?(?:\.[a-zA-Z0-9](?:[a-zA-Z0-9-]*[a-zA-Z0-9])?)*",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "EMAILADDRESS": r"[a-zA-Z0-9._%+-]+@%{HOSTNAME}",
    "MAC": r"(?:[0-9A-Fa-f]{2}[:-]){5}[0-9A-Fa-f]{2}",
    "UUID": r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
    "LOGLEVEL": r"(?:TRACE|DEBUG|INFO|WARN|ERROR|FATAL)",
    # date/time atoms
    "MONTH": r"(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHDAY": r"(?:(?:0[1-9])|(?:[12]\d)|(?:3[01])|[1-9])",
    "DAY": r"(?:Mon|Tue|Wed|Thu|Fri|Sat|Sun)",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?\d)",
    "MINUTE": r"[0-5]\d",
    "SECOND": r"(?:[0-5]?\d)(?:[:.,]\d+)?",
    "TIME": r"%{HOUR}:%{MINUTE}(?::%{SECOND})?",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    # uri
    "URIPROTO": r"[A-Za-z][A-Za-z0-9+.-]*",
    "URIHOST": r"%{IPORHOST}(?::%{POSINT})?",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "URIPATHPARAM": r"%{URIPATH}(?:%{URIPARAM})?",
    "URI": r"%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?(?:%{URIPATHPARAM})?",
    "QS": r'"(?:[^"\\]|\\.)*"',
    "QUOTEDSTRING": r"%{QS}",
    "PROG": r"[\w._/%-]+",
    "SYSLOGPROG": r"%{PROG:program}(?:\[%{POSINT:pid}\])?",
    "SYSLOGHOST": r"%{IPORHOST}",
    # composite log-line formats (fields included, Logstash-style)
    "COMMONAPACHELOG": (
        r'%{IPORHOST:clientip} %{USER:ident} %{USER:auth} '
        r'\[%{HTTPDATE:timestamp}\] "%{WORD:verb} %{NOTSPACE:request}'
        r'(?: HTTP/%{NUMBER:httpversion})?" %{NONNEGINT:response} '
        r"(?:%{NONNEGINT:bytes}|-)"
    ),
    "COMBINEDAPACHELOG": (
        r"%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}"
    ),
    "SYSLOGLINE": (
        r"%{SYSLOGTIMESTAMP:syslog_timestamp} %{SYSLOGHOST:syslog_host} "
        r"%{SYSLOGPROG}: %{GREEDYDATA:syslog_message}"
    ),
}

_GROK_REF = re.compile(r"%\{(\w+)(?::(\w+))?\}")
_MAX_DEPTH = 16


def grok_to_regex(expr: str) -> tuple[str, list[str]]:
    """Compile a grok expression to (regex, captured field names).

    Pattern definitions may reference other patterns (recursively, to
    a bounded depth). Field names are returned in capture-group order
    — including fields contributed by composite patterns like
    ``COMMONAPACHELOG`` — so ``regexp_extract(col, regex, i+1)``
    addresses ``fields[i]``.
    """
    fields: list[str] = []

    def expand(s: str, depth: int) -> str:
        if depth > _MAX_DEPTH:
            raise ValueError("grok pattern recursion too deep (cycle?)")

        def repl(m: re.Match) -> str:
            pat_name, field = m.group(1), m.group(2)
            pat = PATTERNS.get(pat_name)
            if pat is None:
                raise KeyError(f"unknown grok pattern %{{{pat_name}}}")
            if field:
                # open the group BEFORE recursing: capture-group order
                # (open-paren order) must match `fields` append order
                fields.append(field)
                return f"({expand(pat, depth + 1)})"
            return f"(?:{expand(pat, depth + 1)})"

        return _GROK_REF.sub(repl, s)

    return expand(expr, 0), fields


def grok_extract(col: Column | str, expr: str) -> dict[str, Column]:
    """Extract grok fields from a string column as {field: Column}."""
    regex, fields = grok_to_regex(expr)
    c = F.col(col) if isinstance(col, str) else col
    return {f: F.regexp_extract(c, regex, i + 1) for i, f in enumerate(fields)}


#: Joins the groups in the one-pass replacement. A line that contains
#: it could split into the wrong fields, so only such a line falls back
#: to per-field ``regexp_extract``.
_DELIM = "\u0001"


def grok_array(col: Column | str, expr: str) -> tuple[Column, list[str]]:
    """Every grok field of ``expr`` as one ``array<string>`` Column
    (element ``i`` is ``fields[i]``), from one regex pass per line.

    The compiled regex ``R`` is wrapped as ``^(?:(?s:.*?)(?:R))?(?s:.*)$``,
    which matches every line exactly once: the lazy prefix finds the
    leftmost match of ``R``, as ``regexp_extract``'s ``find`` does, and
    when ``R`` matches nowhere the optional group is skipped, so every
    group is unset and writes ``""``. A NULL line gives a NULL array.
    Each element equals ``regexp_extract(col, R, i + 1)``, and the array
    always has ``len(fields)`` elements, so indexing it is safe under
    ANSI mode.
    """
    regex, fields = grok_to_regex(expr)
    c = F.col(col) if isinstance(col, str) else col
    groups = _DELIM.join(f"${i + 1}" for i in range(len(fields)))
    one_pass = F.split(
        F.regexp_replace(c, f"^(?:(?s:.*?)(?:{regex}))?(?s:.*)$", groups), _DELIM
    )
    per_field = F.array(*[F.regexp_extract(c, regex, i + 1) for i in range(len(fields))])
    return F.when(c.contains(_DELIM), per_field).otherwise(one_pass), fields


def grok_frame(df: DataFrame, source: str, expr: str) -> DataFrame:
    """Add (or replace) one column per grok field of ``expr``, all read
    from the original ``source`` value — a field may share its name.

    The array from :func:`grok_array` is built once in a hidden column,
    every field is projected from it, and the hidden column is dropped.
    Catalyst keeps the array in its own projection when several fields
    reference it, so the regex runs once per line there (and once more
    in a filter on a field that Catalyst pushes below it).
    """
    arr, fields = grok_array(source, expr)
    hidden = "__grok"
    while hidden in df.columns or hidden in fields:
        hidden += "_"
    return (
        df.withColumn(hidden, arr)
        .withColumns({f: F.col(hidden)[i] for i, f in enumerate(fields)})
        .drop(hidden)
    )

"""Vectorized grok/regex parsing of turn text.

The reference relies on upstream Logstash for parsing (SURVEY.md §2.5);
the north_star requires a vectorized extractor of tool-call/event fields
from ``text`` with no per-row Python. ``GrokParser`` is a mini grok
compiler: ``%{WORD:name}``-style patterns compile to a single Java regex
evaluated with ``regexp_extract`` per capture, entirely JVM-side inside
whole-stage codegen.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Base pattern registry — the standard logstash-grok names, re-expressed
# (logstash-patterns-core semantics, own formulation; alternations are
# self-wrapped in (?:) so a capture around a reference stays one group;
# no lookbehinds/atomic groups so the compiled regex also runs under
# Python `re` for oracle tests). User additions come in per-parser via
# ``pattern_definitions`` (grok filter's option of the same name).
GROK_PATTERNS: dict[str, str] = {
    # words / numbers
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "BASE10NUM": r"[+-]?(?:\d+(?:\.\d+)?|\.\d+)",
    "NUMBER": r"%{BASE10NUM}",
    "BASE16NUM": r"(?:0[xX])?[0-9a-fA-F]+",
    "POSINT": r"\b[1-9][0-9]*\b",
    "NONNEGINT": r"\b[0-9]+\b",
    "QUOTEDSTRING": r"""(?:"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')""",
    "QS": r"%{QUOTEDSTRING}",
    "UUID": r"[0-9a-fA-F]{8}-(?:[0-9a-fA-F]{4}-){3}[0-9a-fA-F]{12}",
    "EMAILLOCALPART": r"[a-zA-Z0-9!#$%&'*+\-/=?^_`{|}~.]+",
    "EMAILADDRESS": r"%{EMAILLOCALPART}@%{HOSTNAME}",
    # networking
    "COMMONMAC": r"(?:[0-9a-fA-F]{2}:){5}[0-9a-fA-F]{2}",
    "CISCOMAC": r"(?:[0-9a-fA-F]{4}\.){2}[0-9a-fA-F]{4}",
    "WINDOWSMAC": r"(?:[0-9a-fA-F]{2}-){5}[0-9a-fA-F]{2}",
    "MAC": r"(?:%{CISCOMAC}|%{WINDOWSMAC}|%{COMMONMAC})",
    "IPV4": r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)(?:\.(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)){3}",
    "IPV6": r"(?:(?:[0-9A-Fa-f]{1,4}:){1,7}(?:[0-9A-Fa-f]{1,4}|:)|::(?:[0-9A-Fa-f]{1,4}:)*[0-9A-Fa-f]{0,4})",
    "IP": r"(?:%{IPV6}|%{IPV4})",
    "HOSTNAME": r"\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\.?\b",
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    # paths / uris
    "UNIXPATH": r"(?:/[\w@%!$:.,+~-]*)+",
    "WINPATH": r"(?:[A-Za-z]:|\\)(?:\\[^\\?*]*)+",
    "PATH": r"(?:%{UNIXPATH}|%{WINPATH})",
    "TTY": r"/dev/(?:pts|tty[pq]?)\w*",
    "URIPROTO": r"[A-Za-z][A-Za-z0-9+.-]*",
    "URIHOST": r"%{IPORHOST}(?::%{POSINT})?",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#_%-]*)+",
    "URIPARAM": r"\?[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\[\]-]*",
    "URIPATHPARAM": r"%{URIPATH}(?:%{URIPARAM})?",
    "URI": r"%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?(?:%{URIPATHPARAM})?",
    # dates / times
    "MONTH": r"\b(?:Jan(?:uary)?|Feb(?:ruary)?|Mar(?:ch)?|Apr(?:il)?|May|Jun(?:e)?|Jul(?:y)?|Aug(?:ust)?|Sep(?:tember)?|Oct(?:ober)?|Nov(?:ember)?|Dec(?:ember)?)\b",
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHDAY": r"(?:0[1-9]|[12][0-9]|3[01]|[1-9])",
    "DAY": r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)",
    "YEAR": r"(?:\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"[0-5][0-9]",
    "SECOND": r"(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?",
    "TIME": r"%{HOUR}:%{MINUTE}(?::%{SECOND})?",
    "DATE_US": r"%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU": r"%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE}))",
    "ISO8601_SECOND": r"%{SECOND}",
    "TIMESTAMP_ISO8601": r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:?%{MINUTE}(?::?%{SECOND})?%{ISO8601_TIMEZONE}?",
    "DATE": r"(?:%{DATE_US}|%{DATE_EU})",
    "DATESTAMP": r"%{DATE}[- ]%{TIME}",
    "TZ": r"[A-Z]{1,4}T",
    "DATESTAMP_RFC822": r"%{DAY} %{MONTH} %{MONTHDAY} %{YEAR} %{TIME} %{TZ}",
    "DATESTAMP_RFC2822": r"%{DAY}, %{MONTHDAY} %{MONTH} %{YEAR} %{TIME} %{ISO8601_TIMEZONE}",
    "DATESTAMP_OTHER": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{TZ} %{YEAR}",
    "DATESTAMP_EVENTLOG": r"%{YEAR}%{MONTHNUM}%{MONTHDAY}%{HOUR}%{MINUTE}%{SECOND}",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    # syslog / logs
    "PROG": r"[\w._/%-]+",
    "SYSLOGPROG": r"%{PROG:program}(?:\[%{POSINT:pid}\])?",
    "SYSLOGHOST": r"%{IPORHOST}",
    "SYSLOGFACILITY": r"<%{NONNEGINT:facility}.%{NONNEGINT:priority}>",
    "SYSLOGBASE": r"%{SYSLOGTIMESTAMP:timestamp} (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource} %{SYSLOGPROG}:",
    "LOGLEVEL": r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|[Ii]nfo(?:rmation)?|INFO|[Ww]arn(?:ing)?|WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|CRIT(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|[Ee]merg(?:ency)?)",
    "COMMONAPACHELOG": (
        r'%{IPORHOST:clientip} %{USER:ident} %{USER:auth} \[%{HTTPDATE:timestamp}\] '
        r'"(?:%{WORD:verb} %{NOTSPACE:request}(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})" '
        r"%{NONNEGINT:response} (?:%{NONNEGINT:bytes}|-)"
    ),
    "COMBINEDAPACHELOG": r"%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}",
}

# %{NAME}, %{NAME:field} or %{NAME:field:type} (grok inline type)
_GROK_REF = re.compile(r"%\{(\w+)(?::([\w\[\]@.]+))?(?::(\w+))?\}")

# Oniguruma-style inline named capture in a literal segment —
# ``(?<queue_id>[0-9A-F]+)`` (logstash grok's documented alternative to
# defining a custom pattern); Python's ``(?P<name>`` spelling accepted
# too. Deliberately excludes lookbehind ``(?<=`` / ``(?<!``.
_NAMED_GROUP = re.compile(r"\(\?P?<([A-Za-z_][A-Za-z0-9_\[\]@.]*)>")

_INLINE_TYPES = {"int": "int", "long": "bigint", "float": "double", "double": "double"}

# NOTE on single-pass extraction: an anchored-regexp_replace trick
# (rewrite the row to "SEP$1SEP$2…" once, split on SEP) was built and
# MEASURED at 1M rows/local[32]: 5.6 s with a [\s\S] wrapper, 0.37 s per
# replace with (?s) dotall — but Catalyst inlines the replace into every
# derived column (no cross-column CSE), so k fields re-run it k+1 times
# (~1.5 s total), while k codegen'd regexp_extract + one rlike finish in
# 0.28-0.45 s. Per-field extraction IS the fast path; kept.


def _count_captures(s: str) -> int:
    """Capturing groups in a raw regex fragment.

    Counts unescaped ``(`` not followed by ``?``, skipping character
    classes — ``(`` inside ``[...]`` is a literal (URIPATH/URIPARAM
    contain such classes; counting those would shift every later group
    index). A ``]`` immediately after ``[`` or ``[^`` is literal too.
    Literal segments of a grok pattern are regex (grok semantics); users
    should write ``(?:`` for grouping — Java named groups in literal
    segments are unsupported.
    """
    n = 0
    i = 0
    in_class = False
    class_start = -1
    while i < len(s):
        c = s[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            # ']' is literal when it is the first member of the class
            first = i == class_start or (i == class_start + 1 and s[class_start] == "^")
            if c == "]" and not first:
                in_class = False
        elif c == "[":
            in_class = True
            class_start = i + 1
        elif c == "(" and (i + 1 >= len(s) or s[i + 1] != "?"):
            n += 1
        i += 1
    return n


def compile_grok(pattern: str, registry: dict[str, str] | None = None
                 ) -> tuple[str, list[tuple[str, int, str | None]], list[str]]:
    """Grok → (java_regex, [(field, group_index, inline_type)],
    [per-field expanded subregex]).

    ``%{NAME:field}`` references expand recursively (cycle-checked);
    references without a field become non-capturing groups; nested named
    captures inside base patterns (e.g. SYSLOGPROG's ``pid``) are
    resolved to their absolute group index. Literal segments pass through
    as regex, matching grok semantics — including Oniguruma-style inline
    named captures ``(?<name>...)`` (the grok filter's documented
    alternative to a custom pattern): the name is registered as a field
    at its absolute group index and the group is rewritten to a PLAIN
    capturing group in the emitted regex, so the output stays valid for
    Java, Python ``re``, and RE2 alike.
    """
    reg = registry if registry is not None else GROK_PATTERNS
    parts: list[str] = []
    fields: list[tuple[str, int, str | None]] = []
    field_subregex: list[str] = []
    ngroups = 0

    def emit_raw(s: str) -> None:
        """Emit a literal regex segment: count capturing groups (class-
        aware) and register/rewrite inline named captures."""
        nonlocal ngroups
        out: list[str] = []
        i, in_class, class_start = 0, False, -1
        while i < len(s):
            c = s[i]
            if c == "\\":
                out.append(s[i : i + 2])
                i += 2
                continue
            if in_class:
                first = i == class_start or (
                    i == class_start + 1 and s[class_start] == "^")
                if c == "]" and not first:
                    in_class = False
                out.append(c)
                i += 1
                continue
            if c == "[":
                in_class = True
                class_start = i + 1
                out.append(c)
                i += 1
                continue
            if c == "(":
                m = _NAMED_GROUP.match(s, i)
                if m:
                    ngroups += 1
                    fields.append((m.group(1), ngroups, None))
                    # conservative empty subregex: if this ends up as the
                    # first capture, the matched test keeps its own rlike
                    field_subregex.append("")
                    out.append("(")
                    i = m.end()
                    continue
                if i + 1 >= len(s) or s[i + 1] != "?":
                    ngroups += 1
            out.append(c)
            i += 1
        parts.append("".join(out))

    def walk(pat: str, stack: tuple[str, ...]) -> None:
        nonlocal ngroups
        pos = 0
        for m in _GROK_REF.finditer(pat):
            emit_raw(pat[pos : m.start()])
            name, fname, ftype = m.group(1), m.group(2), m.group(3)
            if name not in reg:
                raise ValueError(f"unknown grok pattern %{{{name}}}")
            if name in stack:
                raise ValueError(f"recursive grok pattern %{{{name}}}")
            if fname:
                ngroups += 1
                fields.append((fname, ngroups, _INLINE_TYPES.get(ftype) if ftype else None))
                parts.append("(")
                sub_start = len(parts)
                walk(reg[name], stack + (name,))
                field_subregex.append("".join(parts[sub_start:]))
                parts.append(")")
            else:
                parts.append("(?:")
                walk(reg[name], stack + (name,))
                parts.append(")")
            pos = m.end()
        emit_raw(pat[pos:])

    walk(pattern, ())
    return "".join(parts), fields, field_subregex


class GrokParser:
    """Compile a grok pattern into Catalyst extraction expressions.

    ``pattern_definitions`` mirrors the grok filter option: extra
    ``NAME → regex`` entries that may themselves reference other
    patterns. Inline types (``%{INT:dur:int}``) and the ``types``
    argument both cast captures; ``types`` wins on conflict.
    """

    def __init__(self, pattern: str, types: dict[str, str] | None = None,
                 pattern_definitions: dict[str, str] | None = None) -> None:
        self.pattern = pattern
        registry = dict(GROK_PATTERNS)
        if pattern_definitions:
            registry.update(pattern_definitions)
        self.regex, self.field_list, self._field_subregex = compile_grok(pattern, registry)
        if not self.field_list:
            raise ValueError(f"grok pattern has no captures: {pattern!r}")
        self.fields = [f for f, _, _ in self.field_list]
        self.types = {f: t for f, _, t in self.field_list if t}
        self.types.update(types or {})

    def extract(self, col: Column) -> dict[str, Column]:
        """field name → typed extracted Column (null when no match).

        Per-field ``regexp_extract`` — k codegen'd regex executions per
        row, measured faster than any single-execution rewrite (see the
        module note above).
        """
        out: dict[str, Column] = {}
        for fname, gidx, _ in self.field_list:
            c = F.regexp_extract(col, self.regex, gidx)
            # regexp_extract returns '' on miss; normalize to null like a
            # grok miss leaves the field unset.
            c = F.when(c == "", F.lit(None)).otherwise(c)
            t = self.types.get(fname)
            if t:
                c = c.cast(t)
            out[fname] = c
        return out

    def _match_needs_rlike(self) -> bool:
        """True when the matched test requires its own rlike pass.

        It can be skipped — ``matched ≡ first capture non-null`` — only
        when group 1 (a) can't capture '' on a successful match and
        (b) always participates in a match. (a): the recorded group-1
        subpattern must not fullmatch '' (Java-only constructs → be
        conservative). (b): the compiled regex must contain no top-level
        alternation and no quantifier applied to a group (either could
        leave group 1 unset while the whole pattern matches).
        """
        try:
            if re.fullmatch(self._field_subregex[0], "") is not None:
                return True
        except re.error:
            return True
        rx = self.regex
        i, in_class, class_start = 0, False, -1
        while i < len(rx):
            c = rx[i]
            if c == "\\":
                i += 2
                continue
            if in_class:
                # ']' first in the class (or after '^') is a literal —
                # same rule as _count_captures
                first = i == class_start or (
                    i == class_start + 1 and rx[class_start] == "^")
                if c == "]" and not first:
                    in_class = False
            elif c == "[":
                in_class = True
                class_start = i + 1
            elif c == "|":
                return True
            elif c == ")" and i + 1 < len(rx) and rx[i + 1] in "?*{":
                return True
            i += 1
        return False

    def extract_all(self, col: Column) -> tuple[Column, dict[str, Column]]:
        """(matched, field → Column) with true grok match semantics:
        matched ⇔ the regex matched, even if an optional or
        empty-capable capture is empty.

        Fast path: for patterns whose first capture provably consumes
        ≥1 char and always participates (INT/WORD/NOTSPACE-style — see
        ``_match_needs_rlike``), the matched test reuses the group-1
        extraction instead of paying a second full-regex pass per row
        (~10% of end-to-end pipeline cost at 1M rows).
        """
        cols = self.extract(col)
        if self._match_needs_rlike():
            return col.rlike(self.regex), cols
        return cols[self.fields[0]].isNotNull(), cols

    def apply(self, df: DataFrame, text_col: str = "text",
              matched_col: str = "parse_ok") -> DataFrame:
        matched, cols = self.extract_all(F.col(text_col))
        for name, c in cols.items():
            df = df.withColumn(name, c)
        return df.withColumn(matched_col, matched)


# The transcript payload pattern baked into the generator/fixtures.
TOOL_CALL_GROK = "tool_call=%{NOTSPACE:tool_call} status=%{WORD:status} dur_ms=%{INT:dur_ms}"


def parse_tool_calls(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Extract (tool_call, status, dur_ms, parse_ok) from turn text."""
    parser = GrokParser(TOOL_CALL_GROK, types={"dur_ms": "int"})
    return parser.apply(df, text_col=text_col)


class GrokPipeline:
    """Logstash-grok `match` semantics over several patterns.

    Logstash grok takes a LIST of patterns per field; with the default
    ``break_on_match => true`` the first matching pattern wins and later
    ones are skipped; if none match the event is tagged
    ``_grokparsefailure``. Compiled Spark-side as a chain of
    ``coalesce``-per-field over the per-pattern extractions — one
    codegen'd projection, no Python, no per-row loop.
    """

    def __init__(self, patterns: list[str], types: dict[str, str] | None = None,
                 tag_on_failure: tuple[str, ...] = ("_grokparsefailure",),
                 break_on_match: bool = True,
                 pattern_definitions: dict[str, str] | None = None) -> None:
        self.parsers = [GrokParser(p, types, pattern_definitions) for p in patterns]
        self.tag_on_failure = list(tag_on_failure)
        self.break_on_match = break_on_match
        self.fields: list[str] = []
        for p in self.parsers:
            for f_ in p.fields:
                if f_ not in self.fields:
                    self.fields.append(f_)

    def apply(self, df: DataFrame, text_col: str = "text",
              matched_col: str = "parse_ok", tags_col: str = "tags") -> DataFrame:
        text = F.col(text_col)
        # single-pass extraction per parser: one regex execution each,
        # true grok match semantics (matched ⇔ regex matched)
        results = [p.extract_all(text) for p in self.parsers]
        matches = [m for m, _ in results]
        per_parser = [cols for _, cols in results]
        if self.break_on_match:
            # first matching pattern wins for ALL its fields
            for f_ in self.fields:
                expr = None
                for m, p, cols in zip(matches, self.parsers, per_parser):
                    if f_ not in cols:
                        continue
                    branch = F.when(m, cols[f_])
                    expr = branch if expr is None else expr.when(m, cols[f_])
                df = df.withColumn(f_, expr.otherwise(F.lit(None)))
        else:
            # every pattern contributes; later patterns fill gaps
            for f_ in self.fields:
                cands = [cols[f_] for cols in per_parser if f_ in cols]
                df = df.withColumn(f_, F.coalesce(*cands) if len(cands) > 1 else cands[0])
        any_match = matches[0]
        for m in matches[1:]:
            any_match = any_match | m
        df = df.withColumn(matched_col, any_match)
        if self.tag_on_failure:
            from logstash_integration_jdbc_spark.operators.lookup import add_tags

            df = add_tags(df, ~any_match, self.tag_on_failure)
        return df


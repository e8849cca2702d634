"""Grok compiler + vectorized extraction (north_star parse stage)."""

from __future__ import annotations

import pytest

from logstash_integration_jdbc_spark.functions.parse import (
    GrokParser,
    parse_tool_calls,
)


def test_grok_compiles_named_captures():
    p = GrokParser("tool_call=%{NOTSPACE:tool_call} dur_ms=%{INT:dur_ms}")
    assert p.fields == ["tool_call", "dur_ms"]
    assert "(\\S+)" in p.regex and "([+-]?\\d+)" in p.regex


def test_unknown_grok_pattern_rejected():
    with pytest.raises(ValueError, match="unknown grok pattern"):
        GrokParser("%{NOPE:x}")


def test_extract_types_and_misses(spark):
    df = spark.createDataFrame(
        [("invoking tool_call=search status=ok dur_ms=123 tail",),
         ("no structured payload",)],
        "text string",
    )
    out = parse_tool_calls(df).collect()
    hit = next(r for r in out if r.parse_ok)
    miss = next(r for r in out if not r.parse_ok)
    assert hit.tool_call == "search" and hit.status == "ok" and hit.dur_ms == 123
    assert isinstance(hit.dur_ms, int)
    assert miss.tool_call is None and miss.dur_ms is None


def test_parse_stays_jvm_side(spark, transcripts):
    # The fast path must not contain Python evaluation: no BatchEvalPython
    # / ArrowEvalPython in the plan — the whole point of the grok compiler.
    plan = parse_tool_calls(transcripts)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_grok_registry_timestamp_iso8601(spark):
    p = GrokParser("%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:lvl} %{GREEDYDATA:msg}")
    df = spark.createDataFrame(
        [("2024-03-01T12:34:56.789Z ERROR disk on fire",),
         ("2024-03-01 12:34:56 INFO ok",),
         ("not a log line",)],
        "text string",
    )
    rows = {r.text: r for r in p.apply(df).collect()}
    r1 = rows["2024-03-01T12:34:56.789Z ERROR disk on fire"]
    assert r1.ts == "2024-03-01T12:34:56.789Z" and r1.lvl == "ERROR"
    assert r1.msg == "disk on fire" and r1.parse_ok
    assert rows["2024-03-01 12:34:56 INFO ok"].lvl == "INFO"
    assert not rows["not a log line"].parse_ok


def test_grok_pattern_definitions_and_inline_types(spark):
    p = GrokParser(
        "%{TICKET:ticket} took %{INT:ms:int}ms",
        pattern_definitions={"TICKET": r"[A-Z]{2,5}-%{POSINT}"},
    )
    df = spark.createDataFrame([("deploy JIRA-123 took 45ms",)], "text string")
    r = p.apply(df).first()
    assert r.ticket == "JIRA-123" and r.ms == 45 and isinstance(r.ms, int)


def test_grok_nested_named_captures(spark):
    # SYSLOGPROG expands to %{PROG:program}(\[%{POSINT:pid}\])? — nested
    # fields must land on their absolute group indices
    p = GrokParser("%{SYSLOGPROG:prog_raw}: %{GREEDYDATA:msg}")
    df = spark.createDataFrame([("sshd[4242]: accepted connection",)], "text string")
    r = p.apply(df).first()
    assert r.prog_raw == "sshd[4242]" and r.program == "sshd" and r.pid == "4242"
    assert r.msg == "accepted connection"


def test_grok_combined_apache_log(spark):
    line = ('93.180.71.3 - frank [18/Jul/2024:10:27:10 +0000] '
            '"GET /index.html HTTP/1.1" 200 2326 "http://example.com/start" "curl/7.29"')
    p = GrokParser("%{COMBINEDAPACHELOG}")
    r = p.apply(spark.createDataFrame([(line,)], "text string")).first()
    assert r.clientip == "93.180.71.3" and r.auth == "frank"
    assert r.verb == "GET" and r.request == "/index.html"
    assert r.response == "200" and r.bytes == "2326"
    assert r.referrer == '"http://example.com/start"'


def test_grok_recursive_definition_rejected():
    with pytest.raises(ValueError, match="recursive"):
        GrokParser("%{A:x}", pattern_definitions={"A": "%{B}", "B": "%{A}"})


def test_extract_all_matches_extract(spark):
    """Single-pass extraction must agree with per-field regexp_extract."""
    from pyspark.sql import functions as F

    p = GrokParser("tool_call=%{NOTSPACE:tc} status=%{WORD:st} dur_ms=%{INT:d}")
    df = spark.createDataFrame(
        [("x tool_call=a status=ok dur_ms=5 y",), ("garbage",), ("", ), (None,)],
        "text string",
    )
    matched, fast = p.extract_all(F.col("text"))
    slow = p.extract(F.col("text"))
    rows = df.select(
        *[fast[k].alias(f"f_{k}") for k in p.fields],
        *[slow[k].alias(f"s_{k}") for k in p.fields],
    ).collect()
    for r in rows:
        for k in p.fields:
            assert r[f"f_{k}"] == r[f"s_{k}"]


def test_count_captures_ignores_parens_in_char_class():
    from logstash_integration_jdbc_spark.functions.parse import _count_captures

    assert _count_captures(r"[()]") == 0
    assert _count_captures(r"[^)](a)") == 1
    assert _count_captures(r"[]()]") == 0        # ']' first in class is literal
    assert _count_captures(r"[^]()]") == 0       # same after '^'
    assert _count_captures(r"\[(a)\]") == 1      # escaped brackets do not open a class
    assert _count_captures(r"(a)[(](b)") == 2


@pytest.mark.parametrize("name", sorted(__import__(
    "logstash_integration_jdbc_spark.functions.parse", fromlist=["GROK_PATTERNS"]
).GROK_PATTERNS))
def test_grok_group_indices_match_compiled_regex(name):
    """Every registry pattern: the final field's assigned group index must
    equal the real group count of the compiled regex (regression for the
    char-class '(' miscount that shifted URI-family indices)."""
    import re

    from logstash_integration_jdbc_spark.functions.parse import compile_grok

    rx, fields, _ = compile_grok("%%{%s:a} %%{WORD:w}" % name)
    assert fields[-1][0] == "w"
    assert fields[-1][1] == re.compile(rx).groups


def test_uripath_extraction_not_shifted(spark):
    p = GrokParser("%{URIPATH:p} %{WORD:w}")
    rows = (
        spark.createDataFrame([("/api/v1/items hello",)], "text string")
        .select(*[c.alias(n) for n, c in p.extract(__import__(
            "pyspark.sql.functions", fromlist=["col"]).col("text")).items()])
        .collect()
    )
    assert rows[0].p == "/api/v1/items" and rows[0].w == "hello"


class TestInlineNamedCaptures:
    """Oniguruma-style (?<name>...) in literal segments — the grok
    filter's documented alternative to pattern_definitions."""

    def test_registered_and_rewritten_to_plain_groups(self):
        import re

        from logstash_integration_jdbc_spark.functions.parse import compile_grok

        rx, fields, _ = compile_grok(r"id=(?<queue_id>[0-9A-F]{10,11}) %{WORD:w}")
        assert [(f, i) for f, i, _ in fields] == [("queue_id", 1), ("w", 2)]
        assert "?<" not in rx            # rewritten to a plain group
        assert re.compile(rx).groups == 2
        m = re.search(rx, "id=ABCDEF01234 hello")
        assert m.group(1) == "ABCDEF01234" and m.group(2) == "hello"

    def test_python_style_spelling_accepted(self):
        from logstash_integration_jdbc_spark.functions.parse import compile_grok

        _rx, fields, _ = compile_grok(r"(?P<code>\d+)")
        assert fields[0][0] == "code"

    def test_lookbehind_not_mistaken_for_named_group(self):
        import re

        from logstash_integration_jdbc_spark.functions.parse import compile_grok

        rx, fields, _ = compile_grok(r"(?<=x)(?<val>\d+)")
        assert [f for f, _, _ in fields] == ["val"]
        assert rx.startswith("(?<=x)") and re.compile(rx).groups == 1

    def test_named_group_inside_char_class_is_literal(self):
        from logstash_integration_jdbc_spark.functions.parse import compile_grok

        rx, fields, _ = compile_grok(r"[(?<abc>]%{INT:n}")
        assert [f for f, _, _ in fields] == ["n"]
        assert rx.startswith(r"[(?<abc>]")

    def test_spark_extraction_end_to_end(self, spark):
        p = GrokParser(r"req (?<qid>[A-F0-9]+) took %{INT:ms:int}ms")
        df = spark.createDataFrame(
            [("req BEEF42 took 17ms",), ("garbage",)], "text string")
        rows = {bool(r.parse_ok): r for r in p.apply(df).collect()}
        assert rows[True].qid == "BEEF42" and rows[True].ms == 17
        assert rows[False].qid is None and rows[False].ms is None

    def test_group_index_arithmetic_with_mixed_sources(self):
        import re

        from logstash_integration_jdbc_spark.functions.parse import compile_grok

        rx, fields, _ = compile_grok(
            r"%{SYSLOGPROG} (?<sev>\w+) %{INT:code}")
        idx = {f: i for f, i, _ in fields}
        assert re.compile(rx).groups == max(idx.values())
        m = re.search(rx, "app[123] high 42")
        assert m.group(idx["program"]) == "app"
        assert m.group(idx["pid"]) == "123"
        assert m.group(idx["sev"]) == "high"
        assert m.group(idx["code"]) == "42"

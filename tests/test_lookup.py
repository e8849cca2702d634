"""Lookup enrichment semantics vs the reference
(/root/reference/lib/logstash/filters/jdbc/lookup.rb:92-109 — static;
/root/reference/lib/logstash/filters/jdbc_streaming.rb:125-138 — streaming;
/root/reference/lib/logstash/filters/jdbc/lookup_processor.rb:73-98 —
config validation)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.operators.lookup import (
    OK_COL,
    TAGS_COL,
    Lookup,
    LookupProcessor,
    streaming_lookup,
)


@pytest.fixture()
def dim(spark):
    return spark.createDataFrame(
        [("search", "search_v1", "retrieval"), ("bash", "bash_v1", "compute")],
        "tool string, tool_name string, tool_category string",
    )


@pytest.fixture()
def fact(spark):
    # one hit, one miss, one null-param (invalid)
    return spark.createDataFrame(
        [("c1", 0, "search"), ("c1", 1, "ghost"), ("c2", 0, None)],
        "conv_id string, turn_idx int, tool string",
    )


def mk_lookup(dim, **kw):
    base = dict(
        id="tool_info",
        dim=dim,
        on=[("tool", "=", "tool")],
        parameters={"tool": "[tool]"},
        select=["tool_name", "tool_category"],
        tag_on_failure=["_failure"],
        tag_on_default_use=["_default"],
    )
    base.update(kw)
    return Lookup(**base)


def by_key(df):
    return {(r.conv_id, r.turn_idx): r for r in df.collect()}


class TestStaticSemantics:
    def test_found_rows_become_array_of_struct(self, fact, dim):
        out = by_key(mk_lookup(dim).apply(fact))
        hit = out[("c1", 0)]
        assert [r.asDict() for r in hit.tool_info] == [
            {"tool_name": "search_v1", "tool_category": "retrieval"}
        ]
        assert hit[OK_COL] is True and hit[TAGS_COL] == []

    def test_empty_no_default_is_empty_array_and_successful(self, fact, dim):
        # valid + empty + no default → target=[], lookup still true
        # (lookup.rb:99-106: process_event(result) with empty payload).
        out = by_key(mk_lookup(dim).apply(fact))
        miss = out[("c1", 1)]
        assert miss.tool_info == []
        assert miss[OK_COL] is True
        assert miss[TAGS_COL] == []

    def test_empty_with_default_tags_and_substitutes(self, fact, dim):
        lk = mk_lookup(dim, default_hash={"tool_name": "unknown", "tool_category": "unknown"})
        out = by_key(lk.apply(fact))
        miss = out[("c1", 1)]
        assert [r.asDict() for r in miss.tool_info] == [
            {"tool_name": "unknown", "tool_category": "unknown"}
        ]
        assert miss[OK_COL] is True
        assert miss[TAGS_COL] == ["_default"]

    def test_invalid_param_tags_failure_no_target_blocks_match(self, fact, dim):
        lk = mk_lookup(dim, default_hash={"tool_name": "unknown", "tool_category": "unknown"})
        out = by_key(lk.apply(fact))
        bad = out[("c2", 0)]
        assert bad.tool_info is None  # target NOT set (enhance returns false)
        assert bad[OK_COL] is False
        assert bad[TAGS_COL] == ["_failure"]

    def test_multi_row_match_preserves_0_to_n(self, spark, fact):
        dup_dim = spark.createDataFrame(
            [("search", "a", "x"), ("search", "b", "y")],
            "tool string, tool_name string, tool_category string",
        )
        out = by_key(mk_lookup(dup_dim).apply(fact))
        names = sorted(r.tool_name for r in out[("c1", 0)].tool_info)
        assert names == ["a", "b"]

    def test_default_only_keys_widen_struct(self, fact, dim):
        lk = mk_lookup(dim, default_hash={"tool_name": "unknown", "note": "filled"})
        out = by_key(lk.apply(fact))
        assert out[("c1", 1)].tool_info[0].note == "filled"
        assert out[("c1", 0)].tool_info[0].note is None


class TestStreamingSemantics:
    def test_failure_also_defaults_and_always_matches(self, fact, dim):
        # jdbc_streaming.rb:125-138: failed → tag_failure AND tag_default
        # + default payload; target always set; filter_matched always.
        lk = mk_lookup(dim, default_hash={"tool_name": "unknown", "tool_category": "unknown"})
        out = by_key(streaming_lookup(fact, lk))
        bad = out[("c2", 0)]
        assert [r.asDict() for r in bad.tool_info] == [
            {"tool_name": "unknown", "tool_category": "unknown"}
        ]
        assert set(bad[TAGS_COL]) == {"_failure", "_default"}
        miss = out[("c1", 1)]
        assert miss[TAGS_COL] == ["_default"]
        hit = out[("c1", 0)]
        assert hit.tool_info[0].tool_name == "search_v1" and hit[TAGS_COL] == []


class TestThetaLookup:
    def test_like_pattern_from_event(self, spark):
        # WHERE name LIKE :pat with pat = "%%{[prefix]}%" — the integration
        # fixture shape (spec/filters/jdbc_static_spec.rb:62-67).
        dim = spark.createDataFrame(
            [("ldn-server-1", "LDN"), ("nyc-server-2", "NYC")],
            "name string, location string",
        )
        fact = spark.createDataFrame(
            [("c1", 0, "ldn"), ("c1", 1, "sfo")],
            "conv_id string, turn_idx int, prefix string",
        )
        lk = Lookup(
            id="srv", dim=dim, on=[("name", "like", "pat")],
            parameters={"pat": "%{prefix}%"}, select=["location"],
            default_hash={"location": "none"}, tag_on_default_use=["_d"],
        )
        out = by_key(lk.apply(fact, fact_key=["conv_id", "turn_idx"]))
        assert [r.location for r in out[("c1", 0)].srv] == ["LDN"]
        assert [r.location for r in out[("c1", 1)].srv] == ["none"]

    def test_theta_without_fact_key_raises(self, spark, dim):
        fact = spark.createDataFrame([("x",)], "prefix string")
        lk = Lookup(id="s", dim=dim, on=[("tool", "like", "p")],
                    parameters={"p": "%{prefix}%"})
        with pytest.raises(ValueError, match="fact_key"):
            lk.apply(fact)


class TestProcessorValidation:
    def test_duplicate_ids_rejected(self, dim):
        with pytest.raises(ValueError, match="duplicate lookup ids"):
            LookupProcessor([mk_lookup(dim), mk_lookup(dim)])

    def test_duplicate_targets_rejected(self, dim):
        with pytest.raises(ValueError, match="duplicate lookup targets"):
            LookupProcessor([mk_lookup(dim, id="a", target="t"),
                             mk_lookup(dim, id="b", target="t")])

    def test_id_used_as_target_when_omitted(self, dim):
        assert mk_lookup(dim).target == "tool_info"

    def test_combined_gate_requires_all(self, spark, fact, dim):
        role_dim = spark.createDataFrame([("user", "User")], "role string, role_label string")
        fact2 = fact.withColumn("role", F.lit("user"))
        proc = LookupProcessor([
            mk_lookup(dim),
            Lookup(id="role_info", dim=role_dim, on=[("role", "=", "role")],
                   parameters={"role": "[role]"}, select=["role_label"]),
        ])
        out = by_key(proc.enhance(fact2))
        assert out[("c1", 0)][OK_COL] is True
        assert out[("c2", 0)][OK_COL] is False  # tool lookup invalid → gate blocked


def test_failed_lookup_static_semantics(spark, tool_dim):
    """SQL-error path, jdbc_static flavor (lookup.rb:92-109): failure
    tags, target NOT set, gate false — batch-scoped negative cache."""
    from logstash_integration_jdbc_spark.operators.lookup import (
        OK_COL,
        Lookup,
        LookupProcessor,
    )

    fact = spark.createDataFrame([("search",), ("browser",)], "tool_call string")
    lk = Lookup(id="tool_info", dim=tool_dim,
                on=[("tool", "=", "t")], parameters={"t": "[tool_call]"},
                select=["tool_name"], tag_on_failure=["_lookup_fail"])
    out = LookupProcessor([lk]).enhance(fact, failed=["tool_info"]).collect()
    assert all(r["tool_info"] is None for r in out)
    assert all("_lookup_fail" in r["tags"] for r in out)
    assert all(r[OK_COL] is False for r in out)


def test_failed_lookup_streaming_semantics(spark, tool_dim):
    """jdbc_streaming flavor (statement_handler.rb:40-56 + filter
    :125-138): failure AND default tags, default target always set."""
    from logstash_integration_jdbc_spark.operators.lookup import (
        Lookup,
        streaming_lookup,
    )

    fact = spark.createDataFrame([("search",)], "tool_call string")
    lk = Lookup(id="tool_info", dim=tool_dim,
                on=[("tool", "=", "t")], parameters={"t": "[tool_call]"},
                select=["tool_name"], default_hash={"tool_name": "unknown"},
                tag_on_failure=["_fail"], tag_on_default_use=["_default"])
    r = streaming_lookup(fact, lk, dim_failed=True).first()
    assert [x["tool_name"] for x in r["tool_info"]] == ["unknown"]
    assert "_fail" in r["tags"] and "_default" in r["tags"]


@pytest.mark.parametrize("static", [True, False])
def test_failed_dimension_equals_per_row_failure(spark, tool_dim, static):
    """A batch whose dimension failed to load gives every row what a
    per-row failure (a missing parameter field) gives it: the same
    target, tags and gate. Without ``default_hash`` the streaming target
    is ``[{}]``, the analog of the reference's ``[@default_hash]``."""
    lk = Lookup(id="tool_info", dim=tool_dim,
                on=[("tool", "=", "t")], parameters={"t": "[tool_call]"},
                select=["tool_name"],
                tag_on_failure=["_fail"], tag_on_default_use=["_default"])
    per_row = lk.apply(spark.createDataFrame([(None,)], "tool_call string"),
                       static_semantics=static).first()
    failed = lk.apply_failed(spark.createDataFrame([("search",)], "tool_call string"),
                             static_semantics=static).first()
    for col in ("tool_info", TAGS_COL, OK_COL):
        assert failed[col] == per_row[col], col
    assert failed["tool_info"] == (None if static else [(None,)])
    assert sorted(failed[TAGS_COL]) == (["_fail"] if static else ["_default", "_fail"])


def test_failed_lookup_target_type_matches_ok_path(spark, tool_dim):
    """Degraded and healthy batches must produce union-compatible frames
    (a mid-stream dim outage can't break the sink schema)."""
    from logstash_integration_jdbc_spark.operators.lookup import Lookup, LookupProcessor

    fact = spark.createDataFrame([("search",)], "tool_call string")
    lk = Lookup(id="tool_info", dim=tool_dim,
                on=[("tool", "=", "t")], parameters={"t": "[tool_call]"},
                select=["tool_name", "tool_category"])
    ok = LookupProcessor([lk]).enhance(fact)
    bad = LookupProcessor([lk]).enhance(fact, failed=["tool_info"])
    assert ok.schema == bad.schema
    assert ok.unionByName(bad).count() == 2


class TestCompileOnce:
    """A lookup compiles its dimension side once and reuses it for every
    fact batch; each batch gets the answers a fresh lookup would give."""

    @pytest.fixture()
    def lk(self, spark):
        dim = spark.createDataFrame(
            [("search", "search_v1", "retrieval"), ("search", "search_v2", "retrieval"),
             (None, "nullkey", "none"), ("7", "seven", "digits")],
            "tool string, tool_name string, tool_category string",
        )
        # "note" is a default-only field: null in found rows
        return mk_lookup(dim, default_hash={"tool_name": "unknown", "note": "filled"})

    @staticmethod
    def rows(df):
        return {
            (r.conv_id, r.turn_idx): (
                None if r.tool_info is None else sorted(tuple(x) for x in r.tool_info),
                r[TAGS_COL], r[OK_COL])
            for r in df.collect()
        }

    def test_static_batches_share_one_compile(self, spark, lk, fact):
        default = [("unknown", None, "filled")]
        assert self.rows(lk.apply(fact)) == {
            # duplicate dimension keys → a 2-element target
            ("c1", 0): ([("search_v1", "retrieval", None), ("search_v2", "retrieval", None)],
                        [], True),
            # the null-keyed dimension row matches nothing
            ("c1", 1): (default, ["_default"], True),
            # missing fact field → failure tag, null target, gate false
            ("c2", 0): (None, ["_failure"], False),
        }
        compiled = lk._compiled
        ints = spark.createDataFrame([("c3", 0, 7), ("c3", 1, 8), ("c3", 2, None)],
                                     "conv_id string, turn_idx int, tool int")
        # an int fact key joins the string dimension key
        assert self.rows(lk.apply(ints)) == {
            ("c3", 0): ([("seven", "digits", None)], [], True),
            ("c3", 1): (default, ["_default"], True),
            ("c3", 2): (None, ["_failure"], False),
        }
        assert lk._compiled is compiled

    def test_streaming_after_static_keeps_its_semantics(self, lk, fact):
        lk.apply(fact).collect()
        default = [("unknown", None, "filled")]
        assert self.rows(streaming_lookup(fact, lk)) == {
            ("c1", 0): ([("search_v1", "retrieval", None), ("search_v2", "retrieval", None)],
                        [], True),
            ("c1", 1): (default, ["_default"], True),
            ("c2", 0): (default, ["_failure", "_default"], True),
        }

    def test_replaced_dimension_recompiles(self, spark, lk, fact):
        lk.apply(fact).collect()
        lk.dim = spark.createDataFrame([("ghost", "ghost_v1", "spooky")],
                                       "tool string, tool_name string, tool_category string")
        got = self.rows(lk.apply(fact))
        assert got[("c1", 1)] == ([("ghost_v1", "spooky", None)], [], True)
        assert got[("c1", 0)] == ([("unknown", None, "filled")], ["_default"], True)


def test_pipeline_lookups_follow_dimension_refresh(spark, fixture_dir, tmp_path):
    """``build_lookups`` hands back the same compiled processor until the
    dimension loader refreshes; the next enrich then sees the new rows."""
    from logstash_integration_jdbc_spark import pipeline

    schema = "tool string, tool_name string, tool_category string"
    tool_path = str(tmp_path / "tool_dim")
    spark.createDataFrame([("search", "search_v1", "retrieval")], schema).write.parquet(tool_path)
    cfg = pipeline.PipelineConfig(
        transcripts_path=str(tmp_path / "unused"), tool_dim_path=tool_path,
        role_dim_path=f"{fixture_dir}/role_dim.parquet", out_dir=str(tmp_path / "out"))
    fact = spark.createDataFrame([("c1", 0, "search", "user"), ("c1", 1, "bash", "user")],
                                 "conv_id string, turn_idx int, tool_call string, role string")

    def tool_info(proc):
        return {k: [tuple(x) for x in r.tool_info]
                for k, r in by_key(pipeline.enrich(fact, proc)).items()}

    proc = pipeline.build_lookups(spark, cfg)
    assert pipeline.build_lookups(spark, cfg) is proc
    assert tool_info(proc) == {("c1", 0): [("search_v1", "retrieval")],
                               ("c1", 1): [("unknown", "unknown")]}

    spark.createDataFrame([("search", "search_v2", "retrieval"), ("bash", "bash_v1", "compute")],
                          schema).write.mode("overwrite").parquet(tool_path)
    pipeline._dim(spark, "tool_dim", tool_path, cfg.max_dim_rows).refresh()
    fresh = pipeline.build_lookups(spark, cfg)
    assert fresh is not proc
    assert tool_info(fresh) == {("c1", 0): [("search_v2", "retrieval")],
                                ("c1", 1): [("bash_v1", "compute")]}

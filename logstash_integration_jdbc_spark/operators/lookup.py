"""Lookup enrichment — the heart of jdbc_static / jdbc_streaming.

Reference behavior being reproduced (verified against
/root/reference/lib/logstash/filters/jdbc/lookup.rb:92-109 and
/root/reference/lib/logstash/filters/jdbc_streaming.rb:125-138):

jdbc_static ``Lookup#enhance`` per event:
- parameters invalid (field missing) or SQL error → ``tag_on_failure``
  tags, target NOT set, lookup unsuccessful (→ blocks filter_matched);
- valid + empty result + default configured → ``tag_on_default_use``
  tags, target = [default_hash], successful;
- valid + empty result, no default → target = [] (empty array), successful;
- valid + rows → target = array of row-hashes, successful.
``filter_matched`` fires only when ALL lookups succeeded
(jdbc_static.rb:161-164, lookup_processor.rb:46-48).

jdbc_streaming ``filter`` per event:
- failure → ``tag_on_failure`` AND (payload empty) ``tag_on_default_use``
  + target = [default_hash]; target is ALWAYS set; filter_matched always.

Spark-first design — why there is no cache and no per-event loop:
the LRU+TTL cache (plugin_mixins/jdbc_streaming.rb:7-15) exists to dedup
repeated key probes; a broadcast hash join probes an executor-local hash
table per row, which *is* that cache with zero eviction policy needed.
The Derby index (db_object.rb:19) is the broadcast hash table. TTL/reload
semantics surface as re-broadcast between batches (DimensionLoader.refresh).

Physical shape: the dimension side is pre-aggregated to
``key → array<struct>`` (one row per key) and broadcast, so the fact side
needs NO shuffle and NO fact-side groupBy — at 100 TB the enrich stage is
a map-only stage. Non-equi (LIKE/theta) lookups fall back to a broadcast
nested-loop join + fact-key re-aggregation (documented slow path; prefer
rewriting prefix-LIKE as an equi key).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.functions.interpolate import param_expr

TAGS_COL = "tags"
OK_COL = "__lookups_ok"


def _ensure_tags(df: DataFrame) -> DataFrame:
    if TAGS_COL not in df.columns:
        df = df.withColumn(TAGS_COL, F.array().cast("array<string>"))
    return df


def _tag_expr(tags_col: Column, cond: Column, tags: Sequence[str]) -> Column:
    """``tags_col`` with ``tags`` appended where cond holds (set semantics)."""
    if not tags:
        return tags_col
    tagged = F.array_union(F.coalesce(tags_col, F.array().cast("array<string>")),
                           F.array(*[F.lit(t) for t in tags]))
    return F.when(cond, tagged).otherwise(tags_col)


def add_tags(df: DataFrame, cond: Column, tags: Sequence[str]) -> DataFrame:
    """Append tags where cond holds (set semantics, like Event#tag)."""
    if not tags:
        return df
    df = _ensure_tags(df)
    return df.withColumn(TAGS_COL, _tag_expr(F.col(TAGS_COL), cond, tags))


def _quote(name: str) -> str:
    """``name`` as a column reference that is never parsed as a path."""
    return "`" + name.replace("`", "``") + "`"


@dataclass
class Lookup:
    """One lookup: conceptually ``SELECT <select> FROM dim WHERE <on>``.

    ``on`` is a list of ``(dim_column, op, parameter_name)`` with op in
    {'=', 'like'}; ``parameters`` maps parameter name → scheme (field ref
    ``"[f]"``, interpolation ``"%{[f]}"``, or constant).
    """

    id: str
    dim: DataFrame
    on: list[tuple[str, str, str]]
    parameters: dict[str, Any]
    select: list[str] | None = None
    target: str | None = None
    default_hash: dict[str, Any] | None = None
    tag_on_failure: list[str] = dc_field(default_factory=list)
    tag_on_default_use: list[str] = dc_field(default_factory=list)
    _compiled: _Compiled | None = dc_field(default=None, init=False, repr=False,
                                           compare=False)

    def __post_init__(self) -> None:
        if self.target is None:
            # reference: lookup id doubles as target when target omitted
            # (lookup.rb "id_used_as_target").
            self.target = self.id
        if self.select is None:
            keys = {c for c, _, _ in self.on}
            self.select = [c for c in self.dim.columns if c not in keys]
        for _, op, _ in self.on:
            if op not in ("=", "like"):
                raise ValueError(f"lookup {self.id!r}: unsupported op {op!r}")

    # -- compiled pieces ---------------------------------------------------
    def _key_exprs(self) -> tuple[dict[str, Column], Column]:
        """parameter name → key expr, plus combined invalid predicate."""
        keys: dict[str, Column] = {}
        invalid: Column = F.lit(False)
        for name, scheme in self.parameters.items():
            expr, inv = param_expr(scheme)
            keys[name] = expr
            if inv is not None:
                invalid = invalid | inv
        return keys, invalid

    def _payload_fields(self) -> list[str]:
        extra = [k for k in (self.default_hash or {}) if k not in self.select]
        return list(self.select) + extra

    def _default_array(self) -> Column:
        """[default_hash] as array<struct> matching the payload shape."""
        fields = self._payload_fields()
        dh = self.default_hash or {}
        dim_types = dict(self.dim.dtypes)
        cols = []
        for f_ in fields:
            if f_ in dh:
                cols.append(F.lit(dh[f_]).alias(f_))
            else:
                cols.append(F.lit(None).cast(dim_types.get(f_, "string")).alias(f_))
        return F.array(F.struct(*cols))

    def _payload_struct(self) -> Column:
        """dim row → payload struct (default-only fields null)."""
        fields = self._payload_fields()
        dh = self.default_hash or {}
        cols = []
        for f_ in fields:
            if f_ in self.select:
                cols.append(F.col(f_).alias(f_))
            else:
                # default-only key: type it like the default value
                cols.append(F.lit(None).cast(_lit_type(dh[f_])).alias(f_))
        return F.struct(*cols)

    def _compile(self) -> _Compiled:
        if self._compiled is None or self._compiled.dim is not self.dim:
            self._compiled = _Compiled(self)
        return self._compiled

    # -- application -------------------------------------------------------
    def apply(self, fact: DataFrame, static_semantics: bool = True,
              fact_key: Sequence[str] | None = None) -> DataFrame:
        """Enrich ``fact`` with this lookup's target/tags/success columns:
        one join, then one ``select`` of compiled expressions."""
        return self._enrich(fact, static_semantics, fact_key, failed=False)

    def apply_failed(self, fact: DataFrame, static_semantics: bool = True) -> DataFrame:
        """Batch-scoped SQL-error path — the dimension was unavailable.

        The reference caches *failed* per-key probes (negative cache,
        jdbc_streaming/statement_handler.rb:40-56) and tags
        ``tag_on_failure`` on SQL errors; jdbc_static marks the lookup
        unsuccessful on SQL error (lookup.rb:92-109). The columnar batch
        equivalent: ONE load attempt per batch (the broadcast build *is*
        the cache; its failure is the negative entry), after which every
        row takes the per-row failure treatment without probing — the
        ``apply`` select over a NULL payload with every row invalid:

        - static: failure tags, target NOT set (null), gate false;
        - streaming: failure tags AND — payload being empty — default
          tags + default target; target always set, matched regardless.
        """
        return self._enrich(fact, static_semantics, None, failed=True)

    def _enrich(self, fact: DataFrame, static: bool,
                fact_key: Sequence[str] | None, failed: bool) -> DataFrame:
        c = self._compile()
        cols = fact.columns
        target, tags, ok = c.outputs(static, TAGS_COL in cols, OK_COL in cols, failed)
        if failed:
            joined = fact.withColumn("__payload", F.lit(None).cast(c.payload_type))
        elif c.right is not None:
            joined = fact.join(c.right, c.cond, "left")
        else:
            joined = self._apply_theta(fact, c.keys, fact_key)
        # fact columns in place (replaced where they exist), then the
        # new ones in the order withColumn would have appended them
        new = {TAGS_COL: tags, OK_COL: ok, self.target: target}
        out = [new.pop(n).alias(n) if n in new else F.col(_quote(n)) for n in cols]
        return joined.select(*out, *[e.alias(n) for n, e in new.items()])

    def _apply_theta(self, fact: DataFrame, keys: dict[str, Column],
                     fact_key: Sequence[str] | None) -> DataFrame:
        """LIKE/theta lookups: broadcast nested-loop + re-aggregate.

        Mirrors ``WHERE ip LIKE :ip`` with interpolated patterns
        (spec/filters/jdbc_static_spec.rb:62-67). Needs a unique fact key
        to reassemble 0..n matches into one array per fact row.
        """
        if not fact_key:
            raise ValueError(
                f"lookup {self.id!r}: non-equi lookup requires fact_key "
                "(unique fact columns) to aggregate matches"
            )
        fact_k = fact.select(*fact_key, *[keys[p].alias(f"__p_{p}") for p in self.parameters])
        cond = None
        for dim_col, op, pname in self.on:
            if op == "=":
                c = F.col(f"__p_{pname}") == self.dim[dim_col]
            else:  # like — pattern comes from the event side
                c = F.like(self.dim[dim_col], F.col(f"__p_{pname}"))
            cond = c if cond is None else (cond & c)
        matches = (
            fact_k.join(F.broadcast(self.dim), cond, "inner")
            .groupBy(*fact_key)
            .agg(F.collect_list(self._payload_struct()).alias("__payload"))
        )
        return fact.join(matches, list(fact_key), "left")


def _lit_type(v: Any) -> str:
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "bigint"
    if isinstance(v, float):
        return "double"
    return "string"


class _Compiled:
    """One lookup's dimension side and output expressions, built once per
    ``dim`` DataFrame and reused for every fact batch it enriches.

    Rebuilding them per batch re-analyzes the keyed aggregate, fetches
    its schema and builds a dozen expressions through py4j: about 0.2 s
    of driver time per scheduled run for two small dimensions.
    ``Lookup._compile`` rebuilds them when ``dim`` is replaced, so a
    ``DimensionLoader.refresh`` takes effect on the next batch.
    """

    def __init__(self, lk: Lookup) -> None:
        self.lk = lk
        self.dim = lk.dim
        self.keys, self.invalid = lk._key_exprs()
        equi = all(op == "=" for _, op, _ in lk.on)
        # Pre-aggregate the dim to one row per key → the broadcast hash
        # table IS the lookup index; the left join is map-only on the
        # fact. A theta lookup aggregates per batch (_apply_theta) and
        # takes only the payload type from here.
        dim_agg = (
            lk.dim.groupBy(*([F.col(d).alias(f"__k_{d}") for d, _, _ in lk.on] if equi else []))
            .agg(F.collect_list(lk._payload_struct()).alias("__payload"))
        )
        schema = dim_agg.schema
        self.payload_type = schema["__payload"].dataType
        self.right = F.broadcast(dim_agg) if equi else None
        self.cond: Column | None = None
        if equi:
            for dim_col, _, pname in lk.on:
                c = (self.keys[pname].cast(schema[f"__k_{dim_col}"].dataType)
                     == F.col(f"__k_{dim_col}"))
                self.cond = c if self.cond is None else (self.cond & c)
        self.default = lk._default_array()
        self._outputs: dict[tuple[bool, bool, bool, bool], tuple[Column, Column, Column]] = {}

    def outputs(self, static: bool, has_tags: bool, has_ok: bool,
                failed: bool) -> tuple[Column, Column, Column]:
        """(target, tags, gate) over the joined ``__payload``; the fact's
        own tags/gate columns are the base when it has them. ``failed``
        treats every row as invalid (the dimension could not be probed)."""
        key = (static, has_tags, has_ok, failed)
        if key not in self._outputs:
            tags = F.col(TAGS_COL) if has_tags else F.array().cast("array<string>")
            ok = F.col(OK_COL) if has_ok else F.lit(True)
            invalid = F.lit(True) if failed else self.invalid
            self._outputs[key] = self._build(static, tags, ok, invalid)
        return self._outputs[key]

    def _build(self, static: bool, tags: Column, ok: Column,
               invalid: Column) -> tuple[Column, Column, Column]:
        lk = self.lk
        payload = F.col("__payload")
        found = payload.isNotNull() & (F.size(payload) > 0)
        empty = payload.isNull() | (F.size(payload) == 0)
        use_default = lk.default_hash is not None
        tags = _tag_expr(tags, invalid, lk.tag_on_failure)
        if static:
            # invalid → failure tag, NULL target, lookup failed
            target = (
                F.when(invalid, F.lit(None).cast(self.payload_type))
                .when(found, payload)
                .otherwise(self.default if use_default
                           else F.coalesce(payload, F.array().cast(self.payload_type)))
            )
            tags = _tag_expr(tags, ~invalid & empty & F.lit(use_default), lk.tag_on_default_use)
            return target, tags, ok & ~invalid
        # jdbc_streaming: failure (≡ invalid here) tags failure AND, being
        # empty, tags default and substitutes the default array; the
        # target is always set; matched regardless.
        target = F.when(found & ~invalid, payload).otherwise(self.default)
        tags = _tag_expr(tags, invalid | empty, lk.tag_on_default_use)
        return target, tags, ok


class LookupProcessor:
    """Apply N lookups in one pass with config validation.

    Mirrors LookupProcessor (lookup_processor.rb:30-98): duplicate lookup
    ids and duplicate/overlapping targets are configuration errors; all
    lookups run against the same broadcast-resident store; the combined
    success gate feeds filter_matched.
    """

    def __init__(self, lookups: Sequence[Lookup]) -> None:
        ids = [lk.id for lk in lookups]
        if len(set(ids)) != len(ids):
            raise ValueError(f"duplicate lookup ids: {sorted(ids)}")
        targets = [lk.target for lk in lookups]
        if len(set(targets)) != len(targets):
            raise ValueError(f"duplicate lookup targets: {sorted(targets)}")
        self.lookups = list(lookups)

    def enhance(self, fact: DataFrame, fact_key: Sequence[str] | None = None,
                failed: Sequence[str] = ()) -> DataFrame:
        """All lookups + ``__lookups_ok`` gate column (filter_matched).

        ``failed`` names lookups whose dimension load failed this batch
        (e.g. a ``LoaderError`` from the count guard): those take the
        SQL-error path (``apply_failed``) instead of joining — the
        batch-scoped negative cache. Typical wiring::

            failed = [lk.id for lk in proc.lookups
                      if not loader_ok(loaders[lk.id])]
            proc.enhance(fact, failed=failed)
        """
        failed_set = set(failed)
        out = fact
        for lk in self.lookups:
            if lk.id in failed_set:
                out = lk.apply_failed(out, static_semantics=True)
            else:
                out = lk.apply(out, static_semantics=True, fact_key=fact_key)
        return out


def streaming_lookup(fact: DataFrame, lookup: Lookup,
                     fact_key: Sequence[str] | None = None,
                     dim_failed: bool = False) -> DataFrame:
    """jdbc_streaming semantics: target always set, default on empty/failure.

    ``dim_failed=True`` is the SQL-error path (negative-cache analog):
    failure + default tags on every row, default target substituted.
    """
    if dim_failed:
        return lookup.apply_failed(fact, static_semantics=False)
    return lookup.apply(fact, static_semantics=False, fact_key=fact_key)

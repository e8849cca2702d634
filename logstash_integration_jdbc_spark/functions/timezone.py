"""Timezone conversion with the reference's DST-ambiguity policy.

``jdbc_default_timezone => "tz[dst_enabled_on_overlap:true|false]"``
(/root/reference/lib/logstash/plugin_mixins/jdbc/timezone_proxy.rb:20-38,
docs/input-jdbc.asciidoc:334-363): naive DB-local timestamps are
converted to UTC; during the autumn DST overlap a wall-clock time is
ambiguous and the extension picks the DST (earlier-UTC) or standard
(later-UTC) reading instead of raising.

Spark's ``to_utc_timestamp`` silently picks one reading (the later,
non-DST offset). To honor the policy we detect ambiguity declaratively:
a wall time W is ambiguous iff converting W→UTC→W' round-trips to a
different wall time under the two candidate offsets. We implement it as:

    utc_std  = to_utc_timestamp(W, tz)                 # Spark's default pick
    utc_dst  = utc_std - (offset difference)           # the DST reading

Ambiguity test: W is in the overlap iff
``from_utc_timestamp(utc_std - 1h, tz) == W - 0h`` ... in practice the
robust declarative test is that both candidate instants map back to W.
All of it is plain Catalyst expressions — no UDF, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def local_to_utc(col: Column, tz: str, dst_enabled_on_overlap: bool = False) -> Column:
    """Naive-local → UTC with an explicit DST-overlap policy.

    ``dst_enabled_on_overlap=True``: ambiguous wall times take the DST
    (earlier-UTC) reading — empirically Spark's own pick in
    ``to_utc_timestamp`` (java.time resolves overlaps to the earlier
    offset). ``False``: take the standard-time (later-UTC) reading —
    computed as +1h from the DST reading when and only when that instant
    round-trips back to the same wall time (i.e. the wall time really is
    inside the overlap).
    """
    dst = F.to_utc_timestamp(col, tz)  # Spark picks the DST (earlier) reading
    if dst_enabled_on_overlap:
        return dst
    cand = dst + F.expr("INTERVAL 1 HOUR")
    roundtrip = F.from_utc_timestamp(cand, tz)
    return F.when(roundtrip == col, cand).otherwise(dst)


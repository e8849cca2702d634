"""Driver-contract registry checks for ``__spark_entry__``."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_every_query_has_an_oracle_and_no_orphans():
    # tools/check_oracles.py walks queries() only, so an oracle whose
    # query is gone would never be reported there
    assert set(entrymod.oracle_sql()) == set(entrymod.queries())

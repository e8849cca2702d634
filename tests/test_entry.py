"""Driver-contract registry checks for ``__spark_entry__``."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_every_query_has_an_oracle_and_no_orphans():
    # tools/check_oracles.py walks queries() only, so an oracle whose
    # query is gone would never be reported there
    assert set(entrymod.oracle_sql()) == set(entrymod.queries())


def test_every_private_helper_is_referenced():
    # a deleted query must not leave its builder, oracle helper or
    # shared CTE behind: every private module-level function or constant
    # is used at least once besides its own definition
    import ast
    from pathlib import Path

    tree = ast.parse(Path(entrymod.__file__).read_text())
    defined = {}
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            defined[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    defined[t.id] = node
    private = {n for n in defined if n.startswith("_") and not n.startswith("__")}
    used = set()
    for top in tree.body:
        for node in ast.walk(top):
            if (isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load)
                    and defined.get(node.id) is not top):
                used.add(node.id)
    assert sorted(private - used) == []


"""Driver-contract tests over the whole ``queries()`` surface.

The driver's canonicalizer (pandas sort + value-hash) crashes on
array/map/struct cells — round 1 lost two queries to exactly this
(``TypeError: unhashable type: 'list'``). These tests make the
contract structural so the failure class cannot return: every declared
query must emit only scalar top-level columns, carry an oracle (or be
a documented rows-only op), and use unambiguous column names.
"""

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

# Ops whose semantics are genuinely non-SQL-expressible may omit the
# oracle (driver falls back to a rows-only check) — list them HERE so
# an accidentally-dropped oracle fails loudly instead of silently
# downgrading the gate.
ROWS_ONLY_OK: set[str] = set()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_output_columns_are_scalar(spark, sf_dir, name):
    """No array/map/struct top-level output columns anywhere."""
    df = QUERIES[name](spark, sf_dir)
    complex_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not complex_cols, (
        f"{name} emits non-scalar columns {complex_cols}: the driver's "
        "canonicalizer cannot hash them — project a joined-string/digest "
        "instead (see embedding_quantize.q8)"
    )
    # The driver sorts columns case-insensitively: two names equal
    # after lower() would silently compare the wrong columns.
    lowered = [f.name.lower() for f in df.schema.fields]
    assert len(set(lowered)) == len(lowered), f"{name}: case-colliding columns {lowered}"


def test_every_query_has_an_oracle_or_is_declared():
    missing = set(QUERIES) - set(ORACLES) - ROWS_ONLY_OK
    assert not missing, f"queries with no oracle and not declared rows-only: {missing}"


def test_no_orphan_oracles():
    orphans = set(ORACLES) - set(QUERIES)
    assert not orphans, f"oracle_sql() entries with no matching query: {orphans}"


def test_docs_cover_every_query_and_refs_resolve():
    """SURVEY/README <-> code consistency: every registered query is
    documented; every module.function doc reference resolves; every
    package definition is reached from what runs, or kept with a
    reason."""
    from tools.coverage_check import (
        dangling_doc_refs,
        undocumented_queries,
        unreached_definitions,
    )

    assert undocumented_queries() == []
    assert dangling_doc_refs() == []
    assert unreached_definitions() == []

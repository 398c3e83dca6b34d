"""The local replica of the driver's correctness gate, as tests.

Runs every registered query against its DuckDB oracle at sf0.001
(row count + sorted columns + order-insensitive values — the driver's
methodology via tools/check_correctness.py). One red row here means a
red CORRECTNESS row in the next driver round.

Split per operator FAMILY (r7 verdict item 8): the single 195-query
test dominated the suite at 522s and a failure anywhere reported as
one opaque red — parametrizing by family makes a failing query name
itself (``test_family_matches_oracle[dedup]``) and enables CI-style
selection (``-k dedup``). A completeness check pins that the family
partition covers the registry exactly, so the split can never drop a
query from coverage.
"""

from __future__ import annotations

import os

import duckdb
import pytest


def _family(name: str, q) -> str:
    tags = tuple(getattr(q, "tags", ()) or ())
    if len(tags) > 1 and tags[0] == "pipeline":
        return tags[1]
    return tags[0] if tags else "untagged"


def _families() -> dict[str, list[str]]:
    from chapterhouseqe_spark.queries.registry import _ordered

    fams: dict[str, list[str]] = {}
    for name, q in _ordered().items():
        fams.setdefault(_family(name, q), []).append(name)
    return fams


_FAMILIES = _families()


@pytest.fixture(scope="module")
def duck(sf_dir):
    from tools.check_correctness import TABLES

    con = duckdb.connect()
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def test_family_partition_covers_registry_exactly():
    from chapterhouseqe_spark.queries.registry import get_queries

    all_names = sorted(get_queries())
    assert len(all_names) >= 50, "registry lost queries"
    partitioned = sorted(n for fam in _FAMILIES.values() for n in fam)
    assert partitioned == all_names


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_family_matches_oracle(spark, sf_dir, duck, family):
    from tools.check_correctness import compare

    from chapterhouseqe_spark.queries.registry import get_oracles, get_queries

    queries = get_queries()
    oracles = get_oracles()
    failures = []
    for name in sorted(_FAMILIES[family]):
        if name not in oracles:
            # rows-only contract: must at least build and return rows
            assert queries[name](spark, sf_dir).count() >= 0
            continue
        problems, _, _ = compare(
            name, queries[name](spark, sf_dir), oracles[name], duck
        )
        if problems:
            failures.append((name, problems[:3]))
    assert not failures, f"oracle mismatches: {failures}"


def test_entry_contract(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0
    names = set(entrymod.queries())
    oracle_names = set(entrymod.oracle_sql())
    assert oracle_names <= names
    assert len(oracle_names) >= 50

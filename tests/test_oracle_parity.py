"""THE correctness gate, locally: every __spark_entry__ queries() entry
vs its DuckDB oracle at sf0.01 (same sf the driver uses)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from smart_geocubes_spark.testing import run_gate

SF = "/root/testdata/sf0.01"

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(spark, name):
    problems = run_gate(spark, SF, name, _QUERIES[name], _ORACLES.get(name))
    assert not problems, f"{name}: " + "; ".join(problems)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns  # stable schema
    assert len(rows) >= 0


def test_oracle_series_bound_covers_documents():
    """Several oracle CTEs enumerate shingle/window positions with a
    fixed generate_series(1, 600): that silently assumes every document
    is short enough that 600 positions cover it. Pin the assumption —
    if the documents fixture ever grows past it, fail HERE with a clear
    message instead of a confusing value-hash mismatch."""
    import duckdb

    con = duckdb.connect()
    max_len = con.execute(
        f"SELECT max(length(text)) FROM '{SF}/documents.parquet'"
    ).fetchone()[0]
    # largest window any oracle slides is 13 chars (shingle k=13)
    assert max_len + 13 <= 600, (
        f"documents max text length {max_len} outgrew the oracle "
        "generate_series(1, 600) bound — raise the bound in queries.py"
    )
    # the bigram CTE enumerates TOKEN positions with the same bound
    max_toks = con.execute(
        f"SELECT max(len(string_split(text, ' '))) FROM '{SF}/documents.parquet'"
    ).fetchone()[0]
    assert max_toks + 2 <= 600, (
        f"documents max token count {max_toks} outgrew the oracle "
        "generate_series(1, 600) bound — raise the bound in queries.py"
    )


def test_every_query_has_oracle_or_is_flagged():
    missing = sorted(set(_QUERIES) - set(_ORACLES))
    # every query is oracle-checked as of round 2 (ann_lsh_topk and
    # tile_assign_polar gained shared-constant SQL oracles)
    allowed_rows_only: set[str] = set()
    assert set(missing) <= allowed_rows_only, f"queries without oracle: {missing}"


# sha256 over json.dumps(sorted(ORACLES.items())) and over the sorted
# query names: a refactor of the query layer must leave both unchanged
# (re-pin only for an intended oracle or registry change)
ORACLES_SHA256 = "530fbadf3db6fe805c31ebc10c1eda77d9b3a4b5c1cd3ffcc46d386c109330f1"
QUERY_NAMES_SHA256 = "defc5498121c53287c7918881695f4396e975650e6f75b5657feadd71a6c5e44"


def test_registry_and_oracles_pinned():
    import hashlib
    import json

    def sha(obj) -> str:
        return hashlib.sha256(json.dumps(obj).encode()).hexdigest()

    assert len(_QUERIES) == 104 and sorted(_QUERIES) == sorted(_ORACLES)
    assert sha(sorted(_QUERIES)) == QUERY_NAMES_SHA256
    assert sha(sorted(_ORACLES.items())) == ORACLES_SHA256

"""Static invariants of the driver contract (__spark_entry__) — no Spark.

The driver records AT MOST 50 queries per round (SURVEY §8), every query
needs an oracle (or a documented rows-only exemption), and the composite
oracles splice CTE chains from several helpers into one WITH block — a
duplicate CTE name there is a silent wrong-replay, not an error DuckDB
reliably reports. These are import-time properties; pin them here so a
refactor can't drift them.
"""

from __future__ import annotations

import re

import duckdb
import pytest

import __spark_entry__ as entry

# rows-only by design: the greedy eviction's difflib content distance is
# not SQL-expressible (VERDICT r5; its integer half IS oracled).
ROWS_ONLY = {"guards_eviction_docs"}


def test_contract_stays_under_driver_cap():
    assert len(entry.queries()) <= 50


def test_every_query_has_an_oracle_or_documented_exemption():
    q, o = set(entry.queries()), set(entry.oracle_sql())
    assert q - o == ROWS_ONLY
    assert not o - q, "orphan oracles (driver would never run them)"


def _cte_names(sql: str) -> list[str]:
    return re.findall(r"(\w+) AS(?: MATERIALIZED)? \(", sql)


@pytest.mark.parametrize("name", ["tiered_dedup_docs", "curation_pass_docs",
                                  "pipeline_pass_docs"])
def test_composite_oracles_have_unique_cte_names(name):
    names = _cte_names(entry.oracle_sql()[name])
    dupes = {n for n in names if names.count(n) > 1}
    assert not dupes, f"duplicate CTEs in {name}: {dupes}"


def test_all_oracles_parse_in_duckdb():
    """Bind every oracle against empty tables of the real schemas — catches
    a broken splice without paying a full sf0.01 replay — and reject any
    HUGEINT or DECIMAL output column: DuckDB hands those to pandas as
    float64 and to Arrow as decimal128, so a typed comparison against
    Spark's BIGINT fails even when every value matches (a bare sum() or
    list_sum() over BIGINT widens to HUGEINT; cast it back)."""
    from tools.oracle_check import wide_columns

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet' LIMIT 0")
    for name, sql in entry.oracle_sql().items():
        try:
            wide = wide_columns(con.sql(sql))
        except Exception as e:  # pragma: no cover - assertion formatting
            raise AssertionError(f"oracle {name} failed to parse: {e}") from e
        assert not wide, f"oracle {name} emits {wide}"

"""Catalog structure (no Spark): every entry is oracle-backed, and the
registry merge that builds ``ALL_QUERIES`` drops nothing."""

from __future__ import annotations

import airflow_crypto_btc_spark.plans.catalog as cat
from airflow_crypto_btc_spark.plans.catalog import ALL_QUERIES

# every *REGISTRY dict catalog.py imports, so a new registry is covered
# without editing this test
_REGISTRIES = {
    name: reg for name, reg in vars(cat).items() if name.endswith("REGISTRY")
}


def test_every_entry_has_oracle_sql() -> None:
    missing = [n for n, spec in ALL_QUERIES.items() if spec.sql is None]
    assert not missing, f"entries without oracle SQL: {missing}"


def test_no_name_is_registered_twice() -> None:
    # the ``**`` merge keeps the LAST duplicate and silently drops the
    # earlier one, so a clash would lose an entry without any error
    owners: dict[str, list[str]] = {}
    for reg_name, reg in _REGISTRIES.items():
        for q in reg:
            owners.setdefault(q, []).append(reg_name)
    dups = {q: regs for q, regs in owners.items() if len(regs) > 1}
    assert not dups, f"names registered in more than one registry: {dups}"
    assert sum(map(len, _REGISTRIES.values())) == len(ALL_QUERIES)

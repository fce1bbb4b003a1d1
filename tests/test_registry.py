"""Registry and driver-contract invariants (no SparkSession needed).

The contract is a set: every ``__spark_entry__.queries()`` entry with an
oracle must hash-match its ``oracle_sql()`` twin, and iteration order
carries no meaning beyond being deterministic (name order).

Env tolerance: ``e10_transform_with_state`` registers only when
google.protobuf is importable (streaming/queries.py gate).
"""

import __spark_entry__
from data_lake_staging_engine_spark.registry import registry

# Registered only when google.protobuf is available.
ENV_GATED = {"e10_transform_with_state"}


def test_spark_entry_contract_matches_registry():
    reg = registry()
    assert list(reg) == sorted(reg)
    assert __spark_entry__.queries().keys() == reg.keys()
    assert __spark_entry__.oracle_sql().keys() == {
        name for name, rq in reg.items() if rq.oracle is not None
    }


def test_survey_section2_enumerates_the_registry():
    """VERDICT r09 #2: SURVEY §2 'IS the contract', so its family tables
    must enumerate exactly what the registry serves — the registry must
    never be a superset of the tables (a23/a24/g27 were registered,
    driver-verified, QUERIES.md-documented, yet invisible to a reader
    auditing §2 table-by-table).  Parse every backticked query name out
    of §2's table rows and diff against the registry, modulo the
    documented env gate."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "SURVEY.md")) as f:
        text = f.read()
    sec2 = text.split("## 2.", 1)[1].split("\n## ", 1)[0]
    table_names = set()
    for line in sec2.splitlines():
        if line.lstrip().startswith("|"):
            m = re.match(r"\s*\|\s*`([a-z]\d+[a-z]?_[a-z0-9_]+)`", line)
            if m:
                table_names.add(m.group(1))
    reg = set(registry())
    missing_rows = reg - table_names - ENV_GATED
    assert not missing_rows, f"registered queries with no SURVEY §2 table row: {sorted(missing_rows)}"
    phantom_rows = table_names - reg - ENV_GATED
    assert not phantom_rows, f"SURVEY §2 rows with no registered query: {sorted(phantom_rows)}"

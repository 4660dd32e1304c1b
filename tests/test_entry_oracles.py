"""Every ``__spark_entry__.queries()`` entry against its ``oracle_sql()``
in DuckDB at sf0.001, with the entry gate's dtype-faithful comparison
(``tools/verify_entry.py``: canonical row multiset, column names, row
count, per-column dtype kinds)."""

import importlib.util
from pathlib import Path

import pytest

import __spark_entry__ as E

_spec = importlib.util.spec_from_file_location(
    "verify_entry", Path(__file__).resolve().parents[1] / "tools" / "verify_entry.py"
)
verify_entry = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(verify_entry)


@pytest.fixture(scope="module")
def oracle(sf_dir):
    if not Path(sf_dir).is_dir():
        pytest.skip(f"entry oracles need the sf0.001 test data at {sf_dir}")
    return verify_entry.oracle_connection(sf_dir)


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_entry_matches_oracle(spark, sf_dir, oracle, name):
    sdf = E.queries()[name](spark, sf_dir)
    problems = verify_entry.entry_problems(sdf, oracle, E.oracle_sql()[name])
    assert not problems, f"{name}: " + "; ".join(problems)

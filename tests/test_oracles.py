"""DuckDB oracle comparison for the banded near-dup queries, in the regular
suite: ``tools/check_oracles.py::check`` on the shared session at sf0.001.
``dedup_embedding_cosine`` in particular is compared against its oracle by
no other test."""

import importlib.util
from pathlib import Path

import pytest

SF_DIR = "/root/testdata/sf0.001"
QUERIES = ["dedup_minhash_lsh", "dedup_minhash_verified", "simhash_near_pairs", "dedup_embedding_cosine"]

_spec = importlib.util.spec_from_file_location(
    "check_oracles", Path(__file__).resolve().parent.parent / "tools" / "check_oracles.py"
)
check_oracles = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracles)


@pytest.mark.parametrize("name", QUERIES)
def test_banded_query_matches_oracle(spark, name):
    assert check_oracles.check(spark, SF_DIR, [name]) == []

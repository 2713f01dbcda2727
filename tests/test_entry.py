"""The driver contract's own hygiene: no dead builders or orphan
oracles in ``__spark_entry__.py``, and a streaming row that fails
honestly."""

import ast
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e

    return e


def _test_sources() -> str:
    tests = os.path.join(ROOT, "tests")
    return "\n".join(
        open(os.path.join(tests, f)).read()
        for f in sorted(os.listdir(tests))
        if f.endswith(".py")
    )


def test_every_builder_is_registered_or_tested(entry):
    """Every top-level ``q_*`` is a ``queries()`` entry, is called by
    another builder, or is used by a test (the branch pins compare
    union rows with their single-method builders); and every
    ``oracle_sql()`` key is a ``queries()`` key."""
    path = os.path.join(ROOT, "__spark_entry__.py")
    tree = ast.parse(open(path).read())
    builders = [
        n.name
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name.startswith("q_")
    ]
    called = {
        n.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Name) and n.id.startswith("q_")
    }
    registered = {f.__name__ for f in entry.queries().values()}
    tests = _test_sources()
    dead = [
        q
        for q in builders
        if q not in registered
        and q not in called
        and not re.search(rf"\b{q}\b", tests)
    ]
    assert dead == [], f"builders nothing runs: {dead}"
    orphans = sorted(set(entry.oracle_sql()) - set(entry.queries()))
    assert orphans == [], f"oracles no query reads: {orphans}"


def test_streaming_row_timeout_raises_and_stops(entry, spark, monkeypatch):
    """A stream that does not finish in time is stopped and raises
    TimeoutError; the row never returns the partial memory table."""
    from pyspark.sql.streaming.query import StreamingQuery

    monkeypatch.setattr(
        StreamingQuery, "awaitTermination", lambda self, timeout=None: False
    )
    before = {q.id for q in spark.streams.active}
    with pytest.raises(TimeoutError):
        entry.q_streaming_daily_agg(spark, "/root/testdata/sf0.001")
    assert {q.id for q in spark.streams.active} == before
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("sda_")
    ]

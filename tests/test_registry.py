"""Registry-level invariants + smoke execution of every query at
sf0.001 (the t1-scale gate; oracle parity runs in
tests/test_oracle_parity.py at the same scale)."""

from __future__ import annotations

import pytest

from fhir2sql_spark import registry

registry.load_all()


def test_all_queries_have_unique_names():
    assert len(registry.QUERIES) == len(set(registry.QUERIES))


def test_oracle_keys_subset_of_queries():
    assert set(registry.ORACLE) <= set(registry.QUERIES)


#: Each rows-only query (an engine-specific hash) -> the oracle-checked
#: query that runs the same dedup operator with a portable hash.
ORACLED_TWIN = {
    "q_dedup_minhash": "q_dedup_minhash_portable",
    "q_dedup_simhash": "q_dedup_simhash_portable",
    "q_dedup_minhash_inc_fast": "q_dedup_minhash_inc",
}


def test_every_query_is_oracled_or_shares_an_oracled_pipeline():
    """A query without an oracle must be the hash-injected twin of an
    oracled query: both call the same operators/dedup.py pipeline, so
    the oracle checks everything but the hash. A new rows-only query
    fails here until it gets an oracle or a twin."""
    from fhir2sql_spark.operators import dedup

    assert set(registry.QUERIES) - set(registry.ORACLE) == set(ORACLED_TWIN)
    pipelines = {
        name
        for name, fn in vars(dedup).items()
        if callable(fn) and getattr(fn, "__module__", None) == dedup.__name__
    }
    for rows_only, twin in ORACLED_TWIN.items():
        assert twin in registry.ORACLE
        shared = (
            set(registry.QUERIES[rows_only].__code__.co_names)
            & set(registry.QUERIES[twin].__code__.co_names)
            & pipelines
        )
        assert shared, (rows_only, twin)


#: Pin calls allowed outside operators/reuse.py, keyed by (module,
#: enclosing function, method): the sync's two scoped ``cache()`` pins,
#: released by an ExitStack when the sync returns or raises.
SCOPED_PINS = {("sync/pipeline.py", "sync_resources", "cache"): 2}


def test_every_pin_goes_through_reuse():
    """Queries and operators pin through ``operators/reuse.py::pin``
    only: a hand-placed localCheckpoint/checkpoint/persist/cache call
    anywhere else in the package fails here."""
    import ast
    from collections import Counter
    from pathlib import Path

    found: Counter = Counter()

    def visit(node: ast.AST, rel: str, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            elif (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr
                in ("localCheckpoint", "checkpoint", "persist", "cache")
            ):
                found[(rel, fn, child.func.attr)] += 1
            visit(child, rel, inner)

    pkg = Path(registry.__file__).resolve().parent
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel != "operators/reuse.py":
            visit(ast.parse(path.read_text(), filename=str(path)), rel, "<module>")
    assert dict(found) == SCOPED_PINS


def test_basket_pairs_leaves_no_cached_plan(spark, sf_dir):
    """A query's pin must not outlive its plan in the CacheManager: a
    persisted basket table made every later run in the session read
    the first run's blocks (an InMemoryRelation in its plan) instead
    of computing its own."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # other tests cache frames of their own
    for _ in range(2):
        df = registry.QUERIES["q_basket_pairs"](spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" not in plan, plan
        df.write.format("noop").mode("overwrite").save()
        assert cache_manager.isEmpty()


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_runs_and_has_rows(name, spark, sf_dir):
    df = registry.QUERIES[name](spark, sf_dir)
    # stable schema + executable plan + non-negative rows
    assert df.columns
    assert df.count() >= 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_showcase_covers_never_driver_checked():
    """Rotation invariant (data-driven so it survives future windows):
    every registered query that has NO row in any CORRECTNESS_r*.json
    must occupy a window slot (the driver gate samples a 50-query
    prefix); remaining slots re-confirm changed/oldest queries."""
    import glob
    import json
    from pathlib import Path

    assert len(registry.SHOWCASE) == 50
    assert len(set(registry.SHOWCASE)) == 50
    assert set(registry.SHOWCASE) <= set(registry.QUERIES)
    repo = Path(__file__).resolve().parent.parent
    confirmed: set[str] = set()
    for f in glob.glob(str(repo / "CORRECTNESS_r*.json")):
        confirmed |= set(json.load(open(f)))
    never_checked = set(registry.QUERIES) - confirmed
    missing = never_checked - set(registry.SHOWCASE)
    assert not missing, f"never-driver-checked queries outside window: {missing}"


def test_unpartitioned_window_parser():
    """The explain-audit sweep must flag single-task windows and pass
    partitioned, partition-only, and __pid-whitelisted forms."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from explain_audit import unpartitioned_windows

    unpart = (
        "+- Window [row_number() windowspecdefinition(id#0L ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) "
        "AS r#4], [id#0L ASC NULLS FIRST]"
    )
    part = (
        "+- Window [row_number() windowspecdefinition(k#1L, id#0L ASC NULLS "
        "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS r#7], [k#1L], [id#0L ASC NULLS FIRST]"
    )
    part_only = (
        "+- Window [sum(_w0#1) windowspecdefinition(l_partkey#2L, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "unboundedfollowing$())) AS s#3], [l_partkey#2L]"
    )
    pid_offset = (
        "+- Window [sum(__cnt#5L) windowspecdefinition(__pid#4 ASC NULLS "
        "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), -1)) "
        "AS __off#6L], [__pid#4 ASC NULLS FIRST]"
    )
    assert unpartitioned_windows(unpart)          # flagged
    assert not unpartitioned_windows(part)        # partitioned: fine
    assert not unpartitioned_windows(part_only)   # whole-frame agg: fine
    assert not unpartitioned_windows(pid_offset)  # O(partitions) rows: fine
    combined = "\n".join([part, unpart, pid_offset])
    assert len(unpartitioned_windows(combined)) == 1


def test_doc_counts_match_registry():
    """VERDICT r6 #8: README/SURVEY count claims must equal the
    registry truth (tools/counts.py is the single source; regenerate
    the doc lines from its output when this fails)."""
    from pathlib import Path

    from tools.counts import counts

    c = counts()
    n, e, r = c["queries"], c["exact_oracles"], c["rows_only"]
    repo = Path(__file__).resolve().parent.parent
    readme = (repo / "README.md").read_text()
    survey = (repo / "SURVEY.md").read_text()
    assert f"({e} hash-checked + {r} rows-only)" in readme
    assert f"{n}/{n} strict-matched ({e} exact hashes" in survey
    assert f"{e}/{e} oracles hash-identical" in survey

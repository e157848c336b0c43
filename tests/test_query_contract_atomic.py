"""Driver-hashability contract: every registered suite query returns only
atomic column types. The driver's correctness harness canonicalizes rows by
sorting and hashing cell values — array/map/struct cells crash it
(round 4's kg_paths: TypeError: unhashable type 'list'), so emitting one is
a guaranteed red row. This pins the whole surface: any future query that
adds a non-atomic column fails CI before it ever reaches a driver window.

Also pins the disjoint-BGP cartesian guard (match_pattern must refuse a
required pattern that shares no variable with the chain).
"""

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

SF = "/root/testdata/sf0.001"


def test_all_queries_return_atomic_columns_only(spark):
    from chatvector_ai_spark.suite import all_queries

    bad: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    for name, fn in all_queries().items():
        try:
            df = fn(spark, SF)  # plan construction; iterative ops run
        except Exception as exc:  # noqa: BLE001 — report, keep scanning
            errors[name] = f"{type(exc).__name__}: {exc}"
            continue
        nonatomic = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if nonatomic:
            bad[name] = nonatomic
    assert errors == {}, f"queries failed to build: {errors}"
    assert bad == {}, (
        f"queries with driver-unhashable (non-atomic) columns: {bad}"
    )


def test_match_pattern_rejects_disjoint_required_pattern(spark):
    from chatvector_ai_spark.operators.graph import match_pattern

    edges = spark.createDataFrame(
        [("a", "r", "b"), ("c", "q", "d")], "src string, rel string, dst string"
    )
    with pytest.raises(ValueError, match="cartesian"):
        match_pattern(edges, [("?a", "r", "?b"), ("?c", "q", "?d")])
    # explicit opt-in still works
    got = match_pattern(
        edges, [("?a", "r", "?b"), ("?c", "q", "?d")], allow_cartesian=True
    ).collect()
    assert {(r["a"], r["b"], r["c"], r["d"]) for r in got} == {("a", "b", "c", "d")}
    # all-constant existence patterns stay exempt
    got = match_pattern(edges, [("?a", "r", "?b"), ("c", "q", "d")]).collect()
    assert {(r["a"], r["b"]) for r in got} == {("a", "b")}
    # ... in EITHER position: an existence pattern listed FIRST must not
    # trip the guard (the chain so far is the one-row __exists__ frame)
    got = match_pattern(edges, [("c", "q", "d"), ("?a", "r", "?b")]).collect()
    assert {(r["a"], r["b"]) for r in got} == {("a", "b")}
    # and a FAILED leading existence pattern filters everything out
    got = match_pattern(edges, [("c", "q", "MISSING"), ("?a", "r", "?b")]).collect()
    assert got == []
    # an existence pattern mid-chain must not exempt a LATER disjoint
    # pattern from the guard
    mid_chain = [("?a", "r", "?b"), ("c", "q", "d"), ("?c", "q", "?d")]
    with pytest.raises(ValueError, match="cartesian"):
        match_pattern(edges, mid_chain)
    got = match_pattern(edges, mid_chain, allow_cartesian=True).collect()
    assert {(r["a"], r["b"], r["c"], r["d"]) for r in got} == {("a", "b", "c", "d")}

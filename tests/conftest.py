import pytest

from chatvector_ai_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="cvs-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g", "spark.sql.warehouse.dir": "/tmp/cvs-test-wh"},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def on_both_paths():
    """``on_both_paths(run)`` calls ``run()`` under the driver path of the
    graph operators (default ``CC_SMALL_CORE_EDGES``) and again under the
    distributed loop (threshold 0), and returns both results. The threshold
    is restored after each call, so the fixture is safe under Hypothesis."""
    from chatvector_ai_spark.operators import graph

    def run_both(run):
        results = []
        for threshold in (graph.CC_SMALL_CORE_EDGES, 0):
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(graph, "CC_SMALL_CORE_EDGES", threshold)
                results.append(run())
        return results

    return run_both

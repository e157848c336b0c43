"""Host-sized memory defaults of ``session.get_spark`` for local masters."""

from chatvector_ai_spark.session import local_memory

GIB = 1 << 30


def test_local_memory_scales_with_the_host_and_caps():
    assert local_memory(16 * GIB) == ("6553m", "4096m")
    assert local_memory(4 * GIB) == ("1638m", "1024m")
    # large hosts get the caps
    assert local_memory(64 * GIB) == ("12288m", "8192m")
    assert local_memory(30 * GIB) == ("12288m", "7680m")


def test_local_memory_leaves_the_host_headroom():
    for gib in (2, 8, 15, 24, 32, 256):
        heap, direct = (int(v[:-1]) for v in local_memory(gib * GIB))
        assert 0 < heap + direct <= gib * 1024 * 13 // 20  # at most 65% of RAM


def test_local_frame_rows_equal_the_list_built_frame(spark):
    """local_frame (Arrow -> LocalRelation) gives the rows createDataFrame
    gives over the same Python list: tuples and dicts, NULLs, empty
    input, and the alias dictionary's float32 embeddings."""
    from chatvector_ai_spark import datagen as dg
    from chatvector_ai_spark.session import local_frame

    schema = "k string, v bigint, xs array<float>"
    rows = [("a", 1, [0.1, 2.5]), (None, None, None), ("b", -(2**40), [])]
    want = spark.createDataFrame(rows, schema).collect()
    assert local_frame(spark, rows, schema).collect() == want
    dicts = [dict(zip(("k", "v", "xs"), r)) for r in rows]
    assert local_frame(spark, dicts, schema).collect() == want
    assert local_frame(spark, [], schema).count() == 0

    arrow = dg.alias_df(spark)
    listed = spark.createDataFrame(dg.alias_rows(), dg.ALIAS_SCHEMA_DDL)
    assert arrow.schema == listed.schema
    assert arrow.count() == listed.count() > 0
    assert arrow.exceptAll(listed).count() == 0
    assert listed.exceptAll(arrow).count() == 0


def test_local_session_jvm_runs_the_engine_flags(spark):
    """The JVM options of a local session reach the running JVM: the
    host-sized direct-memory cap and the C1-only JIT (the fixture sets only
    ``spark.driver.memory``, so both are the defaults)."""
    import re

    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory  # noqa: SLF001
    args = list(mx.getRuntimeMXBean().getInputArguments())
    assert "-XX:TieredStopAtLevel=1" in args
    assert any(re.fullmatch(r"-XX:MaxDirectMemorySize=\d+m", a) for a in args)

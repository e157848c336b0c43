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

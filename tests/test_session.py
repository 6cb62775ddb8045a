"""Session defaults that depend on the machine."""

from tsdat_spark.session import default_driver_memory

GIB = 1 << 30


def test_driver_memory_is_sixty_percent_of_physical_memory():
    assert default_driver_memory(15 * GIB) == "9g"
    assert default_driver_memory(64 * GIB) == "38g"
    # never below 1g, even on a tiny host
    assert default_driver_memory(GIB) == "1g"


def test_driver_memory_default_fits_physical_memory():
    import os

    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_gib = int(default_driver_memory().rstrip("g"))
    assert 1 <= heap_gib and (heap_gib * GIB <= phys or heap_gib == 1)

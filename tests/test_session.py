"""get_spark()'s pure helpers, tested without starting a session."""

from level_mapreduce_spark.session import _conf_met, _default_driver_memory

GIB = 1 << 30


def test_driver_memory_default_is_half_of_physical_capped():
    assert _default_driver_memory(16 * GIB) == "8g"
    assert _default_driver_memory(15 * GIB + 512 * (1 << 20)) == "7g"
    assert _default_driver_memory(1 * GIB) == "1g"  # floor
    assert _default_driver_memory(512 * GIB) == "48g"  # today's cap
    # derived from this machine's memory: a valid size at most the cap
    got = _default_driver_memory()
    assert got.endswith("g") and 1 <= int(got[:-1]) <= 48


def test_extra_java_options_met_when_contained():
    key = "spark.driver.extraJavaOptions"
    effective = (
        "-Djava.net.preferIPv6Addresses=false -XX:+IgnoreUnrecognizedVMOptions "
        "--add-opens=java.base/java.lang=ALL-UNNAMED -Dfoo=1 -Dbar=2"
    )
    assert _conf_met(key, "-Dfoo=1", effective)
    assert _conf_met(key, "-Dbar=2 -Dfoo=1", effective)
    assert not _conf_met(key, "-Dfoo=2", effective)
    assert not _conf_met(key, "-Dfoo=1", None)
    assert _conf_met("spark.executor.extraJavaOptions", "-Dfoo=1", effective)


def test_other_confs_compare_whole_value():
    assert _conf_met("spark.ui.enabled", "true", "TRUE")
    assert not _conf_met("spark.ui.enabled", "true", "false")
    assert not _conf_met("spark.ui.enabled", "true", None)
    # containment is only for java options
    assert not _conf_met("spark.sql.extensions", "a", "a b")

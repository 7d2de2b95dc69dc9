"""Session defaults that depend on the host, and the package's env reads."""

import ast
import pathlib

import geospatial_object_matching_spark
from geospatial_object_matching_spark.session import default_driver_memory

MEMINFO_16G = """MemTotal:       16479424 kB
MemFree:        15000000 kB
MemAvailable:   15500000 kB
"""


def test_driver_memory_is_60_percent_of_small_host():
    assert default_driver_memory(MEMINFO_16G) == "9655m"


def test_driver_memory_caps_at_24g_on_large_host():
    assert default_driver_memory("MemTotal:       263856128 kB\n") == "24g"


def test_driver_memory_falls_back_to_24g_when_unreadable():
    assert default_driver_memory(None) == "24g"
    assert default_driver_memory("") == "24g"
    assert default_driver_memory("MemFree: 100 kB\n") == "24g"
    assert default_driver_memory("MemTotal: lots kB\n") == "24g"


def _env_reads(tree):
    """(name or None, line) of every ``os.environ`` / ``os.getenv`` read in
    ``tree``; the name is None when it is not a string literal."""

    def is_environ(node):
        return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
            isinstance(node, ast.Name) and node.id == "environ"
        )

    def literal(node):
        ok = isinstance(node, ast.Constant) and isinstance(node.value, str)
        return node.value if ok else None

    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            env_get = f.attr == "get" and is_environ(f.value)
            getenv = f.attr == "getenv"
            if (env_get or getenv) and node.args:
                yield literal(node.args[0]), node.lineno
        elif isinstance(node, ast.Subscript) and is_environ(node.value):
            yield literal(node.slice), node.lineno
        elif isinstance(node, ast.Compare) and any(
            is_environ(c) for c in node.comparators
        ):
            yield literal(node.left), node.lineno


def test_only_deployment_settings_are_read_from_the_environment():
    """Engine behaviour is set in code, not by env knobs: the only
    ``SPARK_GRAFT_*`` variables the package reads are the two deployment
    settings, and every env read names its variable literally."""
    pkg = pathlib.Path(geospatial_object_matching_spark.__file__).parent
    names = {}
    for path in sorted(pkg.rglob("*.py")):
        for name, line in _env_reads(ast.parse(path.read_text())):
            where = f"{path.relative_to(pkg)}:{line}"
            assert name is not None, f"env read with a computed name at {where}"
            names.setdefault(name, where)
    graft = {n for n in names if n.startswith("SPARK_GRAFT_")}
    assert graft == {"SPARK_GRAFT_MASTER", "SPARK_GRAFT_DRIVER_MEM"}, names

"""Design rules the package keeps, checked on its source.

The engine never rewrites shared session config mid-call: a conf a
caller set must read the same during and after any engine call, and a
concurrent caller on the same session must never see the engine's
value. So no module under ``qbeast_spark_spark/`` calls
``<x>.conf.set(...)`` or ``<x>.conf.unset(...)``. The bench query
registry (``queries*.py``) is exempt: it builds its own read session's
frames (``queries_common._events`` sets a parquet read conf)."""

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "qbeast_spark_spark")


def _conf_writes(tree):
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("set", "unset")):
            continue
        owner = node.func.value
        if isinstance(owner, ast.Call):         # x.conf().set(...)
            owner = owner.func
        if isinstance(owner, ast.Attribute) and owner.attr == "conf":
            yield node.lineno


def test_no_session_conf_writes_outside_the_query_registry():
    found = []
    checked = 0
    for root, _, names in os.walk(PKG):
        for name in names:
            if not name.endswith(".py") or name.startswith("queries"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            checked += 1
            found += [f"{os.path.relpath(path, PKG)}:{line}"
                      for line in _conf_writes(tree)]
    assert checked > 40, checked
    assert found == [], found


def test_the_rule_sees_conf_writes():
    src = ("spark.conf.set('k', 'v')\n"
           "df.sparkSession.conf.unset('k')\n"
           "spark._jsparkSession.conf().set('k', 'v')\n"
           "spark.conf.get('k')\n"
           "s.set('k')\n")
    assert list(_conf_writes(ast.parse(src))) == [1, 2, 3]

"""The media decode-and-quarantine kernel (operators/media.py): what it
quarantines, what it lets fail, and that no operator module
re-introduces a catch-all handler around it. The WebP pixel stub's
NotImplementedError staying quarantined is pinned by
test_webp.py::test_webp_quarantines_from_decode_stats."""

import ast
import os

import pytest
from pyspark.errors import PythonException
from pyspark.sql import types as T

from loc2vec_spark.operators.media import map_media, with_ok

SCHEMA = with_ok(T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("n", T.IntegerType()),
]))


def _df(spark):
    return spark.createDataFrame(
        [("a", bytearray(b"xy")), ("bad", bytearray(b"xyz")),
         ("null", None)], "id STRING, bytes BINARY")


def _raising(exc):
    def fn(rid, decoded):
        if rid == "bad":
            raise exc("planted")
        return [(rid, True, len(decoded))]
    return fn


def test_value_error_quarantines_one_row(spark):
    out = map_media(_df(spark), "id", bytes, _raising(ValueError),
                    SCHEMA).collect()
    assert sorted(tuple(r) for r in out) == [("a", True, 2),
                                             ("bad", False, None)]


def test_other_exceptions_fail_the_job(spark):
    df = map_media(_df(spark), "id", bytes, _raising(KeyError), SCHEMA)
    with pytest.raises(PythonException, match="KeyError"):
        df.collect()


def test_fan_out_and_empty_rows(spark):
    out = map_media(_df(spark), "id", bytes,
                    lambda rid, b: [(rid, True, i) for i in range(len(b))
                                    if rid != "a"], SCHEMA).collect()
    assert sorted(tuple(r) for r in out) == [("bad", True, i)
                                             for i in range(3)]


# The one catch-all handler allowed under operators/: the JVM-gateway
# probe, which catches a missing Spark Connect gateway, not decode errors.
ALLOWED_CATCH_ALL = [("pq.py", "read_pq_meta")]


def _catch_all(handler: ast.ExceptHandler) -> bool:
    t = handler.type
    names = t.elts if isinstance(t, ast.Tuple) else [t]
    return t is None or any(isinstance(n, ast.Name) and
                            n.id in ("Exception", "BaseException")
                            for n in names)


class _CatchAlls(ast.NodeVisitor):
    """Collects (enclosing function, line) of every catch-all handler."""

    def __init__(self):
        self.scope, self.found = ["<module>"], []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    def visit_ExceptHandler(self, node):
        if _catch_all(node):
            self.found.append((self.scope[-1], node.lineno))
        self.generic_visit(node)


def test_operators_have_no_catch_all_handlers():
    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "loc2vec_spark", "operators")
    found = []
    for name in sorted(os.listdir(root)):
        if name.endswith(".py"):
            with open(os.path.join(root, name)) as f:
                v = _CatchAlls()
                v.visit(ast.parse(f.read()))
            found += [(name, fn, line) for fn, line in v.found]
    assert [(f, fn) for f, fn, _ in found] == ALLOWED_CATCH_ALL, found

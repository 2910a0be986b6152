"""The shared-view contract (operators/planmemo.py): every ``@shared_view``
in the package returns one memoized plan per session, re-applies its
declared storage level after ``clearCache``, and ``reset_plan_memos``
drops it together with the ``literal_table`` memo entries. The views are
found by an AST scan, so a new one is covered without editing this file.
"""

from __future__ import annotations

import ast
import importlib
import os
import re

import pytest
from pyspark.storagelevel import StorageLevel

from ccirecommenderdatapipeline_spark.operators.literals import literal_table
from ccirecommenderdatapipeline_spark.operators.planmemo import reset_plan_memos
from tests.conftest import SF_SMALL

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "ccirecommenderdatapipeline_spark",
)
PLANMEMO = os.path.join("operators", "planmemo.py")


def _modules():
    for root, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path) as f:
                    yield os.path.relpath(path, PKG), ast.parse(f.read())


def _declared_views():
    """(module, function, declared StorageLevel or None) per @shared_view."""
    views = []
    for rel, tree in _modules():
        module = rel[: -len(".py")].replace(os.sep, ".")
        for node in ast.walk(tree):
            if not isinstance(node, ast.FunctionDef):
                continue
            for deco in node.decorator_list:
                if isinstance(deco, ast.Call) and getattr(deco.func, "id", None) == "shared_view":
                    level = None
                    for kw in deco.keywords:
                        assert kw.arg == "persist", ast.dump(deco)
                        assert isinstance(kw.value, ast.Attribute), ast.dump(deco)
                        level = getattr(StorageLevel, kw.value.attr)
                    views.append((module, node.name, level))
    return views


VIEWS = _declared_views()


def test_shared_views_are_found():
    assert len(VIEWS) == 16
    assert ("sources.prices", "prices_view", None) in VIEWS


@pytest.mark.parametrize(
    "module,name,level", VIEWS, ids=[f"{m}.{n}" for m, n, _ in VIEWS]
)
def test_shared_view_contract(spark, module, name, level):
    view = getattr(importlib.import_module(f"ccirecommenderdatapipeline_spark.{module}"), name)
    want = StorageLevel.NONE if level is None else level
    reset_plan_memos(spark)
    first = view(spark, SF_SMALL)
    assert view(spark, SF_SMALL) is first
    assert first.storageLevel == want
    # clearCache unregisters every cache entry; the next return restores
    # the declared marker (and an unpersisted view stays unpersisted)
    spark.catalog.clearCache()
    assert view(spark, SF_SMALL) is first
    assert first.storageLevel == want
    lit = literal_table(spark, [(1, "a")], "k INT, v STRING")
    assert literal_table(spark, [(1, "a")], "k INT, v STRING") is lit
    reset_plan_memos(spark)
    assert view(spark, SF_SMALL) is not first
    assert literal_table(spark, [(1, "a")], "k INT, v STRING") is not lit


def test_only_planmemo_touches_the_plan_memo():
    """One way to share a view: outside operators/planmemo.py nothing calls
    ``plan_memo`` or touches a ``_*_cache`` attribute (by name or by
    string), and the memo primitive ``session_memo`` has one direct
    caller, ``literal_table``'s content key. Spark-free: an AST scan
    (docstrings and comments do not count)."""
    cache_attr = re.compile(r"^_\w*_cache$")
    hits = []
    for rel, tree in _modules():
        if rel == PLANMEMO:
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and cache_attr.match(node.attr):
                hits.append((rel, node.attr))
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if cache_attr.match(node.value):
                    hits.append((rel, node.value))
            if isinstance(node, ast.Call):
                fn = node.func
                called = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
                if called == "plan_memo" or (
                    called == "session_memo" and rel != os.path.join("operators", "literals.py")
                ):
                    hits.append((rel, called))
    assert not hits, f"plan memo used outside operators/planmemo.py: {hits}"

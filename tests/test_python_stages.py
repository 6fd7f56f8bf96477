"""One Python worker per task slot on the ingest and query paths.

A task runs one Python worker per Python evaluation node in its stage.
Two such nodes chained inside one stage hold two workers per task slot
(each a full interpreter with numpy/pandas/pyarrow), and a UDF that two
nodes evaluate runs its kernel twice. The executed plans of the feature
build and the changeset recompute must have neither shape; the kNN
result plan has no Python node at all.
"""

import glob
import os
import re

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ingest_spark.operators import extract
from ingest_spark.operators.changeset import Changeset, apply_changeset
from ingest_spark.operators.features import (
    build_features, node_features, relation_features, way_features)
from ingest_spark.operators.spatial import knn_join_h3, with_cells
from ingest_spark.plans.pipeline import run_ingest
from ingest_spark.sources import pages as pages_src

_PY_EVAL = re.compile(r"Python|InPandas|InArrow")
# a stage ends below an exchange or the query stage AQE wraps round
# one; a cached relation and a reused exchange were computed by other
# jobs and are not walked
_STAGE_END = re.compile(r"ExchangeExec$|QueryStageExec$")
_NOT_WALKED = {"InMemoryTableScanExec", "ReusedExchangeExec"}


def _name(obj) -> str:
    return obj.getClass().getSimpleName()


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _udf_calls(node) -> set:
    """Every Python UDF call ``node`` evaluates, chained ones included,
    as text: the function with its input and result attribute ids. A
    call pushed into two union branches reads other inputs in each."""
    calls, todo = set(), _seq(node.expressions())
    while todo:
        e = todo.pop()
        if _name(e) == "PythonUDF":
            calls.add(e.toString())
        todo.extend(_seq(e.children()))
    return calls


def python_stage_faults(df: DataFrame) -> list[str]:
    """Python-eval nodes of ``df``'s executed plan that sit above
    another one in the same stage, and UDFs that two nodes evaluate."""
    faults, seen = [], set()

    def walk(node, py_above: bool):
        kind = _name(node)
        if kind == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), py_above)
        if kind in _NOT_WALKED:
            return
        if _STAGE_END.search(kind):
            if kind.endswith("QueryStageExec"):
                return walk(node.plan(), False)
            py_above = False
        elif _PY_EVAL.search(kind):
            if py_above:
                faults.append(f"two Python nodes in one stage: {kind} below another")
            for call in _udf_calls(node):
                if call in seen:
                    faults.append(f"{call} evaluated by two nodes")
                seen.add(call)
            py_above = True
        for child in _seq(node.children()):
            walk(child, py_above)

    walk(df._jdf.queryExecution().executedPlan(), False)
    return faults


def _elements(spark):
    return extract.parse_elements(pages_src.fixture_pages(spark))


def test_feature_build_runs_one_python_node_per_stage(spark):
    n, w, r = _elements(spark)
    df = with_cells(build_features(n, w, r, spark))
    assert df.count() > 0
    assert python_stage_faults(df) == []


def test_changeset_on_ingest_table_runs_one_python_node_per_stage(spark, tmp_path):
    pages = pages_src.fixture_pages(spark)
    feats = run_ingest(spark, pages, str(tmp_path), optimize_grid=None).features
    nodes, ways, rels = extract.parse_elements(pages)
    cs = Changeset(
        nodes_upsert=spark.createDataFrame(
            [(2000, 13.04, 37.04, {"highway": "bus_stop"})],
            "id long, lon double, lat double, tags map<string,string>",
        ),
        way_deletes=[555],
    )
    merged = apply_changeset(spark, feats, nodes, ways, rels, cs)[0]
    assert merged.count() > 0
    assert python_stage_faults(merged) == []


def test_knn_result_plan_has_no_python_node(spark):
    rng = np.random.default_rng(5)
    lon, lat = rng.uniform(-15, 15, 1000), rng.uniform(-15, 15, 1000)
    pts = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(lon, lat))],
        "id long, lon double, lat double",
    )
    # the far query is routed by a coarse level's counts, the others by
    # fine ones, so the probe reads several pyramid levels
    qs = spark.createDataFrame(
        [(i, float(lon[i]), float(lat[i])) for i in range(0, 1000, 100)] + [(-1, 100.0, 60.0)],
        "qid long, lon double, lat double",
    )
    stats: dict = {}
    out = knn_join_h3(pts, qs, k=5, res=3, stats_out=stats)
    assert out.count() == 11 * 5
    assert stats["n_queries"] == 11, stats
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not _PY_EVAL.search(plan), plan


def test_feature_table_layout_is_rebalanced(spark, tmp_path):
    """The rebalance ends the encode stages, so the written table has
    fewer files than the bare union wrote; the rows are the same."""
    n, w, r = _elements(spark)
    new = with_cells(build_features(n, w, r, spark))
    bare = with_cells(
        node_features(n, spark)
        .unionByName(way_features(w, n, spark))
        .unionByName(relation_features(r, w, n, spark))
    )
    assert "REBALANCE_PARTITIONS" in new._jdf.queryExecution().executedPlan().toString()

    def write(df, name):
        path = str(tmp_path / name)
        df.write.parquet(path)
        return len(glob.glob(os.path.join(path, "*.parquet"))), spark.read.parquet(path)

    n_new, t_new = write(new, "new")
    n_bare, t_bare = write(bare, "bare")
    assert n_new < n_bare, (n_new, n_bare)

    def rows(t):
        return sorted(tuple(r) for r in t.collect())

    assert rows(t_new) == rows(t_bare)

    def digest(t):
        return t.agg(F.sum(F.xxhash64("id", "encoded").cast("decimal(38,0)"))).first()[0]

    assert digest(t_new) == digest(t_bare)

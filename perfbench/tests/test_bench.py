"""Tests of the benchmark itself; none starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from ingest_spark.functions import georender as gr  # noqa: E402
from ingest_spark.functions import tags as tg  # noqa: E402
from perfbench import checks, gen, metrics, wl_ingest, wl_query  # noqa: E402
from perfbench.common import quantile  # noqa: E402
from perfbench.sparkstats import _PY_NODE  # noqa: E402


# ------------------------------------------------------------ generator

def test_same_seed_same_pages(tmp_path):
    a, _ = gen.build_elements(7, 2_000, "cell", 0.5)
    b, _ = gen.build_elements(7, 2_000, "cell", 0.5)
    c, _ = gen.build_elements(8, 2_000, "cell", 0.5)
    assert a.page_texts() == b.page_texts()
    assert a.page_texts() != c.page_texts()
    assert gen.write_pages(a, str(tmp_path / "p")) == 2_000
    t = pq.read_table(str(tmp_path / "p"))
    assert t.num_rows == 2_000
    assert t.schema.names == ["url", "warc_ts", "html", "text", "lang"]


def test_fixture_pages_and_hot_share():
    el, _ = gen.build_elements(1, 2_000, "cell", 0.5)
    texts = [t for _, t in el.page_texts()]
    assert "geo:node id=1312 lon=13.02 lat=37.0 tags=amenity=cafe" in texts
    assert ("geo:relation id=700 members=way:outer:600;way:inner:601 "
            "tags=type=multipolygon|natural=water|name=cool lake") in texts
    assert len(el.hot_ids) == round(0.5 * len(el.nodes))
    counts = el.expected_counts()
    assert counts[1] >= 1 and counts[2] >= 1
    for kind, ids in gen.FIXTURE_FEATURE_OSM_IDS.items():
        got = {0: el.node_feature_ids, 1: el.way_feature_ids, 2: el.relation_feature_ids}[kind]()
        assert ids <= got


def test_changesets_touch_at_most_one_percent():
    el, ids = gen.build_elements(3, 5_000, "box", 0.3)
    stream = gen.ChangeStream(el, ids, 3)
    for _ in range(4):
        n_before = len(el.nodes) + len(el.ways) + len(el.relations)
        spec = stream.next()
        assert 0 < spec.n_elements <= n_before // 100 + 12  # plus new way nodes
        assert spec.hot_box is not None
        assert not spec.expect_gone & spec.expect_present


def test_query_blocks_have_fixed_shares():
    import itertools

    reqs = list(itertools.islice(gen.query_blocks(5), 100))
    kinds = [r.kind for r in reqs]
    assert kinds.count("bbox") == 60 and kinds.count("bbox_indexed") == 20
    assert kinds.count("tile_count") == 15
    assert sorted(k for k in kinds if k in gen.HEAVY) == ["knn", "pip", "pip",
                                                          "vector_tiles", "vector_tiles"]
    assert [r.box for r in reqs[:5]] == [r.box for r in itertools.islice(gen.query_blocks(5), 5)]


# --------------------------------------------- wrong outputs are counted

def _feats_parquet(path) -> str:
    rows = [(3, 0, 1.0, 1.0, 1.0, 1.0, b"\x01"), (6, 0, 2.0, 2.0, 2.0, 2.0, b"\x02"),
            (9, 0, 5.0, 5.0, 5.0, 5.0, b"\x03")]
    cols = list(zip(*rows))
    t = pa.table({
        "id": pa.array(cols[0], pa.int64()), "kind": pa.array(cols[1], pa.int8()),
        "minx": pa.array(cols[2], pa.float32()), "miny": pa.array(cols[3], pa.float32()),
        "maxx": pa.array(cols[4], pa.float32()), "maxy": pa.array(cols[5], pa.float32()),
        "encoded": pa.array(cols[6], pa.binary()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(t, os.path.join(path, "part-0.parquet"))
    return os.path.join(path, "*.parquet")


def test_wrong_query_answer_counts_as_failed(tmp_path):
    con = checks.connect(_feats_parquet(str(tmp_path / "f")), str(tmp_path))
    L = checks.Ledger()
    box = gen.Request("bbox", box=(0.0, 0.0, 3.0, 3.0))
    knn = gen.Request("knn", queries=[(0, 0.0, 0.0)], k=2)
    pip = gen.Request("pip", polygons=[{"polygon_id": 1,
                                        "ring": [(0.5, 0.5), (2.5, 0.5), (2.5, 2.5), (0.5, 2.5)]}])
    stats = {"n_queries": 1, "n_brute": 0}
    done = [
        (box, L.begin("bbox#0"), 0.1, [3, 6], False, 0),             # right
        (box, L.begin("bbox#1"), 0.1, [3], False, 0),                # a row missing
        (knn, L.begin("knn#2"), 0.1, ([(0, 1, 3), (0, 2, 6)], stats), False, 0),
        (knn, L.begin("knn#3"), 0.1, ([(0, 1, 6), (0, 2, 3)], stats), False, 0),  # ranks swapped
        (pip, L.begin("pip#4"), 0.1, [(3, 1), (6, 1)], False, 0),
        (pip, L.begin("pip#5"), 0.1, [(3, 1), (6, 1), (9, 1)], False, 0),  # 9 lies outside
    ]
    found = wl_query.check_answers(L, con, done)
    assert L.attempted == 6 and L.failed == 3
    assert [f["op"] for f in L.failures()] == ["bbox#1", "knn#3", "pip#5"]
    assert found["pip_hits_per_candidate"] == 5 / 4


def test_operation_that_raises_counts_as_failed():
    L = checks.Ledger()
    op = L.begin("x")
    assert L.run(op, lambda: 1 / 0) is None
    L.run(L.begin("y"), lambda: 1)
    assert (L.attempted, L.failed) == (2, 1)


def _golden_rows() -> dict:
    f32 = wl_ingest.f32
    rows = {}
    for fid, name in wl_ingest.GOLDEN_IDS_TYPES:
        ft = tg.get_type(name)
        labels = wl_ingest.GOLDEN_LABELS[fid]
        if fid in wl_ingest.GOLDEN_POINTS:
            x, y = f32(wl_ingest.GOLDEN_POINTS[fid])
            enc = gr.encode_point(fid, ft, x, y, labels)
            bbox = (x, y, x, y)
        else:
            pos = (wl_ingest.GOLDEN_PARK_POSITIONS if fid == 555 * 3 + 1
                   else wl_ingest.GOLDEN_LAKE_POSITIONS)
            cells = wl_ingest.GOLDEN_LAKE_CELLS if fid == 700 * 3 + 2 else [0, 1, 2]
            enc = gr.encode_area(fid, ft, f32(pos), cells, labels)
            bbox = tuple(f32(wl_ingest.GOLDEN_BBOX[fid]))
        rows[fid] = {"encoded": enc, "feature_type": ft, "minx": bbox[0], "miny": bbox[1],
                     "maxx": bbox[2], "maxy": bbox[3]}
    return rows


def test_golden_mismatch_counts_as_failed():
    L = checks.Ledger()
    wl_ingest.check_goldens(L, L.begin("ingest#0"), _golden_rows())
    bad = _golden_rows()
    lake = 700 * 3 + 2
    ft = tg.get_type("natural.water")
    bad[lake]["encoded"] = gr.encode_area(
        lake, ft, wl_ingest.f32(wl_ingest.GOLDEN_LAKE_POSITIONS),
        wl_ingest.GOLDEN_LAKE_CELLS[::-1], wl_ingest.GOLDEN_LABELS[lake])
    wl_ingest.check_goldens(L, L.begin("ingest#1"), bad)
    assert (L.attempted, L.failed) == (2, 1)
    assert "lake cells" in L.failures()[0]["failures"][0]


# ------------------------------------------------------------- reporting

def test_window_picks_the_least_stolen_consecutive_blocks():
    steal = [0.3, 0.0, 0.05, 0.0, 0.02, 0.01, 0.4]
    blocks = [(4.0, s, False) for s in steal]
    w = wl_query._window(blocks)
    assert list(w) == [1, 2, 3, 4, 5]
    assert max(blocks[b][1] for b in w) <= wl_query.STEAL_GATE
    assert list(wl_query._window(blocks[:5])) == [0, 1, 2, 3, 4]


def test_nearest_rank_p90_leaves_ten_samples_beyond():
    xs = list(range(1, 101))
    p90 = quantile(xs, 0.9)
    assert p90 == 90 and sum(1 for x in xs if x > p90) == 10


def test_crossing_pattern_counts_python_nodes():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- Project [id#1]
   +- ArrowEvalPython [_u(lon#2)#9], [pythonUDF0#10], 200
      +- MapInArrow _batches(url#3), [url#4]
         +- FlatMapGroupsInPandas [tile_z#5], _pack(...)
            +- Scan parquet [ArrowEvalPythonish#6]"""
    assert len(_PY_NODE.findall(plan)) == 3


def test_benchmark_json_matches_metric_lists():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert [w["name"] for w in b["workloads"]] == list(metrics.WORKLOAD_NAMES)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]] == \
        [tuple(m) for m in metrics.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == \
        [tuple(m) for m in metrics.PER_LAYER]
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_mix",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))

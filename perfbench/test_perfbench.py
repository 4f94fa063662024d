"""Tests of the benchmark's own checks, references, spans and event-log
parser. No Spark session is needed:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maplibre_tile_spec_spark.functions import mlt_codec as C  # noqa: E402
from perfbench import checks as K  # noqa: E402
from perfbench import eventlog, spans  # noqa: E402
from perfbench import reference as R  # noqa: E402


def _point_tile(points: list[tuple[int, int]]) -> bytes:
    g = C.GeometryColumn(
        types=np.zeros(len(points), dtype=np.int64),
        num_geometries=np.array([], dtype=np.int64),
        num_parts=np.array([], dtype=np.int64),
        num_rings=np.array([], dtype=np.int64),
        vertices=np.array([c for p in points for c in p], dtype=np.int64),
    )
    return C.encode_layer(C.LayerData("features", 4096, g, ids=np.arange(len(points), dtype=np.int64)))


EXPECTED_TWO_POINTS = pd.DataFrame({"x": [3], "y": [5], "type": [R.POINT], "n_vertices": [1], "count": [2]})


class TestTileCheck:
    def test_intact_tile_passes(self):
        got = K.decode_membership([(3, 5, _point_tile([(10, 20), (30, 40)]))])
        assert K.check_membership(got, EXPECTED_TWO_POINTS) == []

    def test_tile_missing_a_feature_fails(self):
        got = K.decode_membership([(3, 5, _point_tile([(10, 20)]))])
        assert K.check_membership(got, EXPECTED_TWO_POINTS)

    def test_tile_in_wrong_place_fails(self):
        got = K.decode_membership([(3, 6, _point_tile([(10, 20), (30, 40)]))])
        assert K.check_membership(got, EXPECTED_TWO_POINTS)

    def test_corrupted_tile_fails(self):
        """Any single-byte corruption either breaks decoding or changes the
        decoded membership; both fail the pass."""
        tile = bytearray(_point_tile([(10, 20), (30, 40)]))
        caught = 0
        for i in range(len(tile)):
            bad = bytearray(tile)
            bad[i] ^= 0xFF
            try:
                msgs = K.check_membership(K.decode_membership([(3, 5, bytes(bad))]), EXPECTED_TWO_POINTS)
            except Exception:
                caught += 1
                continue
            # a flipped byte may only survive if it left the geometry intact
            if not msgs:
                decoded = C.decode_tile(bytes(bad))
                assert [la.geometry.vertices.tolist() for la in decoded] == [[10, 20, 30, 40]]
                continue
            caught += 1
        assert caught > len(tile) // 2

    def test_truncated_tile_fails(self):
        tile = _point_tile([(10, 20), (30, 40)])
        with pytest.raises(Exception):
            assert K.check_membership(K.decode_membership([(3, 5, tile[:-3])]), EXPECTED_TWO_POINTS)


class TestPipCheck:
    SQUARE_WITH_HOLE = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"

    def reference(self):
        polys = pd.DataFrame({"poly_id": ["p"], "geom_wkt": [self.SQUARE_WITH_HOLE]})
        pid = np.array([1, 2, 3, 4], dtype=np.int64)
        lon = np.array([1.0, 5.0, 11.0, 9.5])
        lat = np.array([1.0, 5.0, 5.0, 9.5])
        return R.pip_pairs(pid, lon, lat, polys)

    def test_reference_ray_cast_respects_holes(self):
        assert self.reference()["pid"].tolist() == [1, 4]

    def test_dropped_pair_fails(self):
        exp = self.reference()
        assert K.check_pairs(exp, exp) == []
        assert K.check_pairs(exp.iloc[:1], exp)

    def test_extra_or_duplicate_pair_fails(self):
        exp = self.reference()
        assert K.check_pairs(pd.concat([exp, exp.iloc[:1]]), exp)
        extra = pd.concat([exp, pd.DataFrame({"pid": [3], "poly_id": ["p"]})])
        assert K.check_pairs(extra, exp)


class TestDedupCheck:
    def test_incremental_must_equal_full(self):
        full = pd.DataFrame({"id": [1, 2, 3], "cluster_id": [1, 1, 3]})
        assert K.check_assignment(full, full) == []
        assert K.check_assignment(full.assign(cluster_id=[1, 2, 3]), full)
        assert K.check_assignment(full.iloc[:2], full)

    def test_corpus_is_seeded(self):
        a = R.near_dup_corpus(7, 200, 30)
        b = R.near_dup_corpus(7, 200, 30)
        c = R.near_dup_corpus(8, 200, 30)
        assert a.equals(b) and not a["text"].equals(c["text"])
        assert len(a) == 200 and sorted(a["doc_id"]) == list(range(1, 201))
        assert a["planted"].value_counts().max() == 30


class TestSpans:
    def test_self_time_and_coverage(self):
        s = [
            spans.Span(0, "pass", 1, None, 0.0, 10.0),
            spans.Span(1, "tiler.encode", 1, 0, 1.0, 5.0),
            spans.Span(2, "sink.write", 1, 0, 4.0, 9.0),
            spans.Span(3, "features.parse", 1, 1, 2.0, 3.0),
        ]
        st = spans.self_times(s)
        assert st[("pass", 1)] == pytest.approx(2.0)
        assert st[("tiler.encode", 1)] == pytest.approx(3.0)
        assert spans.coverage(s)[1] == pytest.approx(0.8)

    def test_group_round_trip(self):
        assert spans.parse_group(spans.group_id("dedup.cc", 12)) == ("dedup.cc", 12)
        assert spans.parse_group(None) is None and spans.parse_group("adhoc") is None


def _task_end(stage: int, run_ms: int, accums: list[dict]) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": accums},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 5,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Input Metrics": {"Bytes Read": 7},
        },
    }


def test_eventlog_attributes_tasks_to_layer_and_pass(tmp_path):
    plan = {
        "nodeName": "MapInPandas",
        "metrics": [],
        "children": [
            {
                "nodeName": "WholeStageCodegen (1)",
                "metrics": [],
                "children": [{"nodeName": "BroadcastHashJoin", "metrics": [{"name": "number of output rows", "accumulatorId": 9}], "children": []}],
            }
        ],
    }
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [4], "Properties": {"spark.jobGroup.id": "spatial.pip#3"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [5], "Properties": {}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        _task_end(4, 30, [{"ID": 9, "Name": "number of output rows", "Update": "40"},
                          {"ID": 1, "Name": "time to run Python workers", "Update": "25"},
                          {"ID": 2, "Name": "data sent to Python workers", "Update": "1000"}]),
        _task_end(4, 10, [{"ID": 9, "Name": "number of output rows", "Update": "2"}]),
        _task_end(5, 99, []),
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events))
    c = eventlog.parse(str(path))
    assert set(c) == {("spatial.pip", 3)}
    pip = c[("spatial.pip", 3)]
    assert (pip.jobs, pip.tasks, pip.run_ms, pip.py_run_ms, pip.py_bytes_sent, pip.py_rows_in) == (1, 2, 40, 25, 1000, 42)
    assert pip.spill_bytes == 10 and pip.shuffle_write_bytes == 200 and pip.stage_tasks[4] == [30.0, 10.0]

"""Self-tests of the benchmark's own machinery.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The last test runs the traced benchmark twice per workload (several
minutes on a 4-core host).
"""

from __future__ import annotations

import csv
import gzip
import hashlib
import io
import json
import os
import struct
import subprocess
import sys
import xml.etree.ElementTree as ET
import zipfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(d, name), "rb").read())
        .hexdigest()
        for name in sorted(os.listdir(d)) if name != "manifest.json"
    }


# ------------------------------------------------------------ generator
def test_upload_backlog_is_deterministic_per_seed(tmp_path, monkeypatch):
    import time

    a = gen.upload_backlog(str(tmp_path / "a"), 7)
    # a day later: no archive member may carry the time it was written
    later = time.time() + 86_400
    monkeypatch.setattr(time, "time", lambda: later)
    b = gen.upload_backlog(str(tmp_path / "b"), 7)
    monkeypatch.undo()
    c = gen.upload_backlog(str(tmp_path / "c"), 8)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    strip = [{k: v for k, v in e.items() if k != "path"} for e in a]
    assert strip == [{k: v for k, v in e.items() if k != "path"} for e in b]
    assert sorted(e["format"] for e in c) == sorted(gen.UPLOAD_ROWS)


def test_cached_inputs_are_reused_only_when_complete(tmp_path):
    out = str(tmp_path / "u")
    gen.upload_backlog(out, 1)
    os.remove(os.path.join(out, ".complete"))
    with open(os.path.join(out, "stale"), "w") as f:
        f.write("half-written")
    gen.upload_backlog(out, 1)
    assert not os.path.exists(os.path.join(out, "stale"))


# ------------------------------------------------- manifest vs. files
def _csv_counts(text: str) -> tuple[int, int]:
    rows = list(csv.DictReader(io.StringIO(text)))
    ok = sum(abs(float(r["latitude"])) <= 90 for r in rows)
    return len(rows), ok


def _count(entry: dict) -> tuple[int, int]:
    """(rows, rows with a usable geometry), read independently of both the
    generator and the engine."""
    path, fmt = entry["path"], entry["format"]
    raw = open(path, "rb").read()
    if fmt == "csv":
        return _csv_counts(raw.decode())
    if fmt == "csv_gz":
        return _csv_counts(gzip.decompress(raw).decode())
    zf = zipfile.ZipFile(io.BytesIO(raw)) if raw[:2] == b"PK" else None
    if fmt == "csv_zip":
        (member,) = zf.namelist()
        return _csv_counts(zf.read(member).decode())
    if fmt == "xlsx":
        ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
        root = ET.fromstring(zf.read("xl/worksheets/sheet1.xml"))
        rows = [[c.findtext(f"{ns}v") or c.findtext(f"{ns}is/{ns}t")
                 for c in r] for r in root.iter(f"{ns}row")][1:]
        return len(rows), sum(abs(float(r[5])) <= 90 for r in rows)
    if fmt == "geojson":
        feats = json.loads(raw)["features"]
        return len(feats), sum(f["geometry"] is not None for f in feats)
    if fmt == "kml":
        pms = [el for el in ET.fromstring(raw).iter()
               if el.tag.endswith("Placemark")]
        return len(pms), sum(
            any(c.tag.endswith("Point") for c in pm) for pm in pms)
    if fmt == "gpx":
        pts = [el for el in ET.fromstring(raw).iter()
               if el.tag.endswith("trkpt")]
        return len(pts), sum(abs(float(p.get("lat"))) <= 90 for p in pts)
    if fmt == "shp_zip":
        shp = zf.read(next(n for n in zf.namelist() if n.endswith(".shp")))
        dbf = zf.read(next(n for n in zf.namelist() if n.endswith(".dbf")))
        (n,) = struct.unpack("<4xL", dbf[:8])
        pos, points = 100, 0
        while pos < len(shp):
            _, words = struct.unpack(">2i", shp[pos:pos + 8])
            points += struct.unpack("<i", shp[pos + 8:pos + 12])[0] == 1
            pos += 8 + 2 * words
        return n, points
    raise AssertionError(fmt)


def test_manifest_agrees_with_upload_files(tmp_path):
    for entry in gen.upload_backlog(str(tmp_path / "u"), 11):
        assert os.path.getsize(entry["path"]) == entry["bytes"]
        assert _count(entry) == (entry["rows"], entry["nonnull_geom"]), entry
        assert 500 <= entry["rows"] <= 5100


# ------------------------------------------------------------ event log
CANNED = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "perfbench-3"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
     "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
     "Task Info": {"Launch Time": 1000, "Finish Time": 1500},
     "Task Metrics": {"Executor Run Time": 400,
                      "Executor CPU Time": 300_000_000, "JVM GC Time": 7,
                      "Input Metrics": {"Bytes Read": 100},
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 9}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
     "Task Info": {"Launch Time": 1200, "Finish Time": 2000},
     "Task Metrics": {"Executor Run Time": 700,
                      "Executor CPU Time": 500_000_000,
                      "Output Metrics": {"Bytes Written": 50}}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
     "Task Info": {"Launch Time": 3000, "Finish Time": 3100},
     "Task Metrics": {"Executor Run Time": 90}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
]


def test_event_log_parser_on_canned_log():
    log = spans.parse_event_log(json.dumps(e) for e in CANNED)
    j0, j1 = log.jobs[0], log.jobs[1]
    assert j0.group == "perfbench-3" and j1.group is None
    # stage 1 is listed by both jobs; it belongs to the first
    assert (j0.stages, j0.tasks, j1.stages, j1.tasks) == (2, 2, 1, 1)
    assert (j0.run_ms, j0.cpu_ms, j0.gc_ms) == (1100, 800.0, 7)
    assert (j0.input_bytes, j0.output_bytes, j0.shuffle_write_bytes) == (
        100, 50, 9)
    assert list(spans.jobs_by_span(log)) == [3]
    assert spans.busy_ms(log.task_intervals, 0, 10_000) == 1000 + 100
    assert spans.busy_ms(log.task_intervals, 1400, 3050) == 600 + 50


def test_event_log_reader_orders_rolled_files(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_2_local-1").write_text(json.dumps(CANNED[2]) + "\n")
    (app / "events_1_local-1").write_text(json.dumps(CANNED[0]) + "\n")
    (app / "appstatus_local-1").write_text("")
    log = spans.read_event_logs(str(tmp_path))
    assert log.jobs[0].tasks == 1


# ---------------------------------------------------------- span math
def test_self_time_subtracts_covered_child_intervals():
    S = spans.Span
    tree = [
        S(1, "outer", "importer", None, 0.0, 10.0),
        # two parallel children overlapping on [2, 4]
        S(2, "a", "importer", 1, 1.0, 4.0),
        S(3, "b", "importer", 1, 2.0, 6.0),
        S(4, "a.read", "readers", 2, 1.5, 2.5),
        # a child running past its parent's end is clipped
        S(5, "late", "readers", 3, 5.0, 7.0),
    ]
    st = spans.self_times(tree)
    assert st[1] == pytest.approx(10 - 5)
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(4 - 1)
    assert st[4] == pytest.approx(1.0)
    assert spans.descendants(tree, 2) == {2, 4}


def test_tracer_nests_spans_per_thread():
    import threading

    t = spans.Tracer()
    with t.span("importer", "outer") as outer:
        th = threading.Thread(target=lambda: t.wrap("readers", "w",
                                                    lambda: None)())
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
        with t.span("readers", "inner") as inner:
            pass
    by_name = {s.name: s for s in t.spans}
    # another thread's span does not nest under this thread's open span
    assert by_name["w"].parent is None
    assert inner.parent == outer.id and outer.parent is None


def test_every_layer_metric_has_a_unit_and_one_name():
    names = layers.names()
    assert len(names) == len(set(names))
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert [m["name"] for m in bench["per_layer"]] == names
    assert all(m["unit"] == layers.unit(m["name"]) for m in bench["per_layer"])


def test_every_workload_reports_every_end_to_end_metric():
    import workloads

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    passes = [workloads.PassResult(2.0, ops=[0.5, 1.5]),
              workloads.PassResult(3.0, ops=[1.0])]
    got = workloads.Workload.metrics(passes)
    assert got == {"op_p50_s": (1.0, "s"), "pass_s": (2.5, "s")}
    # run.py adds setup_s; no workload overrides the shared metrics
    assert {**{k: u for k, (_, u) in got.items()}, "setup_s": "s"} == {
        m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert all("metrics" not in vars(w) for w in workloads.WORKLOADS.values())
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)


# ------------------------------------------- repeats of traced counts
def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], out.stderr[-2000:]
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload,counts", [
    ("upload_roundtrip", ["importer.jobs_per_file",
                          "importer.stages_per_file", "infer.jobs",
                          "sinks.files.jobs"]),
    ("query_sweep", ["queries.jobs", "queries.stages"] + [
        f"queries.{q}.jobs" for q in layers.workloads.HEADLINE]),
])
def test_traced_counts_repeat_exactly(workload, counts):
    a, b = _traced(workload, 1), _traced(workload, 1)
    assert {k: a[k] for k in counts} == {k: b[k] for k in counts}
    assert all(a[k] > 0 for k in counts)

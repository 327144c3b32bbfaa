"""The measurement tools' own rules: ``bench.py``'s query-name
resolution and the flag laws of the two scaling gates
(``tools/scaling_gate.py``, ``tools/stream_scaling.py``), checked on
hand-written detail files.  Nothing here starts Spark."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


@pytest.fixture
def tools(monkeypatch):
    monkeypatch.syspath_prepend(str(ROOT / "tools"))


def test_bench_resolves_full_names_and_prefixes():
    import bench
    from mapreducehs_spark.queries import QUERIES

    assert bench.resolve_queries("d03,q100_triangle_count") == [
        "d03_minhash_lsh_pairs",
        "q100_triangle_count",
    ]
    inventory = bench.full_inventory()
    assert inventory and not any(n.startswith("st") for n in inventory)
    assert set(QUERIES) - set(inventory) == {n for n in QUERIES if n.startswith("st")}


@pytest.mark.parametrize("bad", ["zz99", "d0", "d03_minhash"])
def test_bench_exits_non_zero_on_an_unknown_query(bad):
    run = subprocess.run(
        [sys.executable, "bench.py", f"q01,{bad}"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert run.returncode != 0
    assert repr(bad) in run.stderr
    assert run.stdout == ""


def _scaling(tmp_path, monkeypatch, sf1, sf01, calib=(10.0, 10.0)) -> dict:
    import scaling_gate

    paths = []
    for label, walls, calib_sec in (("sf1", sf1, calib[0]), ("sf01", sf01, calib[1])):
        path = tmp_path / f"bench_{label}.json"
        path.write_text(
            json.dumps(
                {"calib_sec": calib_sec, "calib_version": 2, "calib_disp": 0.01, "queries": walls}
            )
        )
        paths.append(str(path))
    out = tmp_path / "SCALING.json"
    monkeypatch.setattr(sys, "argv", ["scaling_gate.py", *paths, str(out)])
    scaling_gate.main()
    return json.loads(out.read_text())


def test_scaling_gate_flags_superlinear_walls_above_the_floor(tools, tmp_path, monkeypatch):
    result = _scaling(
        tmp_path,
        monkeypatch,
        sf1={"slow": 1.3, "fast": 0.65, "linear": 10.0},
        sf01={"slow": 0.1, "fast": 0.05, "linear": 1.0},
    )
    # slow and fast both read 13x; only slow's sf1 wall reaches 1 s
    assert result["flagged"] == ["slow"]
    assert result["queries"]["fast"]["ratio_norm"] == 13.0


def test_scaling_gate_divides_out_calibration(tools, tmp_path, monkeypatch):
    walls = dict(sf1={"q": 20.0}, sf01={"q": 1.0})
    # a box twice as slow during the sf1 run halves the 20x raw ratio
    result = _scaling(tmp_path, monkeypatch, **walls, calib=(20.0, 10.0))
    assert result["queries"]["q"]["ratio"] == 20.0
    assert result["queries"]["q"]["ratio_norm"] == 10.0
    assert result["flagged"] == []
    assert _scaling(tmp_path, monkeypatch, **walls)["flagged"] == ["q"]


def test_stream_gate_flags_growing_bounded_state(tools, tmp_path, monkeypatch):
    import stream_scaling

    bounded, linear = "st13_stream_heavy_hitters", "st02_stream_sessions"
    slow = "st01_stream_tumbling"
    assert bounded in stream_scaling.BOUNDED_STATE
    assert linear not in stream_scaling.BOUNDED_STATE
    rows = {  # (sec, peak_state_rows) at sf1, then at sf0.1
        bounded: [(3.0, 300), (1.0, 100)],
        linear: [(3.0, 300), (1.0, 100)],
        slow: [(1.4, 0), (0.1, 0)],
    }
    paths = []
    for i, label in enumerate(("sf1", "sf01")):
        queries = {n: dict(zip(("sec", "peak_state_rows"), r[i])) for n, r in rows.items()}
        path = tmp_path / f"stream_{label}.json"
        path.write_text(json.dumps({"queries": queries}))
        paths.append(str(path))
    out = tmp_path / "STREAM_SCALING.json"
    no_data = str(tmp_path / "no_sf")
    monkeypatch.setattr(sys, "argv", ["stream_scaling.py", *paths, str(out), no_data, no_data])
    stream_scaling.main()
    result = json.loads(out.read_text())
    # 3x state breaks a bounded claim; a data-proportional state may grow
    assert result["state_flagged"] == [bounded]
    # the batch gate's wall law: 0.1 s -> 1.4 s is 14x above the 1 s floor
    assert result["wall_flagged"] == [slow]

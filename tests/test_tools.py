"""The measurement tools' own rules: ``bench.py``'s query-name
resolution and stream state record, the flag laws of the two scaling
gates
(``tools/scaling_gate.py``, ``tools/stream_scaling.py``), checked on
hand-written detail files; the session's machine-sized heap default;
and an AST guard on the engine's parameter surface.  Nothing here
starts Spark."""

from __future__ import annotations

import ast
import json
import os
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
    assert bench.full_inventory() == list(QUERIES)


def test_bench_state_record_keeps_the_max_over_sinks_and_repeats():
    import bench

    def snap(**sinks):
        return {n: dict(zip(bench.STATE_KEYS, v)) for n, v in sinks.items()}

    # a run that executed no micro-batch leaves no record
    idle = snap(st09_sink=(5000, 9000, 4))
    assert bench.merge_state(None, idle, idle) is None
    # repeat 1: st01_sink runs 6 batches; st09_sink, untouched, is not counted
    first = snap(st09_sink=(5000, 9000, 4), st01_sink=(915, 388304, 6), a=(30, 700, 2))
    record = bench.merge_state(None, idle, first)
    assert record == {"peak_state_rows": 915, "peak_state_bytes": 388304, "batches": 6}
    # repeat 2: 5 more batches, and a foreachBatch stream under a fresh id
    # with smaller peaks; the record keeps the max, not the last repeat
    second = {**first, **snap(st01_sink=(915, 388304, 11), b=(20, 500, 1))}
    assert bench.merge_state(record, first, second) == record
    # a larger later peak does raise the record
    third = {**second, **snap(c=(1000, 400000, 2))}
    assert bench.merge_state(record, second, third) == {
        "peak_state_rows": 1000,
        "peak_state_bytes": 400000,
        "batches": 6,
    }


def test_bench_listener_counts_concurrent_events_and_waits_only_for_streams(monkeypatch):
    import threading
    import time
    from types import SimpleNamespace as NS

    import bench

    monkeypatch.setattr(bench, "STREAM_DRAIN_SEC", 0.2)
    listener = bench.StateFootprintListener()
    t0 = time.perf_counter()
    assert listener.drain()  # nothing started: a batch query does not wait
    assert time.perf_counter() - t0 < 0.1

    def stream(i: int) -> None:
        listener.onQueryStarted(NS(runId=f"run{i}"))
        for rows in range(50):
            op = NS(numRowsTotal=rows, memoryUsedBytes=8 * rows)
            listener.onQueryProgress(NS(progress=NS(name="sink", id=None, stateOperators=[op, op])))
        listener.onQueryTerminated(NS(runId=f"run{i}"))

    listener.onQueryStarted(NS(runId="stuck"))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=stream, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert listener.snapshot() == {"sink": {"peak_state_rows": 98, "peak_state_bytes": 784, "batches": 400}}
    assert not listener.drain()  # a stream that never reports termination times out
    listener.onQueryTerminated(NS(runId="stuck"))
    assert listener.drain()


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


def test_scaling_gate_flags_stream_walls(tools, tmp_path, monkeypatch):
    slow, fast = "st01_stream_tumbling", "st02_stream_sessions"
    result = _scaling(tmp_path, monkeypatch, sf1={slow: 1.4, fast: 3.0}, sf01={slow: 0.1, fast: 1.0})
    # 0.1 s -> 1.4 s is 14x above the 1 s floor; 3x is data-proportional
    assert result["flagged"] == [slow]


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
    assert bounded in stream_scaling.BOUNDED_STATE
    assert linear not in stream_scaling.BOUNDED_STATE
    rows = {bounded: (300, 100), linear: (300, 100)}  # peak_state_rows at sf1, sf0.1
    paths = []
    for i, label in enumerate(("sf1", "sf01")):
        detail = {  # the bench.py detail-file shape
            "queries": {n: 1.0 for n in rows},
            "state": {
                n: {"peak_state_rows": r[i], "peak_state_bytes": 40 * r[i], "batches": 5}
                for n, r in rows.items()
            },
        }
        path = tmp_path / f"bench_{label}.json"
        path.write_text(json.dumps(detail))
        paths.append(str(path))
    out = tmp_path / "STREAM_SCALING.json"
    no_data = str(tmp_path / "no_sf")
    monkeypatch.setattr(sys, "argv", ["stream_scaling.py", *paths, str(out), no_data, no_data])
    stream_scaling.main()
    result = json.loads(out.read_text())
    # 3x state breaks a bounded claim; a data-proportional state may grow
    assert result["state_flagged"] == [bounded]


def test_default_driver_heap_fits_the_machine():
    from mapreducehs_spark import session

    gib = int(session.DEFAULT_DRIVER_MEM.removesuffix("g"))
    assert gib >= 1
    assert gib * 2**30 <= os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


def test_sessions_disable_the_console_progress_bar(spark):
    """A ``get_spark`` session draws no console progress bar, which
    would share stderr lines with bench.py's per-query lines
    (``spark.ui.enabled=false`` does not turn it off)."""
    assert spark.sparkContext.getConf().get("spark.ui.showConsoleProgress") == "false"


def test_driver_sim_canon_ignores_order_rounds_floats_and_widens_ints(tools):
    """``tools/driver_sim.py`` imports without starting Spark or DuckDB,
    and its ``canon`` hash ignores column and row order, rounds floats
    to 4 decimals and reads every int width as ``Int64``."""
    import pandas as pd

    import driver_sim

    a = pd.DataFrame({"k": [1, 2], "v": [0.123456, 2.5]})
    b = pd.DataFrame({"v": [2.5, 0.12346], "k": [2, 1]})
    assert driver_sim.canon(a) == driver_sim.canon(b)
    assert driver_sim.canon(a) != driver_sim.canon(a.assign(v=[0.1234, 2.5]))
    ints = [pd.DataFrame({"k": pd.array([3, 1], dtype=t)}) for t in ("int32", "int64", "Int64", object)]
    assert len({driver_sim.canon(df) for df in ints}) == 1


#: Parameters kept although every call passes their default:
#: perfbench/run.py rebinds ``base_dir`` on the stream fixture builders
#: by keyword and reads its default.
_ONE_VALUE_EXEMPT = {
    ("streaming/ops.py", f"prepare_{kind}_dir", "base_dir")
    for kind in ("stream", "late_stream", "docs_stream", "cdc_mv", "manifest", "cdc_log", "emb_stream")
}


def _imported_from(path: Path) -> dict[str, str]:
    """Local name -> dotted module it was imported from, for one file."""
    here = ".".join(path.relative_to(ROOT).with_suffix("").parts)
    out = {}
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            for a in node.names:
                out[a.asname or a.name.split(".")[0]] = a.name if a.asname else a.name.split(".")[0]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = here.rsplit(".", node.level)[0]
                base = f"{parent}.{base}" if base else parent
            for a in node.names:
                out[a.asname or a.name] = f"{base}.{a.name}"
    return out


def test_no_parameter_has_one_value():
    """Every defaulted parameter of a module-level engine function is
    passed some other value by at least one call in the engine, the
    tools, the tests, the benchmark or the driver entry: a value that
    no caller varies is a constant, not an option.  A call that passes
    ``**kwargs`` (``catalog.write_any`` in the tests) or ``*args``
    covering a parameter counts as varying it.  A call resolves to the
    module its qualifier (or its bare name) was imported from, so a name
    defined in two modules (``session_aggregate``) is checked per
    module."""
    pkg = ROOT / "mapreducehs_spark"
    defs = {}  # name -> {dotted module: FunctionDef}
    for path in sorted(pkg.rglob("*.py")):
        dotted = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef):
                defs.setdefault(node.name, {})[dotted] = node
    callers = [
        *sorted(pkg.rglob("*.py")),
        *(p for d in ("tools", "tests", "perfbench") for p in sorted((ROOT / d).rglob("*.py"))),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    calls = {}  # (dotted module, name) -> [ast.Call]
    for path in callers:
        imported = _imported_from(path)
        here = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name not in defs:
                continue
            if isinstance(f, ast.Attribute):
                origin = imported.get(getattr(f.value, "id", None), "")
            else:
                origin = here if here in defs[name] else imported.get(name, "").rpartition(".")[0]
            owners = [m for m in defs[name] if origin and (m == origin or m.startswith(origin + "."))]
            for m in owners or defs[name]:
                calls.setdefault((m, name), []).append(node)

    def varied(pname, default, index, sites):
        for c in sites:
            if any(kw.arg is None for kw in c.keywords):
                return True
            for i, a in enumerate(c.args):
                if isinstance(a, ast.Starred):
                    if index is not None and i <= index:
                        return True
                    break
                if i == index and ast.dump(a) != ast.dump(default):
                    return True
            if any(kw.arg == pname and ast.dump(kw.value) != ast.dump(default) for kw in c.keywords):
                return True
        return False

    one_value = []
    for name, by_module in defs.items():
        for dotted, fn in by_module.items():
            rel = dotted.removeprefix("mapreducehs_spark.").replace(".", "/") + ".py"
            a = fn.args
            pos = a.posonlyargs + a.args
            defaulted = [(p.arg, d, pos.index(p)) for p, d in zip(pos[len(pos) - len(a.defaults) :], a.defaults)]
            defaulted += [(p.arg, d, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for pname, default, index in defaulted:
                if (rel, name, pname) in _ONE_VALUE_EXEMPT:
                    continue
                if not varied(pname, default, index, calls.get((dotted, name), [])):
                    one_value.append(f"{rel}:{fn.lineno} {name}({pname}={ast.unparse(default)})")
    assert not one_value, f"{len(one_value)} parameters with one value in use: {one_value}"

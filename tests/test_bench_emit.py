"""bench.py's final stdout line must stay tiny: the driver's tail capture
is ~2 KB and rounds 3-5 lost the BENCH record to truncation when the
per-query map (~2.7 KB at 112 queries) was embedded in that line. Guard
the contract: totals-only JSON on stdout, per-query map only in the
side file."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_emit_final_line_is_totals_only_and_small(tmp_path, monkeypatch, capsys):
    import bench

    # even with hundreds of queries the stdout line must stay ~100 bytes
    timings = {f"query_{i:04d}": 1.234 for i in range(500)}
    monkeypatch.setattr(
        bench.os.path, "dirname", lambda _p: str(tmp_path), raising=True
    )
    bench._emit(612.3, timings, {}, 0.1)
    line = capsys.readouterr().out.strip().rsplit("\n", 1)[-1]
    assert len(line) < 500, f"driver tail capture would truncate: {len(line)} bytes"
    rec = json.loads(line)
    assert rec["metric"] == "headline_queries_total_wall"
    assert rec["value"] == 612.3
    assert rec["unit"] == "sec"
    assert rec["n_queries"] == 500
    assert "queries" not in rec  # the map lives in the side file only
    side = json.load(open(tmp_path / "BENCH_local_latest.json"))
    assert side["queries"] == timings


def test_emit_isolated_writes_separate_side_file(tmp_path, monkeypatch, capsys):
    import bench

    monkeypatch.setattr(
        bench.os.path, "dirname", lambda _p: str(tmp_path), raising=True
    )
    bench._emit(10.0, {"q": 10.0}, {}, 1.0, isolated=True)
    line = capsys.readouterr().out.strip().rsplit("\n", 1)[-1]
    assert len(line) < 500
    side = json.load(open(tmp_path / "BENCH_local_isolated.json"))
    assert side["isolated"] is True


def _fake_jit(times):
    """A stand-in session whose JIT compile-time counter reads ``times`` in
    order (repeating the last value)."""
    import itertools
    from types import SimpleNamespace

    seq = itertools.chain(times, itertools.repeat(times[-1]))
    cmx = SimpleNamespace(getTotalCompilationTime=lambda: next(seq))
    mf = SimpleNamespace(getCompilationMXBean=lambda: cmx)
    jvm = SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(management=SimpleNamespace(ManagementFactory=mf))))
    return SimpleNamespace(sparkContext=SimpleNamespace(_jvm=jvm))


def test_drain_jit_returns_at_once_when_queue_is_idle():
    import bench

    waited = bench._drain_jit(_fake_jit([500]), max_wait=2.0)
    assert waited < 0.3


def test_drain_jit_waits_for_a_busy_queue_to_settle():
    import bench

    # compile time grows by 100 ms per sample for three samples, then stops
    waited = bench._drain_jit(_fake_jit([0, 100, 200, 300]), max_wait=5.0, poll_s=0.05)
    assert 0.15 < waited < 1.0

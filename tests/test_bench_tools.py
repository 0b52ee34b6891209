"""Tests for the bench tooling: the regression gate and the cold-pass
row list (pure-Python — no Spark session needed)."""

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

import bench_gate  # noqa: E402


def _write(tmp_path, name, queries, **extra):
    doc = {"metric": "total_query_sec",
           "value": round(sum(queries.values()), 3),
           "unit": "sec", "queries": queries, "sf": 0.1}
    doc.update(extra)
    p = tmp_path / name
    p.write_text(json.dumps(doc))
    return str(p)


def test_gate_passes_on_improvement(tmp_path, capsys):
    old = _write(tmp_path, "old.json", {"q1": 1.0, "q2": 0.5})
    new = _write(tmp_path, "new.json", {"q1": 0.8, "q2": 0.4})
    assert bench_gate.main([new, old]) == 0
    assert "PASS" in capsys.readouterr().out


def test_gate_alarms_on_regression(tmp_path, capsys):
    old = _write(tmp_path, "old.json", {"q1": 1.0, "q2": 0.5})
    new = _write(tmp_path, "new.json", {"q1": 2.0, "q2": 0.5})
    assert bench_gate.main([new, old]) == 1
    assert "REGRESSED q1" in capsys.readouterr().out


def test_gate_noise_floor_suppresses_tiny_ratios(tmp_path):
    # 0.02s -> 0.05s is 2.5x but only 0.03s absolute: scheduling noise.
    old = _write(tmp_path, "old.json", {"q1": 0.02})
    new = _write(tmp_path, "new.json", {"q1": 0.05})
    assert bench_gate.main([new, old]) == 0


def test_gate_alarms_on_new_failure(tmp_path, capsys):
    old = _write(tmp_path, "old.json", {"q1": 1.0})
    new = _write(tmp_path, "new.json", {"q1": -1.0})
    assert bench_gate.main([new, old]) == 1
    assert "now errors" in capsys.readouterr().out


def test_gate_persistent_failure_is_note_not_regression(tmp_path, capsys):
    """A query already failing in OLD must not re-trip the gate every
    round (and must not render 'was -1.000s')."""
    old = _write(tmp_path, "old.json", {"q1": -1.0, "q2": 0.5})
    new = _write(tmp_path, "new.json", {"q1": -1.0, "q2": 0.5})
    assert bench_gate.main([new, old]) == 0
    out = capsys.readouterr().out
    assert "still failing: q1" in out and "-1.000" not in out


def test_gate_notes_fixed_query(tmp_path, capsys):
    old = _write(tmp_path, "old.json", {"q1": -1.0})
    new = _write(tmp_path, "new.json", {"q1": 0.3})
    assert bench_gate.main([new, old]) == 0
    assert "fixed: q1" in capsys.readouterr().out


def test_gate_space_separated_flag_values(tmp_path):
    """Both documented flag forms parse: --ratio=3.0 and --ratio 3.0
    (the latter used to leak '3.0' into the positional OLD slot)."""
    old = _write(tmp_path, "old.json", {"q1": 1.0})
    new = _write(tmp_path, "new.json", {"q1": 2.5})   # 2.5x, +1.5s
    assert bench_gate.main([new, old]) == 1
    assert bench_gate.main([new, old, "--ratio", "3.0"]) == 0
    assert bench_gate.main([new, old, "--ratio=3.0"]) == 0
    assert bench_gate.main([new, old, "--ratio", "3.0",
                            "--floor", "0.1"]) == 0


def test_gate_reads_driver_wrapped_format(tmp_path):
    inner = {"metric": "total_query_sec", "value": 1.0, "unit": "sec",
             "queries": {"q1": 1.0}, "sf": 0.1}
    p = tmp_path / "wrapped.json"
    p.write_text(json.dumps({"n": 1, "rc": 0, "parsed": inner}))
    new = _write(tmp_path, "new.json", {"q1": 1.0})
    assert bench_gate.main([new, str(p)]) == 0


def test_gate_reads_parsed_null_with_truncated_tail(tmp_path, capsys):
    """The r7 failure mode: the driver's 2000-char tail capture cut the
    leading '{' off bench.py's one JSON line and recorded parsed: null.
    load() must reconstruct the surviving queries, not crash."""
    inner = {"metric": "total_query_sec", "value": 2.0, "unit": "sec",
             "queries": {f"q{i}": 0.1 for i in range(20)}, "sf": 0.1,
             "cold_queries": {"c1": 1.0}, "cold_total_sec": 1.0}
    line = json.dumps(inner) + "\n"
    p = tmp_path / "trunc.json"
    p.write_text(json.dumps(
        {"n": 7, "rc": 0, "tail": line[-200:], "parsed": None}))
    doc = bench_gate.load(str(p))
    assert doc.get("_reconstructed")
    assert doc["queries"]  # a suffix of the warm dict survived
    assert all(v == 0.1 for v in doc["queries"].values())
    old = _write(tmp_path, "old.json",
                 {f"q{i}": 0.1 for i in range(20)})
    assert bench_gate.main([str(p), old]) == 0
    assert "reconstructed" in capsys.readouterr().out


def test_gate_reconstruction_inside_cold_dict_relabels(tmp_path):
    """A cut landing inside cold_queries must not surface cold rows as
    warm queries."""
    inner = {"metric": "total_query_sec", "value": 1.0, "unit": "sec",
             "queries": {"q1": 1.0}, "sf": 0.1,
             "cold_queries": {f"c{i}": 1.0 for i in range(10)},
             "cold_total_sec": 10.0}
    line = json.dumps(inner)
    cut = line.index('"c3"')  # mid-cold
    p = tmp_path / "coldcut.json"
    p.write_text(json.dumps({"tail": line[cut:], "parsed": None}))
    doc = bench_gate.load(str(p))
    assert not doc.get("queries")
    assert "c3" in doc.get("cold_queries", {})


def test_gate_unparseable_artifacts_render_clean_verdicts(tmp_path, capsys):
    garbage = tmp_path / "garbage.json"
    garbage.write_text(json.dumps({"n": 1, "rc": 1, "tail": "oom kill",
                                   "parsed": None}))
    good = _write(tmp_path, "good.json", {"q1": 1.0})
    assert bench_gate.main([str(garbage), str(good)]) == 1
    assert "unparseable" in capsys.readouterr().out
    assert bench_gate.main([good, str(garbage)]) == 0
    assert "nothing to compare" in capsys.readouterr().out


def test_gate_annotates_loaded_machine(tmp_path, capsys):
    old = _write(tmp_path, "old.json", {"q1": 1.0})
    new = _write(tmp_path, "new.json", {"q1": 1.0},
                 load1=31.5, ncpu=32)
    assert bench_gate.main([new, old]) == 0
    out = capsys.readouterr().out
    assert "load1=31.5" in out and "MACHINE LOADED" in out
    calm = _write(tmp_path, "calm.json", {"q1": 1.0}, load1=0.8, ncpu=32)
    assert bench_gate.main([calm, old]) == 0
    out = capsys.readouterr().out
    assert "load1=0.8" in out and "MACHINE LOADED" not in out


def test_bench_final_line_fits_driver_tail_capture():
    """The driver persists only the last 2000 chars of bench stdout; the
    final JSON line must fit with headroom even as the registry grows.
    Simulate the line bench.py prints for the CURRENT registry with
    worst-case timing widths."""
    import bench  # noqa: F401  (asserts import side effects stay clean)
    from dexscraper_spark.plans.registry import all_queries
    line = json.dumps({
        "metric": "total_query_sec", "value": 99999.999, "unit": "sec",
        "queries": {name: 99.999 for name in all_queries()},
        "sf": 0.1, "load1": 99.99, "load1_end": 99.99, "ncpu": 32})
    assert len(line) < 1900, (
        f"bench final line would be {len(line)} chars; the driver tail "
        "capture is 2000 — shorten query names or drop fields")


def test_gate_cli_runs_against_repo_history():
    """End-to-end through the CLI against the real prior-round files."""
    bench_files = sorted(REPO.glob("BENCH_r*.json"))
    if len(bench_files) < 2:
        return  # first round: nothing to compare
    rc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "bench_gate.py"),
         str(bench_files[-1]), str(bench_files[-2])],
        capture_output=True, text=True)
    assert rc.returncode in (0, 1)  # parses and renders a verdict
    assert "bench_gate:" in rc.stdout


def test_materialized_rows_are_registered():
    """bench.py's cold-pass rows are the registry rows declared
    ``materializes=True``: pinned to the ten that serve a first-build
    artifact or tracked persist on warm runs, so a dropped declaration
    cannot silently lose a cold column."""
    import bench
    assert set(bench.MATERIALIZED_ROWS) == {
        "ohlc_bars", "similarity_ivf_full_probe", "curation_pipeline",
        "sink_csv_lines", "sink_bar_rows", "sink_excel",
        "sink_document_rows", "sink_text_lines", "tokens_pipeline_e2e",
        "dedup_minhash_lsh"}


def _import_bench():
    import importlib
    return importlib.import_module("bench")


def test_idle_wait_settles_and_resamples_load():
    """_idle_wait polls until load1 drops under the loaded threshold and
    returns the RE-SAMPLED load — the self-defending path VERDICT r9
    §next-5 asked to live inside bench.py, not only in `make bench`."""
    bench = _import_bench()
    samples = iter([9.0, 6.0, 1.2])
    slept = []
    load1, waited = bench._idle_wait(
        12.0, 32, budget=150.0, step=10.0,
        _sleep=slept.append, _getload=lambda: next(samples))
    assert load1 == 1.2
    assert waited == 30.0
    assert slept == [10.0, 10.0, 10.0]


def test_idle_wait_is_bounded_and_skips_idle_start():
    bench = _import_bench()
    # never settles: stops at the budget, not forever
    load1, waited = bench._idle_wait(
        20.0, 32, budget=30.0, step=10.0,
        _sleep=lambda s: None, _getload=lambda: 20.0)
    assert load1 == 20.0 and waited == 30.0
    # already idle / unknown environment: zero wait
    assert bench._idle_wait(0.5, 32)[1] == 0.0
    assert bench._idle_wait(-1.0, 32)[1] == 0.0
    assert bench._idle_wait(50.0, -1)[1] == 0.0

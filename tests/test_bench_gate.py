"""Unit tests for bench.py's ledger-history gate: the headline median
must apply BOTH engine-independent window signals — control ratio and
(when recorded) the probe that admitted the pair — symmetrically, and
must never mix corpus sizes or parallelism pairs."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest


def _load_bench(tmp_path, entries):
    os.environ["BENCH_LEDGER_PATH_TEST"] = ""  # not used; we monkeypatch
    spec = importlib.util.spec_from_file_location(
        "bench_mod",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"),
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    ledger = tmp_path / "clean_pairs.jsonl"
    with open(ledger, "w") as fh:
        for e in entries:
            fh.write(json.dumps(e) + "\n")
    m.LEDGER_PATH = str(ledger)
    return m


def _e(eff, ctl, probe=None, cores=(2, 8), turns=100):
    d = {"eff": eff, "ctl": ctl, "cores": list(cores), "turns": turns, "code": "x"}
    if probe is not None:
        d["probe"] = probe
    return d


def test_probe_field_gates_fallback_pairs_both_directions(tmp_path):
    m = _load_bench(
        tmp_path,
        [
            _e(0.85, 0.95, probe=0.95),  # clean: in
            _e(0.95, 0.95, probe=0.60),  # HIGH fallback reading: out
            _e(0.40, 0.95, probe=0.60),  # low fallback reading: out
            _e(0.70, 0.95, probe=0.95),  # clean: in
        ],
    )
    h = m._ledger_history(2, 8, 100, ctl_gate=0.93)
    assert sorted(h["clean_pair_history_effs"]) == [0.70, 0.85]
    assert h["scaling_efficiency_clean_history"] == round((0.70 + 0.85) / 2, 3)


def test_entries_without_probe_keep_ctl_only_gating(tmp_path):
    # pre-protocol entries (no probe field) are gated by ctl alone
    m = _load_bench(tmp_path, [_e(0.80, 0.95), _e(0.60, 0.80)])
    h = m._ledger_history(2, 8, 100, ctl_gate=0.93)
    assert h["clean_pair_history_effs"] == [0.80]


def test_corpus_size_and_cores_never_mix(tmp_path):
    m = _load_bench(
        tmp_path,
        [
            _e(0.80, 0.95, turns=100),
            _e(0.10, 0.95, turns=999),  # other corpus: out
            _e(0.10, 0.95, cores=(4, 16)),  # other parallelism pair: out
        ],
    )
    h = m._ledger_history(2, 8, 100, ctl_gate=0.93)
    assert h["clean_pair_history_effs"] == [0.80]


def test_gate_sensitivity_also_applies_probe(tmp_path):
    m = _load_bench(
        tmp_path,
        [_e(0.90, 0.95, probe=0.60), _e(0.70, 0.95, probe=0.95), _e(0.75, 0.86)],
    )
    h = m._ledger_history(2, 8, 100, ctl_gate=0.93)
    sens = h["clean_pair_gate_sensitivity"]
    # fallback 0.90 never appears at any gate; ctl-0.86 pair only at 0.85
    assert sens["ctl>=0.85"] == {"n": 2, "median": round((0.70 + 0.75) / 2, 3)}
    assert sens["ctl>=0.93"] == {"n": 1, "median": 0.70}


def test_empty_when_no_clean_pairs(tmp_path):
    m = _load_bench(tmp_path, [_e(0.9, 0.80), _e(0.9, 0.95, probe=0.5)])
    assert m._ledger_history(2, 8, 100, ctl_gate=0.93) == {}


def test_compact_line_keeps_query_leaves_when_oversized(tmp_path):
    m = _load_bench(tmp_path, [])
    names = [f"q_{i}_with_a_long_contract_entry_name" for i in range(9)]

    def result(n_stages):
        return {
            "metric": "headline_queries_total_sec",
            "value": 12.345,
            "queries": {n: 1.234 for n in names},
            "queries_runs": {n: [1.2345678] * 30 for n in names},
            "build": {"turns": 100, "stage_efficiency": {f"stage_{i:03d}_write": 0.9 for i in range(n_stages)}},
        }

    # the runs alone overflow: only they go
    out = json.loads(m._compact_line(result(5)))
    assert "queries_runs" not in out and len(out["build"]["stage_efficiency"]) == 5
    assert out["queries"] == result(5)["queries"]
    # runs and stage efficiencies both overflow: both go, all 9 leaves stay
    line = m._compact_line(result(80))
    out = json.loads(line)
    assert len(line) <= 1800
    assert "queries_runs" not in out and "stage_efficiency" not in out["build"]
    assert out["queries"] == result(80)["queries"] and len(out["queries"]) == 9
    # a line that already fits keeps everything
    small = {"queries": {"q": 1.0}, "queries_runs": {"q": [1.0]}, "build": {"stage_efficiency": {}}}
    assert json.loads(m._compact_line(dict(small))) == small

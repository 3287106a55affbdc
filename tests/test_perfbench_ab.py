"""The interleaved A/B script's pairing, with the benchmark runs stubbed."""

from __future__ import annotations

import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _load_ab():
    spec = importlib.util.spec_from_file_location(
        "perfbench_ab", ROOT / "scripts" / "perfbench_ab.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_repeated_seed_is_two_pairs(monkeypatch, capsys):
    """``--seeds 5,5`` runs two pairs, and the summary counts and uses both."""
    ab = _load_ab()
    calls = []

    def run_once(tree, workload, seed, seconds):
        calls.append(seed)
        return {
            "metrics": {"wall_s": {"value": float(len(calls))}},
            "failed": 0,
            "attempted": 1,
        }

    monkeypatch.setattr(ab, "run_once", run_once)
    monkeypatch.setattr(
        ab.json,
        "loads",
        lambda _text: {
            "workloads": [{"name": "w"}],
            "run_seconds": 1,
            "end_to_end": [
                {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.25}
            ],
        },
    )
    assert ab.main(["--parent", str(ROOT), "--workload", "w", "--seeds", "5,5"]) == 0
    out = capsys.readouterr().out
    assert calls == [5, 5, 5, 5]
    assert "pairs with both runs: 2/2" in out
    # pair 0 runs parent (1.0) then change (2.0); pair 1 change (3.0) then
    # parent (4.0): the medians take both pairs
    assert "wall_s [s, lower is better, bound 25%]: 2.5 [1.75-3.25] -> 2.5" in out
    assert "parent: failed 0/2 ops" in out

"""bench.py's headline N -> 4N pair on hosts too small for it."""

import bench

KEYS = {
    "pair", "low", "high", "efficiency_low_to_high",
    "hw_parallel_ceiling", "hw_parallel_ceiling_samples", "note",
}


def test_linear_pair_not_run_below_8_cpus(monkeypatch):
    def must_not_run(*args, **kwargs):
        raise AssertionError("a 1->1 pair must not be measured")

    monkeypatch.setattr(bench, "run_extraction_throughput", must_not_run)
    monkeypatch.setattr(bench, "hw_parallel_ceiling", must_not_run)
    for cpus in (1, 4, 7):
        lin = bench.measure_linear_pair(cpus, "/nonexistent", lambda: 1e9)
        assert set(lin) == KEYS
        assert lin["pair"].startswith("1->1 cores")
        assert all(lin[k] is None for k in KEYS - {"pair", "note"})
        assert lin["note"].startswith("not run")


def test_linear_pair_measured_from_8_cpus(monkeypatch):
    monkeypatch.setattr(
        bench, "run_extraction_throughput",
        lambda cores, sf_dir, repeat, trials: {"turns_per_sec": 90.0 * cores},
    )
    monkeypatch.setattr(bench, "hw_parallel_ceiling", lambda low, high: 0.9)
    lin = bench.measure_linear_pair(32, "/nonexistent", lambda: 1e9)
    assert set(lin) == KEYS
    assert lin["pair"].startswith("2->8 cores")
    assert lin["efficiency_low_to_high"] == 1.0 and lin["hw_parallel_ceiling"] == 0.9

"""tools.scaling_bench argument checks and isolated run order (no Spark)."""

import json

import pytest

from hadoop_bam_spark.tools import scaling_bench as sb


@pytest.mark.parametrize("bad", ["8", "8,8", "8,16,32", "a,b", "0,8", ""])
def test_cores_must_be_two_distinct_counts(bad):
    with pytest.raises(SystemExit, match="--cores needs exactly two"):
        sb.parse_cores(bad)
    with pytest.raises(SystemExit, match="--cores needs exactly two"):
        sb.main(["/tmp", f"--cores={bad}"])


def test_cores_are_sorted():
    assert sb.parse_cores("32,8") == (8, 32)


def test_isolated_order_alternates_per_query():
    order = sb.isolated_runs(["a", "b", "c", "d"], 8, 32)
    assert order == [
        ("a", 32), ("a", 8),
        ("b", 8), ("b", 32),
        ("c", 32), ("c", 8),
        ("d", 8), ("d", 32),
    ]
    # drift cancels: the low-core run goes second for exactly half
    second = [order[i + 1][1] for i in range(0, len(order), 2)]
    assert second.count(8) == second.count(32)


def test_main_isolated_uses_order_and_keeps_missing_apart(monkeypatch, capsys):
    calls = []
    walls = {("a", 8): 2.0004, ("a", 32): 0.5, ("b", 8): 0.0, ("b", 32): 0.0}

    def fake_run(sf_dir, cpus, reps, names):
        (n,) = names
        calls.append((n, cpus))
        return {n: walls[(n, cpus)]} if (n, cpus) in walls else {}

    monkeypatch.setattr(sb, "_run", fake_run)
    sb.main(["/tmp", "--cores=32,8", "--isolate", "--queries=a,b,c"])
    assert calls == sb.isolated_runs(["a", "b", "c"], 8, 32)
    out = json.loads(capsys.readouterr().out)
    pq = out["per_query"]
    assert pq["a"] == {"wall_8c": 2.0004, "wall_32c": 0.5, "core_ratio": 4.0}
    assert pq["b"] == {"wall_8c": 0.0, "wall_32c": 0.0, "core_ratio": None}
    assert pq["c"] == {"wall_8c": None, "wall_32c": None, "core_ratio": None}
    assert out["missing"] == ["c@8c", "c@32c"]

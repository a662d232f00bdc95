"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q

The smoke tests run the real command at a tiny input scale, one fresh
process per run, exactly as the benchmark command is run.  The gate tests
build a sorted BAM in-process with the engine's encoder and show the
sort_depth check accepts it and rejects damaged copies.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (ROOT, BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _run(*args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_emits_every_metric_and_passes_checks(workload, trace):
    proc = _run("--workload", workload, "--seed", "5", "--seconds", "1",
                "--trace", str(trace), "--scale", "0.02")
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= run.MIN_OPS + 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], float), name
        if not trace:
            assert m["value"] > 0, name


def test_region_expectations_match_the_mix():
    queries = gen.make_regions(9, 12)
    assert [q[0] for q in queries[:4]] == ["bam", "bam", "bam", "vcf"]
    assert [q[3] - q[2] + 1 for q in queries[:3]] == list(gen.REGION_WIDTHS)


def test_generators_are_seeded():
    a, b = gen.make_reads(3, 500), gen.make_reads(3, 500)
    assert a.table.equals(b.table)
    assert not a.table.equals(gen.make_reads(4, 500).table)
    s = gen.make_sites(3, 300)
    assert s.table.equals(gen.make_sites(3, 300).table)
    # missing FORMAT cells are absent keys, never null values
    fields = s.table.column("genotypes").combine_chunks().flatten().field("fields")
    assert fields.items.null_count == 0


def test_unknown_workload_fails_without_a_result():
    proc = _run("--workload", "nope", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_fails_without_the_engine(tmp_path):
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", "sort_depth", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=tmp_path, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# ---------------------------------------------------------------------------
# the sort_depth gate is not vacuous
# ---------------------------------------------------------------------------


def _write_bam(path: str, reads: gen.Reads, order: np.ndarray) -> None:
    """Encode ``reads`` in ``order`` as one BAM with the engine's codecs."""
    from hadoop_bam_spark.formats import bam, bgzf
    from hadoop_bam_spark.formats.bam_venc import BAMBatchEncoder

    refs = list(gen.CONTIGS)
    enc = BAMBatchEncoder(refs)
    with open(path, "wb") as fh:
        w = bgzf.BGZFWriter(fh)
        w.write(bam.encode_header(workloads.sam_header("coordinate"), refs))
        batches = tracing.encoder_input(reads.take(order).table).to_batches(512)
        for batch in batches:
            w.write(enc.encode_batch(batch)[0])
        w.close()


@pytest.fixture
def reads():
    return gen.make_reads(21, 3000, shuffled=True)


def _sorted_order(r: gen.Reads) -> np.ndarray:
    return np.lexsort((r.pos, r.rid))


def test_sort_gate_accepts_a_correct_output(tmp_path, reads):
    path = str(tmp_path / "ok.bam")
    _write_bam(path, reads, _sorted_order(reads))
    assert workloads.check_sorted_bam(path, reads) == []


def test_sort_gate_rejects_a_truncated_output(tmp_path, reads):
    path = str(tmp_path / "cut.bam")
    _write_bam(path, reads, _sorted_order(reads))
    with open(path, "r+b") as fh:
        fh.truncate(os.path.getsize(path) * 2 // 3)
    assert workloads.check_sorted_bam(path, reads)


def test_sort_gate_rejects_missing_records(tmp_path, reads):
    path = str(tmp_path / "short.bam")
    _write_bam(path, reads, _sorted_order(reads)[:-1])
    assert workloads.check_sorted_bam(path, reads)


def test_sort_gate_rejects_unsorted_output(tmp_path, reads):
    path = str(tmp_path / "unsorted.bam")
    _write_bam(path, reads, np.arange(len(reads)))
    assert "records are not in coordinate order" in workloads.check_sorted_bam(path, reads)


def test_depth_gate_rejects_a_wrong_histogram(tmp_path, reads):
    path = str(tmp_path / "ok.bam")
    _write_bam(path, reads, _sorted_order(reads))
    wl = workloads.SortDepth()
    wl.reads, wl.want, wl.out_sizes = reads, {0: 5, 1: 7}, []
    assert wl.check(None, 0, (path, {0: 5, 1: 7})) == []
    assert wl.check(None, 0, (path, {0: 4, 1: 8}))

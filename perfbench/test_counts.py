"""Checks of the benchmark itself.

The fast tests pin the seeded inputs and the ingest workload's
independent expectation. The slow test runs the traced mode twice per
workload and pins the counts later changes may claim to move: they
must repeat exactly for one seed, ``ingest`` must never call
``materialize``, and no warm operation may leave more than a tenth of
its wall outside every layer span.

    python -m pytest perfbench/test_counts.py -m "slow or not slow"
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402

COUNTS = ("queries.build_jobs", "materialize.calls", "action.jobs",
          "spark.stages", "streaming.batch_jobs")


def test_seeded_tables_repeat_and_keep_row_counts(tmp_path):
    a = inputs.write_tables(7, tmp_path / "a")
    inputs.write_tables(7, tmp_path / "b")
    other = inputs.write_tables(8, tmp_path / "c")
    assert a == other == {t: pq.read_metadata(inputs.DATA / f"{t}.parquet").num_rows
                          for t in inputs.TABLES}
    for t in inputs.TABLES:
        assert (tmp_path / "a" / f"{t}.parquet").read_bytes() == \
            (tmp_path / "b" / f"{t}.parquet").read_bytes()
    docs = pq.read_table(tmp_path / "a" / "documents.parquet").to_pylist()
    base = pq.read_table(inputs.DATA / "documents.parquet").to_pylist()
    assert sorted(d["text"] for d in docs) == sorted(d["text"] for d in base)


def test_line_dedup_expectation_keeps_each_key_once_first_batch():
    batches = [[(2, "a b c d"), (1, "c d e f")],
               [(3, "a b x y"), (4, "c d")]]
    clean, seen = inputs.line_dedup_expectation(batches, 2)
    # batch 0: "c d" is first carried by doc 1 (smaller id); batch 1
    # introduces only "x y"; doc 4 keeps nothing and is dropped
    assert clean == {(0, 2): "a b", (0, 1): "c d\ne f", (1, 3): "x y"}
    assert seen == {"a b", "c d", "e f", "x y"}


def _traced(workload: str, seed: int = 3) -> dict[str, float]:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=HERE.parent, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.slow
@pytest.mark.parametrize("workload", ["curate", "ingest"])
def test_traced_counts_repeat(workload):
    first, second = _traced(workload), _traced(workload)
    assert {k: first[k] for k in COUNTS} == {k: second[k] for k in COUNTS}
    assert first["trace.unattributed_frac"] <= 0.10
    if workload == "ingest":
        assert first["materialize.calls"] == 0

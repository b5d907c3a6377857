"""Tests of the benchmark itself: generator determinism, replica
fidelity, declared metric names and the missing-checkout failure.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import fidelity, gen, run  # noqa: E402
from perfbench.workloads import HEAVY, WORKLOADS, oracle_sqls  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    DECLARED = json.load(fh)


def _digests(path: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_identical_bytes(tmp_path):
    gen.generate(str(tmp_path / "a"), 11, HEAVY.base_sf, HEAVY.copies)
    gen.generate(str(tmp_path / "b"), 11, HEAVY.base_sf, HEAVY.copies)
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))


def test_other_seed_changes_bytes_not_shape(tmp_path):
    gen.generate(str(tmp_path / "a"), 11, HEAVY.base_sf, HEAVY.copies)
    gen.generate(str(tmp_path / "b"), 12, HEAVY.base_sf, HEAVY.copies)
    a, b = _digests(str(tmp_path / "a")), _digests(str(tmp_path / "b"))
    for table in gen.REPLICATED:
        assert a[f"{table}.parquet"] != b[f"{table}.parquet"], table
        ta = pq.read_table(tmp_path / "a" / f"{table}.parquet")
        tb = pq.read_table(tmp_path / "b" / f"{table}.parquet")
        assert ta.num_rows == tb.num_rows, table
    da = pq.read_table(tmp_path / "a" / "documents.parquet")
    db = pq.read_table(tmp_path / "b" / "documents.parquet")
    # the vocabulary permutation keeps character counts and stopwords
    assert da.column("n_chars").equals(db.column("n_chars"))
    assert pc.sum(pc.count_substring(da.column("text"), " the ")).as_py() == pc.sum(
        pc.count_substring(db.column("text"), " the ")
    ).as_py()


def _fidelity_rows(base_dir: str, rep_dir: str, rules: dict[str, float]):
    from tests.oracle import duck_connection

    sqls = oracle_sqls()
    con1, con10 = duck_connection(base_dir), duck_connection(rep_dir)
    try:
        rows_1x = {n: fidelity.row_count(con1, sqls[n]) for n in rules}
        rows_nx = {n: fidelity.row_count(con10, sqls[n]) for n in rules}
    finally:
        con1.close()
        con10.close()
    return rows_1x, rows_nx


@pytest.mark.parametrize("seed", [3, 4])
def test_fidelity_holds_on_two_seeds(tmp_path, seed):
    base, rep = str(tmp_path / "base"), str(tmp_path / "rep")
    gen.generate(base, seed, HEAVY.base_sf, 1)
    gen.generate(rep, seed, HEAVY.base_sf, HEAVY.copies)
    rows_1x, rows_nx = _fidelity_rows(base, rep, HEAVY.fidelity)
    fidelity.check(rows_1x, rows_nx, HEAVY.fidelity, HEAVY.copies)


def test_fidelity_rejects_a_replica_that_prefixes_tokens(tmp_path):
    """The old replica recipe prefixed every token with its copy number,
    which defeats the stopword-based language and quality filters."""
    base, rep = str(tmp_path / "base"), str(tmp_path / "rep")
    gen.generate(base, 5, HEAVY.base_sf, 1)
    gen.generate(rep, 5, HEAVY.base_sf, HEAVY.copies)
    path = os.path.join(rep, "documents.parquet")
    docs = pq.read_table(path)
    copy = [(d - gen.key_offset(5)) // gen.COPY_SHIFT for d in docs.column("doc_id").to_pylist()]
    text = [
        " ".join(f"r{i}_{t}" for t in s.split(" ")) if i else s
        for i, s in zip(copy, docs.column("text").to_pylist())
    ]
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", pa.array(text))
    pq.write_table(docs, path)
    rows_1x, rows_nx = _fidelity_rows(base, rep, HEAVY.fidelity)
    with pytest.raises(fidelity.FidelityError, match="curated_docs"):
        fidelity.check(rows_1x, rows_nx, HEAVY.fidelity, HEAVY.copies)


def test_printed_metric_names_are_declared():
    declared_e2e = {m["name"]: m["unit"] for m in DECLARED["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in DECLARED["per_layer"]}
    assert dict(run.E2E_METRICS) == declared_e2e
    assert dict(run.layer_metric_units()) == declared_layer
    assert {w["name"] for w in DECLARED["workloads"]} == set(WORKLOADS)


def test_fails_without_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        DECLARED["command"] + ["--workload", "heavy_10x", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from inputs import (
    GENERATORS,
    corpus_table,
    ensure_inputs,
    generate,
    sync_tables,
    wide_table,
)

SMALL = {"latest_partition": 30, "incremental_sync": 400,
         "corpus_dedup": 40}


def _files(root):
    return {p.relative_to(root): p.read_bytes()
            for p in sorted(root.rglob("*")) if p.is_file()}


@pytest.mark.parametrize("workload", sorted(GENERATORS))
def test_same_seed_writes_byte_identical_files(tmp_path, workload):
    size = SMALL[workload]
    generate(workload, 5, size, tmp_path / "a")
    generate(workload, 5, size, tmp_path / "b")
    generate(workload, 6, size, tmp_path / "c")
    a, b, c = (_files(tmp_path / d) for d in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_ensure_inputs_reuses_the_cache(tmp_path):
    first = ensure_inputs(tmp_path, "corpus_dedup", 1, 40)
    stamp = (first.root / "planted.json").stat().st_mtime_ns
    again = ensure_inputs(tmp_path, "corpus_dedup", 1, 40)
    assert again == first
    assert (again.root / "planted.json").stat().st_mtime_ns == stamp
    assert not list(tmp_path.glob(".tmp-*"))


def test_wide_table_planted_counts_match_a_recount():
    t, p = wide_table(np.random.default_rng(3), 2000)
    price = t.column("price").to_pylist()
    assert p["price_null"] == sum(x in ("inf", "-inf", "nan") for x in price)
    assert p["qty_null"] == t.column("qty").null_count
    assert p["qty_zero"] == sum(x in ("0", "0.0")
                                for x in t.column("qty").to_pylist())
    active = [None if a is None else a.strip().lower()
              for a in t.column("active").to_pylist()]
    truthy = sum(a in ("true", "1", "yes", "y") for a in active)
    assert p["active_true"] == truthy
    assert p["active_false_or_filled"] == len(active) - truthy
    note = t.column("note")
    assert p["note_null"] == note.null_count
    assert p["note_token"] == pc.sum(pc.is_in(
        note, value_set=pc.cast(["nan", "None", "null", "<NA>"],
                                "string"))).as_py()


def test_sync_tables_plant_exact_churn():
    dest, src, p = sync_tables(np.random.default_rng(4), 1000, 30, 20, 10)
    d_ids = set(dest.column("id").to_pylist())
    s_ids = set(src.column("id").to_pylist())
    assert len(s_ids - d_ids) == p["insert"] == 30
    assert len(d_ids - s_ids) == p["delete"] == 10
    d_amount = dict(zip(dest.column("id").to_pylist(),
                        dest.column("amount").to_pylist()))
    changed = sum(float(a) != d_amount[i] for i, a in zip(
        src.column("id").to_pylist(), src.column("amount").to_pylist())
        if i in d_amount)
    assert changed == p["update"] == 20
    assert p["unchanged"] == 1000 - 10 - 20
    assert p["source_rows"] == src.num_rows == 1020


def test_corpus_base_ids_precede_their_copies():
    t, p = corpus_table(np.random.default_rng(5), 50, 10, 10, 9)
    assert t.num_rows == p["docs"] == 79
    assert len(p["base_ids"]) == 50 and len(p["near_ids"]) == 10
    assert max(p["base_ids"]) < min(p["near_ids"])
    texts = t.column("text").to_pylist()
    norm = {" ".join(x.lower().split()) for x in texts[:50]}
    assert len(norm) == 50  # base documents are distinct
    copies = [" ".join(x.lower().split()) for x in texts[50:60]]
    assert all(c in norm for c in copies)


def test_latest_partition_layout(tmp_path):
    p = generate("latest_partition", 2, 30, tmp_path)
    parts = sorted(d.name for d in (tmp_path / "source").iterdir())
    assert len(parts) == p["partitions"] == 48
    assert parts[-1] == f"dt={p['latest_dt']}"
    latest = pq.read_table(tmp_path / "source" / parts[-1])
    assert latest.num_rows == p["latest_rows"] == 30


class _Part:
    def __init__(self, name, rows, errors, nbytes, counts=None):
        self.name, self.rows_per_job = name, rows
        self.size, self.size_unit = rows, "rows"
        self._errors, self._bytes, self._counts = errors, nbytes, counts
        self.resets = 0

    def reset(self):
        self.resets += 1

    def job(self, spark, tracer):
        return {"run": {"delta_counts": self._counts}}

    def check(self, result):
        return list(self._errors)

    def run_errors(self, spark):
        return []

    def rows_written(self, result):
        return self.rows_per_job

    def source_bytes(self):
        return 10 * self._bytes

    def dest_files_bytes(self):
        return 1, self._bytes


def test_batch_runs_every_part_and_sums_them():
    from workloads import Batch

    counts = {"insert": 1, "update": 2, "delete": 0, "unchanged": 7}
    a = _Part("a", 10, [], 100)
    b = _Part("b", 5, ["rows 4 != 5"], 50, counts)
    batch = Batch("ab", [a, b])
    batch.reset()
    result = batch.job(None, None)
    assert (a.resets, b.resets) == (1, 1)
    assert batch.check(result) == ["b: rows 4 != 5"]
    assert batch.rows_per_job == batch.rows_written(result) == 15
    assert batch.dest_files_bytes() == (2, 150)
    assert batch.source_bytes() == 1500
    assert batch.delta_counts(result) == counts


def test_every_workload_is_made_of_parts_with_generators():
    from inputs import GENERATORS
    from workloads import WORKLOADS

    assert len(WORKLOADS) >= 2
    for parts in WORKLOADS.values():
        assert parts and all(p.name in GENERATORS for p in parts)

"""Seeded input generators for the three benchmark workloads.

Every generator takes the seed as an argument and returns pyarrow tables
plus the properties it planted, in closed form: how many null and boolean
tokens each column carries, how many partitions and latest-partition rows,
how much churn of each change type, how many exact copies, near-duplicates
and junk documents. The correctness checks compare the program's outputs
against these planted values, never against an earlier run.

Inputs are cached per (workload, seed, size) under the work directory, so
generating them is never billed to the program; the same seed writes
byte-identical files.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# the wide "warehouse export" table: every numeric and boolean column arrives
# string-typed, as a MaxCompute/CSV export hands it over
# ---------------------------------------------------------------------------

BOOL_TRUE = ("true", "1", "yes", "y", " Yes ", "TRUE")
BOOL_FALSE = ("false", "0", "no", "n", "", "FALSE")
BOOL_UNKNOWN = ("maybe", "unknown")
NULL_TOKENS = ("nan", "None", "null", "<NA>")
N_WIDE_METRICS = 8

# declared source types (the ``source_schema`` of the migration job)
WIDE_SCHEMA = (
    [("id", "bigint"), ("qty", "bigint"), ("price", "double"),
     ("active", "boolean"), ("status_code", "string"), ("note", "string"),
     ("category", "string"), ("size", "string"), ("region", "string"),
     ("created", "date"), ("scratch", "string")]
    + [(f"m{i}", "double") for i in range(N_WIDE_METRICS)])


def _pick(rng: np.random.Generator, choices, n: int) -> np.ndarray:
    return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)]


def wide_table(rng: np.random.Generator, n: int,
               id_start: int = 0) -> tuple[pa.Table, dict]:
    """``n`` rows of the wide export table and the counts it planted.

    Planted per row, independently: ``qty`` is NULL (3%) or an integer
    rendered as '12' or '12.0'; ``price`` is 'inf'/'-inf'/'nan' (2% each)
    or a 2-dp decimal; ``active`` is a truthy, falsy or unknown token or
    NULL; ``note`` is a literal null token (kept as a string), NULL, or
    text. Ids are ``id_start .. id_start+n-1``.
    """
    ids = np.arange(id_start, id_start + n, dtype=np.int64)

    qty_val = rng.integers(0, 1000, n)
    qty_kind = rng.random(n)
    qty = [None if k < 0.03 else (f"{v}.0" if k < 0.5 else str(v))
           for k, v in zip(qty_kind, qty_val)]

    price_val = rng.integers(0, 100_000, n)
    price_kind = rng.random(n)
    price_tok = np.where(price_kind < 0.02, "inf",
                         np.where(price_kind < 0.04, "-inf",
                                  np.where(price_kind < 0.06, "nan", "")))
    price = [t if t else f"{v / 100:.2f}"
             for t, v in zip(price_tok, price_val)]

    active_kind = rng.random(n)
    active = []
    for k, t, f, u in zip(active_kind, _pick(rng, BOOL_TRUE, n),
                          _pick(rng, BOOL_FALSE, n),
                          _pick(rng, BOOL_UNKNOWN, n)):
        active.append(None if k < 0.04 else u if k < 0.08
                      else t if k < 0.54 else f)

    note_kind = rng.random(n)
    note = []
    for k, tok, w in zip(note_kind, _pick(rng, NULL_TOKENS, n),
                         rng.integers(0, 10_000, n)):
        note.append(None if k < 0.05 else tok if k < 0.10 else f"memo {w}")

    status_code = _pick(rng, ("007", "200", "404", "0042", "500"), n)
    category = [f"cat_{k:02d}" for k in rng.integers(0, 20, n)]
    size = _pick(rng, ("S", "M", "L", "XL"), n)
    region = [f"r{k}" for k in rng.integers(0, 50, n)]
    day = rng.integers(0, 365, n)
    created = (np.datetime64("2024-01-01") + day).astype(str)
    scratch = [f"x{k}" for k in rng.integers(0, 1000, n)]
    cols = {
        "id": pa.array(ids),
        "qty": pa.array(qty, pa.string()),
        "price": pa.array(price, pa.string()),
        "active": pa.array(active, pa.string()),
        "status_code": pa.array(list(status_code), pa.string()),
        "note": pa.array(note, pa.string()),
        "category": pa.array(category, pa.string()),
        "size": pa.array(list(size), pa.string()),
        "region": pa.array(region, pa.string()),
        "created": pa.array(list(created), pa.string()),
        "scratch": pa.array(scratch, pa.string()),
    }
    for i in range(N_WIDE_METRICS):
        v = rng.integers(0, 10**7, n)
        cols[f"m{i}"] = pa.array([f"{x / 1000:.3f}" for x in v], pa.string())

    planted = {
        "rows": n,
        "qty_null": int(np.sum(qty_kind < 0.03)),
        "qty_zero": int(np.sum((qty_kind >= 0.03) & (qty_val == 0))),
        "price_null": int(np.sum(price_kind < 0.06)),
        "active_true": int(np.sum(active_kind >= 0.08)
                           - np.sum(active_kind >= 0.54)),
        "active_false_or_filled": int(np.sum(active_kind < 0.08)
                                      + np.sum(active_kind >= 0.54)),
        "note_null": int(np.sum(note_kind < 0.05)),
        "note_token": int(np.sum((note_kind >= 0.05) & (note_kind < 0.10))),
    }
    return pa.table(cols), planted


# ---------------------------------------------------------------------------
# the incremental-sync pair: the destination's current snapshot (typed, as
# the engine wrote it) and the new source snapshot (string-typed export)
# ---------------------------------------------------------------------------

SYNC_SCHEMA = [("id", "bigint"), ("name", "string"), ("amount", "double"),
               ("active", "boolean"), ("updated", "date"),
               ("score", "bigint")]


def sync_tables(rng: np.random.Generator, n: int, n_insert: int,
                n_update: int, n_delete: int
                ) -> tuple[pa.Table, pa.Table, dict]:
    """(destination snapshot, source snapshot, planted churn).

    The destination holds ids ``0..n-1``. The source drops ``n_delete`` of
    them, changes the ``amount`` of ``n_update`` others, keeps the rest
    byte-for-byte after casting, and adds ``n_insert`` new ids from ``n``.
    """
    ids = np.arange(n, dtype=np.int64)
    name = [f"user_{k}" for k in rng.integers(0, 10**6, n)]
    amount = rng.integers(0, 10**6, n) / 100.0
    active = rng.random(n) < 0.5
    updated = np.datetime64("2024-01-01") + rng.integers(0, 365, n)
    score = rng.integers(-1000, 1000, n).astype(np.int64)

    perm = rng.permutation(n)
    deleted = np.sort(perm[:n_delete])
    changed = np.sort(perm[n_delete:n_delete + n_update])

    dest = pa.table({
        "id": pa.array(ids),
        "name": pa.array(name, pa.string()),
        "amount": pa.array(amount, pa.float64()),
        "active": pa.array(active, pa.bool_()),
        "updated": pa.array(updated.astype("datetime64[D]"), pa.date32()),
        "score": pa.array(score),
    })

    keep = np.ones(n, dtype=bool)
    keep[deleted] = False
    src_amount = amount.copy()
    src_amount[changed] += 1.0
    new_ids = np.arange(n, n + n_insert, dtype=np.int64)
    s_ids = np.concatenate([ids[keep], new_ids])
    s_name = [x for x, k in zip(name, keep) if k] + [
        f"user_{k}" for k in rng.integers(0, 10**6, n_insert)]
    s_amount = np.concatenate([src_amount[keep],
                               rng.integers(0, 10**6, n_insert) / 100.0])
    s_active = np.concatenate([active[keep], rng.random(n_insert) < 0.5])
    s_updated = np.concatenate(
        [updated[keep],
         np.datetime64("2024-01-01") + rng.integers(0, 365, n_insert)])
    s_score = np.concatenate([score[keep],
                              rng.integers(-1000, 1000, n_insert)])
    src = pa.table({
        "id": pa.array(s_ids),
        "name": pa.array(s_name, pa.string()),
        "amount": pa.array([repr(float(x)) for x in s_amount], pa.string()),
        "active": pa.array(["yes" if b else "no" for b in s_active],
                           pa.string()),
        "updated": pa.array(list(s_updated.astype("datetime64[D]")
                                 .astype(str)), pa.string()),
        "score": pa.array([str(int(x)) for x in s_score], pa.string()),
    })
    planted = {"source_rows": int(len(s_ids)), "destination_rows": n,
               "insert": n_insert, "update": n_update, "delete": n_delete,
               "unchanged": n - n_delete - n_update}
    return dest, src, planted


# ---------------------------------------------------------------------------
# the corpus: distinct base documents, exact copies, one-word near-dups,
# and junk that the language/quality gates drop
# ---------------------------------------------------------------------------

_EN_GLUE = ("the", "and", "of", "to", "with", "that", "in", "is", "for")
_DE_GLUE = ("der", "die", "das", "und", "ist", "nicht", "mit", "auf")
DOC_WORDS = 80


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("bcdfghjklmnprstvwz"))
    vowels = np.array(list("aeiou"))
    words = set()
    while len(words) < size:
        k = int(rng.integers(2, 4))
        w = "".join(letters[rng.integers(0, len(letters))]
                    + vowels[rng.integers(0, len(vowels))]
                    for _ in range(k))
        words.add(w)
    return sorted(words)


def _doc(rng: np.random.Generator, vocab: list[str], glue, n_words: int
         ) -> list[str]:
    out = []
    for i in range(n_words):
        out.append(glue[rng.integers(0, len(glue))] if i % 4 == 1
                   else vocab[rng.integers(0, len(vocab))])
    return out


def corpus_table(rng: np.random.Generator, n_base: int, n_exact: int,
                 n_near: int, n_junk: int) -> tuple[pa.Table, dict]:
    """Documents with ids ordered so that every base document has a lower
    id than all of its copies: the engine keeps the min id per duplicate
    group, so the kept corpus is exactly the base set when every copy is
    caught. Near-dups replace one word in the middle of an 80-word base
    document (word 3-shingle Jaccard ≈ 0.93)."""
    vocab = _vocab(rng, 4000)
    base = [_doc(rng, vocab, _EN_GLUE, DOC_WORDS) for _ in range(n_base)]
    docs: list[tuple[str, str]] = []  # (kind, text)
    for words in base:
        docs.append(("base", " ".join(words)))
    for j in range(n_exact):
        words = base[int(rng.integers(0, n_base))]
        text = " ".join(words)
        # every other copy differs only in case and spacing, which the
        # exact-dedup normalisation folds away
        docs.append(("exact", text if j % 2 else
                     "  " + text.upper().replace(" ", "   ", 3)))
    for _ in range(n_near):
        words = list(base[int(rng.integers(0, n_base))])
        pos = DOC_WORDS // 2 + 2  # a content word (i % 4 != 1)
        while True:
            w = vocab[rng.integers(0, len(vocab))]
            if w != words[pos]:
                break
        words[pos] = w
        docs.append(("near", " ".join(words)))
    for j in range(n_junk):
        kind = j % 3
        if kind == 0:  # too short for the word-count rule
            text = " ".join(_doc(rng, vocab, _EN_GLUE, 20))
        elif kind == 1:  # German stopwords: language gate
            text = " ".join(_doc(rng, vocab, _DE_GLUE, DOC_WORDS))
        else:  # symbol soup: symbol-ratio and alpha-word rules
            text = " ".join(["# 123 ..."] * 30)
        docs.append(("junk", text))
    ids = np.arange(1, len(docs) + 1, dtype=np.int64)
    table = pa.table({"doc_id": pa.array(ids),
                      "text": pa.array([t for _, t in docs], pa.string())})
    planted = {"docs": len(docs), "base": n_base, "exact": n_exact,
               "near": n_near, "junk": n_junk,
               "base_ids": [int(i) for i, (k, _) in zip(ids, docs)
                            if k == "base"],
               "near_ids": [int(i) for i, (k, _) in zip(ids, docs)
                            if k == "near"]}
    return table, planted


# ---------------------------------------------------------------------------
# on-disk inputs per workload
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Inputs:
    """Paths of one workload's generated inputs and what they planted."""

    root: Path
    planted: dict

    @property
    def source(self) -> str:
        return str(self.root / "source")

    @property
    def destination_seed(self) -> str:
        """Pristine destination snapshot (incremental sync only)."""
        return str(self.root / "dest_seed")


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _gen_latest_partition(rng, size: int, out: Path) -> dict:
    """``size`` rows of the wide table in each of 48 daily ``dt=``
    partitions; the newest one is the only partition the job migrates.

    Only the listing and the ``MAX(dt)`` probe read the 47 older
    partitions, and neither looks at their values, so they hold one
    generated file, hard-linked: generation stays cheap and the cache
    small. The newest is generated on its own and carries the planted
    counts the checks compare against."""
    n_parts = 48
    start = np.datetime64("2024-03-01")
    older, _ = wide_table(rng, size)
    first = out / "source" / f"dt={start}" / "part-00000.parquet"
    _write(older, first)
    for p in range(1, n_parts - 1):
        path = out / "source" / f"dt={start + p}" / "part-00000.parquet"
        path.parent.mkdir(parents=True)
        os.link(first, path)
    latest, planted = wide_table(rng, size, id_start=size)
    _write(latest, out / "source" / f"dt={start + n_parts - 1}"
           / "part-00000.parquet")
    return {"partitions": n_parts, "latest_dt": str(start + n_parts - 1),
            "latest_rows": size, "latest": planted,
            "rows": n_parts * size}


def _gen_incremental_sync(rng, size: int, out: Path) -> dict:
    n_ins, n_upd, n_del = size // 100, size // 100, size // 200
    dest, src, planted = sync_tables(rng, size, n_ins, n_upd, n_del)
    _write(dest, out / "dest_seed" / "part-00000.parquet")
    _write(src, out / "source" / "part-00000.parquet")
    return planted


def _gen_corpus_dedup(rng, size: int, out: Path) -> dict:
    n_base = size
    table, planted = corpus_table(rng, n_base, n_exact=size // 5,
                                  n_near=size // 5, n_junk=size // 8)
    # shuffle the row order so duplicates are not adjacent to their bases
    order = np.random.default_rng(int(rng.integers(0, 2**31))).permutation(
        table.num_rows)
    _write(table.take(pa.array(order)), out / "source" / "part-00000.parquet")
    return planted


GENERATORS = {
    "latest_partition": _gen_latest_partition,
    "incremental_sync": _gen_incremental_sync,
    "corpus_dedup": _gen_corpus_dedup,
}


def generate(workload: str, seed: int, size: int, out: Path) -> dict:
    """Write one workload's inputs under ``out`` (which must not exist)
    and return the planted properties."""
    rng = np.random.default_rng([seed, size])
    planted = GENERATORS[workload](rng, size, out)
    (out / "planted.json").write_text(json.dumps(planted, sort_keys=True))
    return planted


def ensure_inputs(cache_dir: Path, workload: str, seed: int,
                  size: int) -> Inputs:
    """Cached inputs for (workload, seed, size): generated once into a
    temporary directory and renamed into place, so an interrupted run never
    leaves a half-written cache entry behind."""
    root = cache_dir / f"{workload}-s{seed}-n{size}"
    if not (root / "planted.json").exists():
        tmp = cache_dir / f".tmp-{root.name}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        generate(workload, seed, size, tmp)
        shutil.rmtree(root, ignore_errors=True)
        tmp.rename(root)
    planted = json.loads((root / "planted.json").read_text())
    return Inputs(root=root, planted=planted)


def dir_bytes(path: str | Path) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's hidden
    ``_SUCCESS``/``.crc`` side files."""
    n_files = n_bytes = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
    return n_files, n_bytes

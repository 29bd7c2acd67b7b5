"""Seeded benchmark inputs and their expected outputs.

The tables under ``data/`` are the sf0.01 fixture tables (TPC-H-style
star schema, ``events``, ``documents``, ``embeddings``). A seed derives
one input set from them with a transform that keeps every row count
and every duplicate structure:

* each table's rows are permuted (file order, round-robin partitions
  and scan splits change with the seed);
* every int64 surrogate key (customer, supplier, part, order, event,
  user, document and vector ids) is shifted by one seed-derived
  multiple of 2520. The shift is the same in every table, so joins
  keep their matches, and it preserves the order of ids and their
  residues modulo 2..10, so keep-first tie-breaks and the
  ``id % k`` / ``id // 2`` groupings the queries use keep their shape
  while hashes of ids change.

The engine only ever sees the written tables. Expected outputs come
from the registry's DuckDB oracle SQL over the same tables and, for
the streaming workload, from an independent pure-Python recomputation
of the line-dedup arrival-order contract. Both are cached per seed.
"""

from __future__ import annotations

import pickle
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

SHIFTED = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def write_tables(seed: int, out_dir: Path) -> dict[str, int]:
    """Write the seed's tables as ``<out_dir>/<table>.parquet``; returns
    the row count of each table."""
    rng = np.random.default_rng(seed)
    shift = 2520 * int(rng.integers(0, 4000))
    out_dir.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name in TABLES:
        table = pq.read_table(DATA / f"{name}.parquet")
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        for col in SHIFTED.get(name, ()):
            i = table.schema.get_field_index(col)
            shifted = pc.add(table.column(i), pa.scalar(shift, pa.int64()))
            table = table.set_column(i, col, shifted)
        pq.write_table(table, out_dir / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows


def _cached(path: Path, compute):
    # the cache holds only files this module wrote into the run's
    # private work directory
    if path.exists():
        with path.open("rb") as f:
            return pickle.load(f)
    value = compute()
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    with tmp.open("wb") as f:
        pickle.dump(value, f)
    tmp.replace(path)
    return value


def oracle_expectations(names: list[str], sf_dir: Path,
                        cache: Path) -> dict[str, tuple]:
    """Canonical (cols, rows) of each query's DuckDB oracle."""
    from myhadoop_spark import registry
    from myhadoop_spark.oracle import canon_rows, duck_connection, run_oracle

    def compute():
        con = duck_connection(str(sf_dir))
        try:
            return {n: canon_rows(*run_oracle(con, registry.get(n).oracle))
                    for n in names}
        finally:
            con.close()

    return _cached(cache, compute)


def word_chunks(text: str, k: int) -> list[str]:
    """``operators.line_filter.word_lines``: whitespace tokens in
    k-word chunks joined by one space, the last chunk shorter."""
    toks = text.split()
    return [" ".join(toks[i:i + k]) for i in range(0, len(toks), k)]


def line_dedup_expectation(batches: list[list[tuple[int, str]]],
                           k: int) -> tuple[dict, set]:
    """Independent recomputation of ``line_dedup_stream``'s contract:
    a line key is kept exactly once, in the batch that first carried
    it, by that batch's first (doc id, position) occurrence; documents
    keep their surviving lines in order and are dropped when none
    survive. Returns ({(batch, doc_id): clean_text}, final seen set)."""
    seen: set[str] = set()
    clean: dict[tuple[int, int], str] = {}
    for b, docs in enumerate(batches):
        winner: dict[str, tuple[int, int]] = {}
        lines = {}
        for doc_id, text in docs:
            lines[doc_id] = word_chunks(text, k)
            for pos, key in enumerate(lines[doc_id]):
                if key not in seen:
                    winner[key] = min(winner.get(key, (doc_id, pos)),
                                      (doc_id, pos))
        for doc_id, ls in lines.items():
            kept = [key for pos, key in enumerate(ls)
                    if winner.get(key) == (doc_id, pos)]
            if kept:
                clean[(b, doc_id)] = "\n".join(kept)
        seen.update(winner)
    return clean, seen

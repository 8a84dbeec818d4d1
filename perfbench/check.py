"""Correctness gate, run after the timed region.

* Structured and curated tables are compared with the generator's
  simulated state (``admin_event_ts`` is ``current_timestamp`` and
  ``admin_hash`` is Spark's Murmur3, so neither is compared).
* Domain tables are compared with DuckDB running the same definition SQL
  over the expected curated state (``process_id`` is a lineage stamp, not
  compared).
* Every corpus manifest is compared with DuckDB running
  ``__spark_entry__.CORPUS_E2E_SQL`` over the same documents.

Tables are compared in DuckDB as multisets of whole rows (primary key
included), with every value cast to text. Each function returns mismatch
descriptions; empty means correct.
"""

from __future__ import annotations

import os

import duckdb

import gen

DUCK_TYPES = {"int": "INTEGER", "date": "DATE", "timestamp": "TIMESTAMP"}


def _text(column: str, ddl: str) -> str:
    """A column as text, so Spark's and DuckDB's types compare by value."""
    if ddl == "timestamp":
        return f"strftime({column}, '%Y-%m-%d %H:%M:%S.%f')"
    return f"CAST({column} AS VARCHAR)"


def parquet(path: str) -> str:
    """A (possibly hive-partitioned) parquet table as a DuckDB relation."""
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _compare(con, label: str, select: str, expected: str, actual: str) -> list[str]:
    """Multiset comparison (EXCEPT ALL both ways) of two relations."""
    missing = con.execute(
        f"SELECT count(*) FROM (SELECT {select} FROM {expected} "
        f"EXCEPT ALL SELECT {select} FROM {actual})").fetchone()[0]
    extra = con.execute(
        f"SELECT count(*) FROM (SELECT {select} FROM {actual} "
        f"EXCEPT ALL SELECT {select} FROM {expected})").fetchone()[0]
    if not missing and not extra:
        return []
    return [f"{label}: {missing} expected rows missing, {extra} unexpected rows"]


def _load_expected(con, generator: gen.CdcGenerator) -> None:
    """The oracle's state as typed DuckDB tables named like the curated
    tables, so the domain SQL runs over them unchanged."""
    import pyarrow as pa

    for t in gen.TABLES:
        cols = t.target_columns
        rows = list(generator.oracles[t.name].expected_rows().values())
        staged = pa.table({  # noqa: F841 — read by name below
            c: pa.array([r[i] for r in rows],
                        type=pa.int64() if t.ddl_type(c) == "int" else pa.string())
            for i, c in enumerate(cols)})
        select = ", ".join(
            f"CAST({c} AS {DUCK_TYPES.get(t.ddl_type(c), 'VARCHAR')}) AS {c}"
            for c in cols)
        con.execute(f"CREATE TABLE {t.name} AS SELECT {select} FROM staged")


def cdc(catalog, generator: gen.CdcGenerator) -> list[str]:
    """Structured and curated tables against the oracle's state, then
    domain tables against DuckDB running the same SQL over that state."""
    con = duckdb.connect()
    try:
        _load_expected(con, generator)
        problems = []
        for t in gen.TABLES:
            select = ", ".join(_text(c, t.ddl_type(c)) for c in t.target_columns)
            for name in (f"{t.name}_structured", t.name):
                problems += _compare(con, name, select, t.name,
                                     parquet(catalog.get(name).path))
        for _d, _deps, target, sql in gen.DOMAINS:
            names = [d[0] for d in con.execute(f"DESCRIBE {sql}").fetchall()]
            select = ", ".join(_text(c, "") for c in names)
            problems += _compare(con, target, select, f"({sql})",
                                 parquet(catalog.get(target).path))
        return problems
    finally:
        con.close()


MANIFEST_COLUMNS = ["shard_id", "n_docs", "n_tokens", "rank_from", "rank_to",
                    "shard_md5"]


def corpus(docs_path: str, manifests: list[str]) -> list[list[str]]:
    """Each pass's manifest against DuckDB running the repo's corpus SQL
    over the same documents; one list of mismatches per manifest."""
    from __spark_entry__ import CORPUS_E2E_SQL

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE documents AS SELECT * FROM read_json(?, "
            "columns={'doc_id': 'BIGINT', 'source': 'VARCHAR', 'text': 'VARCHAR'}, "
            "format='newline_delimited')", [docs_path])
        con.execute(f"CREATE TABLE expected AS {CORPUS_E2E_SQL}")
        select = ", ".join(_text(c, "") for c in MANIFEST_COLUMNS)
        return [_compare(con, os.path.basename(m), select, "expected", parquet(m))
                for m in manifests]
    finally:
        con.close()


def table_rows(path: str) -> int:
    return duckdb.execute(f"SELECT count(*) FROM {parquet(path)}").fetchone()[0]

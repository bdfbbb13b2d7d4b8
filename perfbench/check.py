"""Correctness check, run outside the timed region.

Outputs are compared by key against the registry's DuckDB oracles over
the generated inputs: a serving table (minus ``created_at``, ``ttl``
and ``_bucket``) against ``pl_e2e_results``, a curation disposition
against ``txt_curation_dag``. The oracles read only the ``documents``
table, so the view is made here for that one table (the engine's
``oracle.duck_connect`` wants all ten synthetic tables in one directory).
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb


@dataclass
class Verdict:
    expected: int
    missing: int
    wrong: int
    extra: int

    @property
    def failed(self) -> int:
        return self.missing + self.wrong

    @property
    def correct(self) -> bool:
        return self.failed == 0 and self.extra == 0 and self.expected > 0

    def as_dict(self) -> dict:
        return {"expected": self.expected, "missing": self.missing,
                "wrong": self.wrong, "extra": self.extra,
                "failed_ratio": self.failed / max(1, self.expected)}


def oracle_sql(name: str) -> str:
    from __spark_entry__ import oracle_sql as registry_oracles

    return registry_oracles()[name]


def _oracle_rows(docs: str | list[str], query: str) -> tuple[list[str], list[tuple]]:
    """The oracle's rows over the documents in ``docs`` (a path, a glob
    or a list of them)."""
    con = duckdb.connect()
    paths = [docs] if isinstance(docs, str) else docs
    try:
        # DISTINCT: replays re-send identical rows, which the keyed
        # sink collapses
        con.execute("CREATE VIEW documents AS SELECT DISTINCT * FROM "
                    f"read_parquet({paths!r})")
        rel = con.sql(oracle_sql(query))
        return rel.columns, rel.fetchall()
    finally:
        con.close()


def _table_rows(path: str, cols: list[str]) -> list[tuple]:
    con = duckdb.connect()
    try:
        sel = ", ".join(cols)
        return con.sql(f"SELECT {sel} FROM read_parquet('{path}/**/*.parquet', "
                       "hive_partitioning = false)").fetchall()
    finally:
        con.close()


def compare(expected: list[tuple], actual: list[tuple]) -> Verdict:
    """Compare keyed rows (key = first column)."""
    exp = {r[0]: r for r in expected}
    act = {r[0]: r for r in actual}
    missing = sum(1 for k in exp if k not in act)
    wrong = sum(1 for k, r in exp.items() if k in act and act[k] != r)
    extra = sum(1 for k in act if k not in exp) + (len(actual) - len(act))
    return Verdict(len(exp), missing, wrong, extra)


def serving_table(docs: str | list[str], table: str) -> Verdict:
    """A sentiment serving table against ``pl_e2e_results`` over the
    documents that should be in it."""
    cols, expected = _oracle_rows(docs, "pl_e2e_results")
    return compare(expected, _table_rows(table, cols))


def disposition(docs_glob: str, table: str) -> Verdict:
    """A curation disposition against ``txt_curation_dag``."""
    cols, expected = _oracle_rows(docs_glob, "txt_curation_dag")
    return compare(expected, _table_rows(table, cols))

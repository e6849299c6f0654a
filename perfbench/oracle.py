"""Independent DuckDB oracles for every benchmark output.

* Replay workloads: a last-writer-wins fold of base + replayed events
  (dedup by (doc_id, lsn), ``arg_max`` by lsn, winning deletes dropped),
  compared per row on (doc_id, lsn, n_tok, tokens) against the sink.
* Corpus entries: the entry's own ``QueryDef.oracle`` DuckDB twin at the
  same scale, compared order-insensitively on every value.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pyarrow as pa


def _glob(d: str) -> str:
    return f"read_parquet('{d}/*.parquet')"


def lww_sql(base_dir: str | None, events_dir: str, hi: int) -> str:
    """Final state after replaying every event with delivery_seq < hi on
    top of the base table (lsn = -1)."""
    base = (
        f"SELECT doc_id, lsn, 'insert' AS op, tokens, n_tok FROM {_glob(base_dir)}"
        if base_dir else
        "SELECT NULL::VARCHAR AS doc_id, NULL::BIGINT AS lsn, NULL::VARCHAR AS op,"
        " NULL::INTEGER[] AS tokens, NULL::INTEGER AS n_tok WHERE false"
    )
    return f"""
    WITH ev AS (
      SELECT DISTINCT doc_id, lsn, op, tokens, n_tok FROM {_glob(events_dir)}
      WHERE delivery_seq < {int(hi)}
    ), allv AS (
      {base}
      UNION ALL SELECT doc_id, lsn, op, tokens, n_tok FROM ev
    ), win AS (
      SELECT doc_id, max(lsn) AS lsn, arg_max(op, lsn) AS op,
             arg_max(tokens, lsn) AS tokens, arg_max(n_tok, lsn) AS n_tok
      FROM allv GROUP BY doc_id
    )
    SELECT doc_id, lsn, n_tok, tokens FROM win WHERE op <> 'delete'
    """


class LwwOracle:
    """One DuckDB connection over the workload's base and event files."""

    def __init__(self, base_dir: str | None, events_dir: str):
        self.con = duckdb.connect()
        self.base_dir = base_dir
        self.events_dir = events_dir
        self._his: set[int] = set()

    def _view(self, hi: int) -> str:
        name = f"want_{hi}"
        if hi not in self._his:
            self.con.execute(
                f"CREATE TEMP TABLE {name} AS "
                + lww_sql(self.base_dir, self.events_dir, hi)
            )
            self._his.add(hi)
        return name

    def summary(self, hi: int) -> tuple[int, int, int]:
        """(rows, Σ n_tok, Σ tokens) of the expected state."""
        r = self.con.execute(
            f"SELECT count(*), coalesce(sum(n_tok), 0),"
            f" coalesce(sum(list_sum(tokens)), 0) FROM {self._view(hi)}"
        ).fetchone()
        return int(r[0]), int(r[1]), int(r[2])

    def diff_rows(self, got: pa.Table, hi: int, keys: list | None = None) -> int:
        """Rows that differ between the sink's state ``got`` (doc_id, lsn,
        n_tok, tokens) and the fold; ``keys`` restricts both sides."""
        want = self._view(hi)
        self.con.register("got_tbl", got)
        filt = ""
        if keys is not None:
            lit = ", ".join("'" + k.replace("'", "''") + "'" for k in keys)
            filt = f"WHERE doc_id IN ({lit})"
        n = self.con.execute(f"""
            WITH w AS (SELECT * FROM {want} {filt}),
                 g AS (SELECT * FROM got_tbl {filt})
            SELECT count(*) FROM w FULL OUTER JOIN g ON w.doc_id = g.doc_id
            WHERE w.doc_id IS NULL OR g.doc_id IS NULL
               OR w.lsn <> g.lsn
               OR w.n_tok IS DISTINCT FROM g.n_tok
               OR w.tokens IS DISTINCT FROM g.tokens
        """).fetchone()[0]
        dup = self.con.execute(
            "SELECT count(*) - count(DISTINCT doc_id) FROM got_tbl"
        ).fetchone()[0]
        self.con.unregister("got_tbl")
        return int(n) + int(dup)

    def fingerprint(self, got: pa.Table) -> str:
        """Order-free digest of a state, to compare two sinks' final state."""
        self.con.register("fp_tbl", got)
        r = self.con.execute(
            "SELECT count(*), bit_xor(hash(doc_id, lsn, n_tok, tokens)),"
            " sum(n_tok) FROM fp_tbl"
        ).fetchone()
        self.con.unregister("fp_tbl")
        return f"{r[0]}:{r[1]}:{r[2]}"

    def close(self) -> None:
        self.con.close()


# ------------------------------------------------------------------ corpus

def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def frames_differ(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """'' when equal up to row order (numbers within 1e-9 relative)."""
    a, b = _canon(got), _canon(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        try:
            an = pd.to_numeric(av, errors="raise")
            bn = pd.to_numeric(bv, errors="raise")
            bad = ~((an.isna() & bn.isna())
                    | ((an.fillna(0) - bn.fillna(0)).abs()
                       <= 1e-9 + 1e-9 * bn.fillna(0).abs()))
        except (ValueError, TypeError):
            bad = av.fillna("∅").astype(str) != bv.fillna("∅").astype(str)
        if bad.any():
            i = bad.idxmax()
            return f"col {c} row {i}: {av[i]!r} vs {bv[i]!r}"
    return ""


def corpus_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    return con


def check_entry(con, oracle_sql: str | None, got: pd.DataFrame) -> str:
    """'' when a catalog entry's Spark result matches its oracle."""
    if oracle_sql is None:
        return "no oracle"
    return frames_differ(got, con.sql(oracle_sql).df())

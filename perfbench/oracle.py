"""Independent DuckDB oracle for every output the benchmark checks.

The expected table state is a fold of snapshot + change feed computed by
DuckDB, not by Spark: last writer wins by LSN (snapshot rows sit before
every event), and a delete drops the key.  Tables are compared by row count
and an order-independent digest of ``(repo, path, commit, sha256(content))``.
Oracle work runs after the timed windows and is never inside a span.
"""

from __future__ import annotations

import os

import duckdb

KEY = 'repo, path, "commit"'
DIGEST = (
    "SELECT count(*) AS n, coalesce(sum(hash(repo, path, \"commit\", "
    "sha256(coalesce(content, '')))::HUGEINT), 0) AS d FROM {rel}"
)


class Oracle:
    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")

    def fold(self, entry: str, max_batch: int | None = None,
             max_lsn: int | None = None) -> None:
        """Materialize table ``state``: the snapshot of cache ``entry``
        folded with its feed up to batch ``max_batch`` / LSN ``max_lsn``."""
        snap = os.path.join(entry, "snapshot", "*.parquet")
        feed = os.path.join(entry, "feed", "*", "*.parquet")
        cols = [c[0] for c in self.con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{snap}')").fetchall()]
        payload = ", ".join(f'"{c}"' for c in cols)
        where = ["TRUE"]
        if max_batch is not None:
            where.append(f"b <= {int(max_batch)}")
        if max_lsn is not None:
            where.append(f"lsn <= {int(max_lsn)}")
        self.con.execute(f"""
            CREATE OR REPLACE TABLE state AS
            WITH ev AS (
              SELECT -1::BIGINT AS lsn, 'insert' AS op, {payload}
              FROM read_parquet('{snap}')
              UNION ALL
              SELECT lsn, op, {payload}
              FROM read_parquet('{feed}', hive_partitioning = true)
              WHERE {' AND '.join(where)}
            )
            SELECT {payload} FROM ev
            QUALIFY row_number() OVER (
                        PARTITION BY {KEY} ORDER BY lsn DESC) = 1
                AND op <> 'delete'
        """)

    def digest(self, rel: str) -> tuple[int, int]:
        n, d = self.con.execute(DIGEST.format(rel=rel)).fetchone()
        return int(n), int(d)

    def check_table(self, arrow_table) -> bool:
        """Engine table (as Arrow) equals the folded state."""
        self.con.register("engine_rows", arrow_table)
        try:
            return self.digest("engine_rows") == self.digest("state")
        finally:
            self.con.unregister("engine_rows")

    def live_row_bytes(self) -> int:
        """User bytes of the folded state: string payload octets plus 4
        bytes per int column (the denominator of space amplification)."""
        cols = self.con.execute("DESCRIBE state").fetchall()
        parts = [
            f'coalesce(strlen("{c}"), 0)' if t == "VARCHAR" else "4"
            for c, t, *_ in cols
        ]
        return int(self.con.execute(
            f"SELECT coalesce(sum({' + '.join(parts)}), 0) FROM state"
        ).fetchone()[0])

    def column_lengths(self, cols) -> tuple:
        """(row count, sum of character lengths of each column) of state."""
        sums = ", ".join(f'sum(length("{c}"))' for c in cols)
        return tuple(int(x or 0) for x in self.con.execute(
            f"SELECT count(*), {sums} FROM state").fetchone())

    def check_agg_view(self, arrow_table) -> bool:
        """Agg view equals GROUP BY lang over the folded state."""
        self.con.register("engine_view", arrow_table)
        try:
            q = ("SELECT lang, n_rows::BIGINT, sum_size::BIGINT, "
                 "max_size::BIGINT FROM {} ORDER BY lang")
            got = self.con.execute(q.format("engine_view")).fetchall()
            want = self.con.execute(
                "SELECT lang, count(*), sum(size), max(size) FROM state "
                "GROUP BY lang ORDER BY lang").fetchall()
            return got == want
        finally:
            self.con.unregister("engine_view")

    def check_join_view(self, arrow_table, families: dict[str, str]) -> bool:
        """Join view equals the folded state joined to the lang dim."""
        self.con.register("engine_view", arrow_table)
        self.con.execute("CREATE OR REPLACE TABLE dim(lang VARCHAR, "
                         "family VARCHAR)")
        self.con.executemany("INSERT INTO dim VALUES (?, ?)",
                             sorted(families.items()))
        try:
            q = ("SELECT count(*), coalesce(sum(hash(repo, path, \"commit\", "
                 "family, sha256(coalesce(content, '')))::HUGEINT), 0) "
                 "FROM {}")
            got = self.con.execute(q.format("engine_view")).fetchone()
            want = self.con.execute(q.format(
                "state JOIN dim USING (lang)")).fetchone()
            return tuple(got) == tuple(want)
        finally:
            self.con.unregister("engine_view")

    def lookup_rows(self, repo: str) -> list[tuple]:
        return sorted(self.con.execute(
            f"SELECT {KEY}, sha256(coalesce(content, '')) FROM state "
            "WHERE repo = ?", [repo]).fetchall())

    def close(self) -> None:
        self.con.close()

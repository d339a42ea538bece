"""Independent DuckDB oracle.

Reads the generated feed parquet directly and computes, in SQL, what the
engine should hold: exact ``event_id`` dedup, the job's filter and
transform rules, seq-ordered last-writer-wins with deletes, and
per-column coalescing for partial updates (a column takes the value of
the latest event that touches it; full images and deletes touch every
column, partials only the fields they carry). Nothing here calls the
engine; the engine's outputs arrive as parquet files or Python rows.

Every check returns ``(checked, mismatched)``; any mismatch fails the run.
"""

from __future__ import annotations

import os

import duckdb

PAYLOAD = ("lang", "content")


class Oracle:
    def __init__(self, feed: str | list[str], partial_updates: bool, work: str):
        os.makedirs(work, exist_ok=True)
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute("SET memory_limit = '1GB'")
        self.con.execute(f"SET temp_directory = '{work}/duckdb-tmp'")
        globs = [feed] if isinstance(feed, str) else list(feed)
        files = "[" + ", ".join(f"'{g}'" for g in globs) + "]"
        partial = (
            "coalesce(meta['partial'][1] = 'true', false)" if partial_updates else "false"
        )
        # raw events: exact dedup on event_id, filter on the raw doc,
        # normalize, then the transform rules in priority order
        self.con.execute(
            f"""
            CREATE TABLE ev AS
            WITH raw AS (
                SELECT DISTINCT ON (event_id) event_id, seq, op, tbl,
                       key.repo AS repo, key.path AS path, key.commit AS "commit",
                       doc, {partial} AS part
                FROM read_parquet({files}, union_by_name = true)
            ), filtered AS (
                SELECT * FROM raw
                WHERE tbl = 'repos'
                  AND coalesce(json_extract_string(doc, '$.lang') <> 'java', true)
            ), norm AS (
                SELECT event_id, seq, op, repo, path, "commit", part,
                       json_extract_string(doc, '$.lang') AS lang,
                       json_extract_string(doc, '$.content') AS content
                FROM filtered
            ), r1 AS (
                SELECT * REPLACE (CASE WHEN lang = 'rs' THEN 'rust' ELSE lang END AS lang)
                FROM norm
            ), r2 AS (
                SELECT * REPLACE (CASE WHEN lang = 'go' THEN upper(content) ELSE content END AS content)
                FROM r1
            )
            SELECT * REPLACE (
                CASE WHEN lang = 'js' AND content IS NOT NULL THEN lang || '-web' ELSE lang END AS lang)
            FROM r2
            """
        )

    def _state_sql(self, wm_table: str) -> str:
        """Per (w, key): last seq, deleted flag, and per-column values of
        the latest touching event, over events with seq <= w, for each
        watermark w in ``wm_table``."""
        src = f"SELECT wm.w, ev.* FROM ev JOIN (SELECT DISTINCT w FROM {wm_table}) wm ON ev.seq <= wm.w"
        # non-touching rows always carry NULL in that column, so ordering
        # them first and taking the last row yields the latest touch (or
        # NULL when nothing touched the column)
        cols = ",\n".join(
            f"last_value({c}) OVER (k ORDER BY (NOT part OR op = 'delete' OR {c} IS NOT NULL), seq "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS {c}"
            for c in PAYLOAD
        )
        return f"""
            SELECT w, repo, path, "commit", seq AS last_seq, op = 'delete' AS deleted,
                   {", ".join(PAYLOAD)}
            FROM (
                SELECT w, repo, path, "commit", seq, op, max(seq) OVER k AS top,
                       {cols}
                FROM ({src})
                WINDOW k AS (PARTITION BY w, repo, path, "commit")
            )
            WHERE seq = top
        """

    def expected_state(self, w: int) -> None:
        """Table ``expected``: the live rows after every event with seq <= w."""
        self.con.execute(f"CREATE OR REPLACE TABLE wm_state AS SELECT {int(w)}::BIGINT AS w")
        self.con.execute(
            f"CREATE OR REPLACE TABLE expected AS SELECT repo, path, \"commit\", lang, content "
            f"FROM ({self._state_sql('wm_state')}) WHERE NOT deleted"
        )

    def _compare(self, actual: str) -> tuple[int, int]:
        checked, bad = self.con.execute(
            f"""
            WITH a AS (SELECT *, true AS present FROM {actual}),
                 e AS (SELECT *, true AS present FROM expected)
            SELECT count(*),
                   count(*) FILTER (WHERE a.present IS NULL OR e.present IS NULL
                       OR a.lang IS DISTINCT FROM e.lang
                       OR sha256(a.content) IS DISTINCT FROM sha256(e.content)
                       OR a.content IS DISTINCT FROM e.content)
            FROM e FULL OUTER JOIN a
              ON a.repo = e.repo AND a.path = e.path AND a."commit" = e."commit"
            """
        ).fetchone()
        dup = self.con.execute(
            f"SELECT count(*) - count(DISTINCT (repo, path, \"commit\")) FROM {actual}"
        ).fetchone()[0]
        return checked, bad + dup

    def digest(self, table: str) -> str:
        return self.con.execute(
            f"""SELECT sha256(coalesce(string_agg(concat_ws('|', repo, path, "commit",
                   coalesce(lang, '~'), coalesce(content, '~')), chr(10)
                   ORDER BY repo, path, "commit"), ''))
                FROM {table}"""
        ).fetchone()[0]

    def check_state(self, actual_glob: str, w: int) -> dict:
        """Full outer join of the engine's resolved table (parquet) with
        the oracle's state at watermark ``w``, on key, comparing content sha256 and
        every payload column. Also runs the self-test: one corrupted
        engine row must be caught."""
        self.expected_state(w)
        self.con.execute(
            f"CREATE OR REPLACE TABLE actual AS SELECT repo, path, \"commit\", lang, content "
            f"FROM read_parquet('{actual_glob}')"
        )
        checked, bad = self._compare("actual")
        self.con.execute(
            """CREATE OR REPLACE TABLE corrupted AS
               SELECT * REPLACE (CASE WHEN rn = 1 THEN coalesce(content, '') || 'x'
                                      ELSE content END AS content)
               FROM (SELECT *, row_number() OVER (ORDER BY repo, path, "commit") AS rn FROM actual)"""
        )
        _, bad_corrupt = self._compare("(SELECT * EXCLUDE (rn) FROM corrupted)")
        n_actual = self.con.execute("SELECT count(*) FROM actual").fetchone()[0]
        return {
            "rows_checked": checked,
            "rows_mismatched": bad,
            "live_rows": n_actual,
            "expected_sha256": self.digest("expected"),
            "actual_sha256": self.digest("actual"),
            "selftest_caught": n_actual > 0 and bad_corrupt > bad,
        }

    def check_lookups(self, calls: list[tuple], rows: list[tuple]) -> tuple[int, int]:
        """``calls``: (call_id, watermark, repo, path); ``rows``: (call_id,
        repo, path, commit, lang, content). Each call must return exactly
        the live rows for its (repo, path) at its snapshot watermark."""
        if not calls:
            return 0, 0
        self.con.execute("CREATE OR REPLACE TABLE lk (call_id INT, w BIGINT, repo VARCHAR, path VARCHAR)")
        self.con.executemany("INSERT INTO lk VALUES (?, ?, ?, ?)", calls)
        self.con.execute(
            "CREATE OR REPLACE TABLE lk_rows (call_id INT, repo VARCHAR, path VARCHAR, "
            "\"commit\" VARCHAR, lang VARCHAR, content VARCHAR)"
        )
        if rows:
            self.con.executemany("INSERT INTO lk_rows VALUES (?, ?, ?, ?, ?, ?)", rows)
        self.con.execute(f"CREATE OR REPLACE TABLE st_lk AS {self._state_sql('lk')}")
        bad = self.con.execute(
            """
            WITH e AS (
                SELECT lk.call_id, s."commit", s.lang, s.content, true AS present
                FROM lk JOIN st_lk s
                  ON s.w = lk.w AND s.repo = lk.repo AND s.path = lk.path AND NOT s.deleted
            ), a AS (SELECT call_id, "commit", lang, content, true AS present FROM lk_rows)
            SELECT count(DISTINCT coalesce(e.call_id, a.call_id))
            FROM e FULL OUTER JOIN a ON e.call_id = a.call_id AND e."commit" = a."commit"
            WHERE e.present IS NULL OR a.present IS NULL
               OR e.lang IS DISTINCT FROM a.lang OR e.content IS DISTINCT FROM a.content
            """
        ).fetchone()[0]
        dup = self.con.execute(
            'SELECT count(*) FROM (SELECT call_id FROM lk_rows GROUP BY call_id, "commit" HAVING count(*) > 1)'
        ).fetchone()[0]
        return len(calls), bad + dup

    def check_polls(self, calls: list[tuple], rows: list[tuple]) -> tuple[int, int]:
        """``calls``: (call_id, watermark, floor); ``rows``: (call_id, repo,
        path, commit, lang, content, last_seq, deleted). Each poll must
        return every key whose latest event at the watermark is above the
        floor, tombstones included, with that event's seq."""
        if not calls:
            return 0, 0
        self.con.execute("CREATE OR REPLACE TABLE pl (call_id INT, w BIGINT, floor BIGINT)")
        self.con.executemany("INSERT INTO pl VALUES (?, ?, ?)", calls)
        self.con.execute(
            "CREATE OR REPLACE TABLE pl_rows (call_id INT, repo VARCHAR, path VARCHAR, "
            "\"commit\" VARCHAR, lang VARCHAR, content VARCHAR, last_seq BIGINT, deleted BOOLEAN)"
        )
        if rows:
            self.con.executemany("INSERT INTO pl_rows VALUES (?, ?, ?, ?, ?, ?, ?, ?)", rows)
        self.con.execute(f"CREATE OR REPLACE TABLE st_pl AS {self._state_sql('pl')}")
        bad = self.con.execute(
            """
            WITH e AS (
                SELECT pl.call_id, s.repo, s.path, s."commit", s.lang, s.content,
                       s.last_seq, s.deleted, true AS present
                FROM pl JOIN st_pl s ON s.w = pl.w AND s.last_seq > pl.floor
            ), a AS (SELECT *, true AS present FROM pl_rows)
            SELECT count(DISTINCT coalesce(e.call_id, a.call_id))
            FROM e FULL OUTER JOIN a
              ON e.call_id = a.call_id AND e.repo = a.repo AND e.path = a.path
             AND e."commit" = a."commit"
            WHERE e.present IS NULL OR a.present IS NULL
               OR e.last_seq IS DISTINCT FROM a.last_seq
               OR e.deleted IS DISTINCT FROM a.deleted
               OR (NOT e.deleted AND (e.lang IS DISTINCT FROM a.lang
                                      OR e.content IS DISTINCT FROM a.content))
            """
        ).fetchone()[0]
        return len(calls), bad

    def close(self) -> None:
        self.con.close()

"""Output checks, run outside the timed windows.

Batch: each query's Spark result is compared with its DuckDB oracle
over the same parquet files, with the normalisation of
``scripts/crosscheck.py`` (sorted columns, floats rounded to 6 places,
integers compared exactly, rows sorted) and its tolerance. A query with
no oracle gets a rows-only check (it must return without error).

Stream: the benchmark's sink keeps every micro-batch's updated
``(window_start, user_id, cnt)`` rows with the batch id. The latest row
per key must equal DuckDB's count over the generated JSON-lines files of
the events the watermark did not close out, and the engine's
``numRowsDroppedByWatermark`` must lie between the number of keys and the
number of events the watermark closed out.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import tempfile

import duckdb
import pandas as pd

from data import TABLES


#: the oracle shares the host with the engine under test: keep it small
_DUCKDB = {"threads": 2, "memory_limit": "1GB", "temp_directory": tempfile.gettempdir()}


def _crosscheck_normalize():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "scripts", "crosscheck.py")
    spec = importlib.util.spec_from_file_location("_perfbench_crosscheck", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._normalize


class BatchOracle:
    """DuckDB oracle over the fixed corpus. Oracle results depend only on
    the corpus and the SQL, so each is computed once per checkout and
    kept under ``cache_dir`` keyed by a hash of the SQL."""

    def __init__(self, corpus_dir: str, cache_dir: str) -> None:
        self._normalize = _crosscheck_normalize()
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self.con = duckdb.connect(config=_DUCKDB)
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(corpus_dir, t)}.parquet')"
            )

    def compare(self, spark_df: pd.DataFrame, oracle_sql: str | None) -> str | None:
        """``None`` when the result matches, else why it does not."""
        if oracle_sql is None:
            return None
        s = self._normalize(spark_df)
        o = self._normalize(self.expected(oracle_sql))
        if list(s.columns) != list(o.columns):
            return f"columns spark={list(s.columns)} oracle={list(o.columns)}"
        if len(s) != len(o):
            return f"rows spark={len(s)} oracle={len(o)}"
        try:
            int_cols = [c for c in s.columns if s[c].dtype.kind in "iu"]
            if int_cols and not s[int_cols].equals(o[int_cols].round().astype("int64")):
                return f"integer columns differ: {int_cols}"
            pd.testing.assert_frame_equal(
                s, o, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-6
            )
        except (AssertionError, ValueError, TypeError) as e:
            return f"values differ: {str(e)[:300]}"
        return None

    def expected(self, oracle_sql: str) -> pd.DataFrame:
        path = os.path.join(self.cache_dir, hashlib.sha256(oracle_sql.encode()).hexdigest() + ".pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        df = self.con.execute(oracle_sql).df()
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df

    def close(self) -> None:
        self.con.close()


def check_stream(gen_dir: str, sink_path: str, window_s: int, file_batch: dict[int, int],
                 watermark_ms: dict[int, int], dropped_by_watermark: int) -> list[str]:
    """Problems found in the stream output (empty list: correct).

    ``file_batch`` maps each generator file to the micro-batch that read
    it and ``watermark_ms`` each batch to the watermark its progress
    reports. Spark filters late input with the previous batch's
    watermark: a row is dropped when its window ends at or before it;
    every other row must be counted.
    """
    problems = []
    con = duckdb.connect(config=_DUCKDB)
    try:
        con.execute("CREATE TABLE fb (k BIGINT, batch_id BIGINT)")
        con.executemany("INSERT INTO fb VALUES (?, ?)", list(file_batch.items()))
        con.execute("CREATE TABLE wm (batch_id BIGINT, watermark_ms BIGINT)")
        con.executemany("INSERT INTO wm VALUES (?, ?)", [(-1, 0), *watermark_ms.items()])
        con.execute(
            f"""CREATE VIEW ev AS
                SELECT userId AS user_id,
                       CAST(floor(epoch_ms(CAST(timestamp AS TIMESTAMPTZ)) / {window_s * 1000})
                            AS BIGINT) * {window_s} AS window_start,
                       CAST(regexp_extract(filename, '(\\d+)\\.json$', 1) AS BIGINT) AS k
                FROM read_json('{gen_dir}/in/*.json', format='newline_delimited', filename=true,
                  columns={{'userId': 'VARCHAR', 'activity': 'VARCHAR', 'timestamp': 'VARCHAR'}})"""
        )
        con.execute(
            f"""CREATE VIEW judged AS
                SELECT ev.*, fb.batch_id, (window_start + {window_s}) * 1000 <= wm.watermark_ms AS dropped
                FROM ev JOIN fb USING (k) JOIN wm ON wm.batch_id = fb.batch_id - 1"""
        )
        unread, dropped, dropped_groups = con.execute(
            "SELECT (SELECT count(*) FROM ev) - (SELECT count(*) FROM judged),"
            " (SELECT count(*) FILTER (WHERE dropped) FROM judged),"
            " (SELECT count(DISTINCT (batch_id, window_start, user_id)) FILTER (WHERE dropped)"
            "  FROM judged)"
        ).fetchone()
        if unread:
            problems.append(f"{unread} generated events were never read")
        # the stateful operator counts drops after partial aggregation: late
        # events of one key and window collapse into one row per input task
        if not dropped_groups <= dropped_by_watermark <= dropped:
            problems.append(
                f"numRowsDroppedByWatermark {dropped_by_watermark} is outside"
                f" [{dropped_groups}, {dropped}], the late keys and late events"
            )
        con.execute(
            """CREATE VIEW expected AS SELECT window_start, user_id, count(*) AS cnt
               FROM judged WHERE NOT dropped GROUP BY ALL"""
        )
        con.execute(
            f"""CREATE VIEW emitted AS
                SELECT window_start, user_id, arg_max(cnt, batch_id) AS cnt
                FROM read_parquet('{sink_path}') GROUP BY ALL"""
        )
        diff = con.execute(
            """SELECT count(*) FROM (
                 (SELECT * FROM expected EXCEPT ALL SELECT * FROM emitted)
                 UNION ALL
                 (SELECT * FROM emitted EXCEPT ALL SELECT * FROM expected))"""
        ).fetchone()[0]
        if diff:
            n = con.execute("SELECT count(*) FROM expected").fetchone()[0]
            problems.append(f"{diff} window rows differ from the oracle ({n} expected)")
    finally:
        con.close()
    return problems

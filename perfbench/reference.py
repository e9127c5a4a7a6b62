"""Independent reference for the CDC workloads, computed by DuckDB over the
same change-event parquet the engine ingests. Nothing here calls the engine:
last-writer-wins state is `row_number()` by LSN, the change feed is a join of
each epoch's winners against the state before it.

Results are compared by row count plus an order-independent fingerprint: the
sum, modulo 2^64, of the first 8 bytes of md5 over each row's fields joined by
U+001F, with NULL rendered as `\\N` and timestamps as epoch microseconds. The
JVM side (`perfbench.Fingerprint`) renders rows the same way.
"""
import duckdb

STATE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
FEED_COLS = ["conv_id", "turn_idx", "_change", "_old_lsn", "_new_lsn",
             "role", "text", "tool", "ts"]
CORRUPT = " [corrupted reference row]"


def _render(c):
    if c == "ts":
        return "coalesce(epoch_us(ts)::VARCHAR, '\\N')"
    return f"coalesce({c}::VARCHAR, '\\N')"


def fingerprint(con, relation, cols):
    """(count, fingerprint string) of a SQL relation."""
    row = ", ".join(_render(c) for c in cols)
    n, fp = con.execute(f"""
        SELECT count(*),
               coalesce(sum(('0x' || substr(md5(concat_ws(chr(31), {row})), 1, 16))
                            ::UBIGINT::HUGEINT) % (1::HUGEINT << 64), 0)::VARCHAR
        FROM ({relation})""").fetchone()
    return int(n), fp


def _files(epoch_dir):
    return f"read_parquet('{epoch_dir}/*.parquet')"


def _winners(epoch_dir):
    return f"""SELECT * EXCLUDE (rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
        FROM {_files(epoch_dir)}) WHERE rn = 1"""


def _corrupt(con, table):
    con.execute(f"""UPDATE {table} SET text = text || '{CORRUPT}'
        WHERE lsn = (SELECT min(lsn) FROM {table} WHERE op <> 'D')""")


def connect(tmp_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 2")
    return con


def check_lineage(con, epoch_dir, lineage_dir):
    """Compare one epoch's lineage rows (written by the engine) with the
    epoch's events: keys applied, deletes, conflicts and the LSN range."""
    want = con.execute(f"""
        WITH e AS (SELECT * FROM {_files(epoch_dir)}), w AS ({_winners(epoch_dir)})
        SELECT (SELECT count(*) FROM w), (SELECT count(*) FILTER (op = 'D') FROM w),
               (SELECT count(*) FROM e) - (SELECT count(*) FROM w),
               (SELECT min(lsn) FROM e), (SELECT max(lsn) FROM e)""").fetchone()
    got = con.execute(f"""
        SELECT sum(rows_applied), sum(deletes), sum(conflicts), min(lsn_min), max(lsn_max)
        FROM read_parquet('{lineage_dir}/*.parquet')""").fetchone()
    return tuple(int(x) for x in got) == tuple(int(x) for x in want), \
        f"lineage {got} != expected {want}"


class TailReference:
    """Incremental reference state for the tail workload: `advance(epoch_dir)`
    applies one epoch and returns the expected change feed of that epoch."""

    def __init__(self, con, warmup_dir):
        self.con = con
        con.execute(f"CREATE OR REPLACE TEMP TABLE s AS {_winners(warmup_dir)}")

    def advance(self, epoch_dir, corrupt=False):
        con = self.con
        con.execute(f"CREATE OR REPLACE TEMP TABLE w AS {_winners(epoch_dir)}")
        if corrupt:
            _corrupt(con, "w")
        result = fingerprint(con, """
            WITH j AS (
              SELECT w.*, s.lsn AS s_lsn, s.role AS s_role, s.text AS s_text,
                     s.tool AS s_tool, s.ts AS s_ts,
                     coalesce(s.op <> 'D', false) AS live1, w.op <> 'D' AS live2
              FROM w LEFT JOIN s ON s.conv_id = w.conv_id AND s.turn_idx = w.turn_idx)
            SELECT conv_id, turn_idx,
              CASE WHEN live1 AND live2 THEN 'update' WHEN live1 THEN 'delete'
                   ELSE 'insert' END AS _change,
              CASE WHEN live1 THEN s_lsn END AS _old_lsn,
              lsn AS _new_lsn,
              CASE WHEN live2 THEN role ELSE s_role END AS role,
              CASE WHEN live2 THEN text ELSE s_text END AS text,
              CASE WHEN live2 THEN tool ELSE s_tool END AS tool,
              CASE WHEN live2 THEN ts ELSE s_ts END AS ts
            FROM j WHERE live1 OR live2""", FEED_COLS)
        con.execute("""DELETE FROM s USING w
                       WHERE s.conv_id = w.conv_id AND s.turn_idx = w.turn_idx""")
        con.execute("INSERT INTO s SELECT * FROM w")
        return result

    def lookup(self, conv_id):
        return fingerprint(
            self.con, f"SELECT * FROM s WHERE conv_id = '{conv_id}' AND op <> 'D'",
            STATE_COLS)

    def state(self):
        return fingerprint(self.con, "SELECT * FROM s WHERE op <> 'D'", STATE_COLS)

"""Correctness checks, run after the JVM has exited. Each returns a list of
problems; an empty list means the outputs are correct. The outputs are
read with DuckDB, apart from the program and from Spark.
"""
import importlib.util
import os

import duckdb


def _glob(path):
    return os.path.join(path, "**", "*.parquet")


def _connect():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")  # it would print to stdout
    return con


def check_consume(sink, tally):
    """The parquet sink of one drained round against the generator's tallies."""
    con = _connect()
    con.execute("CREATE VIEW s AS SELECT * FROM read_parquet('%s', hive_partitioning=false)"
                % _glob(sink))
    problems = []
    per_shard = dict(con.execute("SELECT shardId, count(*) FROM s GROUP BY 1").fetchall())
    if per_shard != tally["rows_per_shard"]:
        problems.append("records per shard %s, expected %s" % (per_shard, tally["rows_per_shard"]))
    cents = dict(con.execute(
        "SELECT event_type, sum(CAST(round(value * 100) AS BIGINT)) FROM s GROUP BY 1").fetchall())
    if cents != tally["cents_per_type"]:
        problems.append("value sum per event_type %s, expected %s" % (cents, tally["cents_per_type"]))
    ids = [r[0] for r in con.execute("SELECT event_id FROM s ORDER BY event_id").fetchall()]
    if ids != tally["event_ids"]:
        problems.append("event_id multiset differs (%d read, %d expected)"
                        % (len(ids), len(tally["event_ids"])))
    dup, null_ids = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT shardId, sequenceNumber FROM s"
        " GROUP BY 1, 2 HAVING count(*) > 1)), count(*) FILTER (WHERE event_id IS NULL) FROM s"
    ).fetchone()
    if dup:
        problems.append("%d (shardId, sequenceNumber) pairs delivered more than once" % dup)
    if null_ids:
        problems.append("%d records decoded with a null event_id" % null_ids)
    return problems


def _canonical(root):
    """`frame` from the repository's tools/check.py: the driver-equivalent
    canonicalization of a DuckDB result."""
    spec = importlib.util.spec_from_file_location("graft_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.frame


def check_library(root, tables, results, oracle_sql):
    """Each query's result (written by the untimed pass) against its DuckDB
    oracle over the same generated tables."""
    frame = _canonical(root)
    con = _connect()
    for t in sorted(os.listdir(tables)):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t[:-len(".parquet")], os.path.join(tables, t)))
    problems = []
    for name, sql in sorted(oracle_sql.items()):
        got = frame(con, "SELECT * FROM read_parquet('%s')" % _glob(os.path.join(results, name)))
        want = frame(con, sql)
        if got[0] != want[0]:
            problems.append("%s: columns %s, oracle %s" % (name, got[0], want[0]))
        elif sorted(got[1]) != sorted(want[1]):
            only = sorted(set(got[1]) ^ set(want[1]))[:2]
            problems.append("%s: %d rows, oracle %d; differing %s"
                            % (name, len(got[1]), len(want[1]), only))
    return problems

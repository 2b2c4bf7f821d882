#!/usr/bin/env python3
"""Self-tests of the correctness checks: each check must pass on intact
outputs and fail on deliberately damaged ones. Needs no JVM; the outputs
are laid out the way the program writes them.

    python3 perfbench/selftest.py     # from the repository root; exit 0 = all hold
"""
import json
import os
import shutil
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import inputs  # noqa: E402


def consume_sink(rows, sink, per_batch):
    """ConsumeApp's layout: one `batch_id=N` directory per trigger."""
    recs = []
    for shard, pk, arrival, data in rows:
        d = json.loads(data)
        recs.append({"shardId": "shard-%d" % shard, "sequenceNumber": "%012d" % len(recs),
                     "event_id": d["event_id"], "user_id": d["user_id"],
                     "event_type": d["event_type"], "value": d["value"]})
    for b in range(0, len(recs), per_batch):
        os.makedirs(os.path.join(sink, "batch_id=%d" % (b // per_batch)))
        pq.write_table(pa.Table.from_pylist(recs[b:b + per_batch]),
                       os.path.join(sink, "batch_id=%d" % (b // per_batch), "part-0.parquet"))


def expect(name, problems, should_fail):
    ok = bool(problems) == should_fail
    print("%s %s%s" % ("PASS" if ok else "FAIL", name, (": " + problems[0]) if problems else ""))
    return ok


def main():
    root = os.getcwd()
    tmp = os.path.join(build.build_dir(root), "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    results = []

    # consume: intact, one record dropped, one batch directory duplicated
    rows, tally = inputs.events_backlog(np.random.default_rng(5), 12)
    for case in ("intact", "record dropped", "batch duplicated"):
        sink = os.path.join(tmp, "consume", case.replace(" ", "_"))
        consume_sink(rows[1:] if case == "record dropped" else rows, sink, 16)
        if case == "batch duplicated":
            shutil.copytree(os.path.join(sink, "batch_id=2"), os.path.join(sink, "batch_id=99"))
        results.append(expect("consume, " + case, checks.check_consume(sink, tally),
                              case != "intact"))

    # library: a result equal to its oracle, then one row altered
    work = os.path.join(tmp, "library")
    tables = inputs.write_documents(np.random.default_rng(7), os.path.join(work, "tables"), n_docs=40)
    oracle = {"per_lang": "SELECT lang, count(*) AS n, sum(n_chars) AS c "
                          "FROM documents GROUP BY lang ORDER BY lang"}
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')" % tables)
    want = con.execute(oracle["per_lang"]).fetch_arrow_table()
    altered = want.set_column(1, "n", pa.array([want["n"][0].as_py() + 1] + want["n"].to_pylist()[1:]))
    for case, table in (("intact", want), ("oracle row altered", altered)):
        res = os.path.join(work, case.replace(" ", "_"))
        os.makedirs(os.path.join(res, "per_lang"))
        pq.write_table(table, os.path.join(res, "per_lang", "part-0.parquet"))
        results.append(expect("library, " + case, checks.check_library(root, tables, res, oracle),
                              case != "intact"))

    shutil.rmtree(tmp, ignore_errors=True)
    print("%d of %d self-tests hold" % (sum(results), len(results)))
    sys.exit(0 if all(results) else 1)


if __name__ == "__main__":
    main()

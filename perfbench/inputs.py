"""Seeded input generators. Every input comes from `numpy.random` seeded by
the run's `--seed`; the generators also return the tallies the checks
compare the program's outputs against, counted here and not by the
program.

Stream inputs are written as `shard \\t partitionKey \\t arrivalMicros \\t
data` rows; the harness lays them out with the program's ShardSimFixture.
Library inputs are a parquet `documents` table with the program's columns.
Warm-up inputs come from seed + WARM_SEED_OFFSET.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHARDS = 8
WARM_SEED_OFFSET = 1_000_003
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("join hash row batch scan column customer filter small slow merge order vector "
         "line table data agg value key stream window a spark part group big sort query "
         "fast the").split()
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
TS0_US = 1704067200 * 10**6  # 2024-01-01T00:00:00Z


def _write_rows(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for shard, pk, arrival, data in rows:
            f.write("%d\t%s\t%d\t%s\n" % (shard, pk, arrival, data))


def events_backlog(rng, per_shard):
    """`per_shard` events on each shard; shard = user_id mod SHARDS, so every
    shard has the same backlog and a drain takes a fixed number of triggers."""
    n = per_shard * SHARDS
    shard = np.repeat(np.arange(SHARDS), per_shard)
    user = rng.integers(0, 2000, n) * SHARDS + shard
    etype = rng.integers(0, len(EVENT_TYPES), n)
    cents = rng.integers(1, 49000, n)
    ts = TS0_US + np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    event_id = rng.permutation(n)
    k = rng.integers(0, 100, n)
    rows, tally = [], {"rows_per_shard": {}, "cents_per_type": {}, "event_ids": []}
    for i in range(n):
        data = json.dumps({"event_id": int(event_id[i]), "user_id": int(user[i]),
                           "event_type": EVENT_TYPES[etype[i]], "value": int(cents[i]) / 100,
                           "ts_us": int(ts[i]), "props": '{"k": %d}' % k[i]},
                          separators=(",", ":"))
        rows.append((int(shard[i]), str(user[i]), int(ts[i]), data))
        sid = "shard-%d" % shard[i]
        tally["rows_per_shard"][sid] = tally["rows_per_shard"].get(sid, 0) + 1
        et = EVENT_TYPES[etype[i]]
        tally["cents_per_type"][et] = tally["cents_per_type"].get(et, 0) + int(cents[i])
    tally["event_ids"] = sorted(int(e) for e in event_id)
    return rows, tally


def _text(rng):
    return " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100))))


def consume_inputs(seed, work, per_shard, warm_per_shard):
    """Writes input/timed.tsv and input/warm.tsv (seed + 1,000,003,
    `warm_per_shard` events per shard); returns the timed backlog's
    tallies."""
    os.makedirs(os.path.join(work, "input"), exist_ok=True)
    for name, s, n in (("warm", seed + WARM_SEED_OFFSET, warm_per_shard), ("timed", seed, per_shard)):
        rows, tally = events_backlog(np.random.default_rng(s), n)
        _write_rows(os.path.join(work, "input", name + ".tsv"), rows)
    return tally


def write_documents(rng, out, n_docs=500):
    """The program's `documents` table, fitted to its sf0.01 test table:
    texts of 10-99 words drawn uniformly from the same 30-word vocabulary,
    one document in twenty an earlier text with " dup" appended (26 of
    500 there), 3 in 7 `en` and the rest es/zh/de/fr, 20 sources."""
    os.makedirs(out, exist_ok=True)
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_text(rng))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)],
        "source": ["src%d" % (i % 20) for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        os.path.join(out, "documents.parquet"))
    return out


def library_inputs(seed, work):
    """input/tables from `seed` and input/warm_tables from seed + 1,000,003;
    returns the timed tables' directory. The library queries read only
    `documents`."""
    write_documents(np.random.default_rng(seed + WARM_SEED_OFFSET), os.path.join(work, "input", "warm_tables"))
    return write_documents(np.random.default_rng(seed), os.path.join(work, "input", "tables"))

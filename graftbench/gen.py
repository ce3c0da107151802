"""Seeded input generator for the benchmark workloads, and the measure
of any table set's input properties.

    python3 graftbench/gen.py --measure <dir with documents/events parquet>

Every distribution below copies the one measured on the repo's own
fixture tables (seed 42) at sf0.01 and sf0.1 with ``--measure`` and a
one-off pair inspection; graftbench/README.md gives the figures.  The
generator writes the tables a workload's queries read in the fixtures'
schema and physical layout (one parquet file, one row group per table)
and returns the properties ``measure`` finds in what it wrote, so every
run records the shares it actually ran on.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The fixtures' 31-word vocabulary (every fixture text draws from it).
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
#: Fixture text lengths are uniform over 10..100 words (sf0.1 quartiles
#: 32, 54, 76).
DOC_WORDS = (10, 100)
LANGS = ("en", "zh", "es", "fr", "de")
#: sf0.1 counts 2059, 753, 744, 742, 702 of 5000.
LANG_P = (0.412, 0.151, 0.149, 0.148, 0.140)
#: Documents that are one edit away from an earlier document: 25 of 500
#: at sf0.01, 248 of 5000 at sf0.1.  The fixtures' edit inserts or
#: deletes one word (243 of the 248; 128 inserts, 115 deletes).
NEARDUP_SHARE = 0.05
#: Verbatim copies of an earlier document: 8 of 5000 at sf0.1.
EXACTDUP_SHARE = 0.0016
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
#: 100000 events over 1500 users at sf0.1, 10000 over 150 at sf0.01,
#: each event's user drawn uniformly (per-user counts 45..99 at sf0.1).
EVENTS_PER_USER = 200 / 3
#: Event values: exponential, mean 50, in cents (fixture mean 49.87,
#: median 34.77, sd 49.56).
VALUE_MEAN = 50.0
#: Event times: uniform over 30 days from 2024-01-01, event ids in time
#: order.
US_PER_DAY = 86_400 * 1_000_000
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random word streams with lengths from the same evenly spread
    multiset on every seed, so the seed moves the text, hardly the
    amount of work.  ``NEARDUP_SHARE`` of the documents are one-word
    edits and ``EXACTDUP_SHARE`` verbatim copies of distinct originals."""
    vocab = np.array(VOCAB)
    lengths = rng.permutation(np.linspace(*DOC_WORDS, n).round().astype(int))
    n_near, n_exact = round(n * NEARDUP_SHARE), round(n * EXACTDUP_SHARE)
    n_copies = n_near + n_exact
    # originals in the first half, copies in the second
    copies = rng.choice(np.arange(n // 2, n), n_copies, replace=False)
    originals = rng.choice(n // 2, n_copies, replace=False)
    source = dict(zip(copies.tolist(), originals.tolist()))
    near = set(copies[:n_near].tolist())
    words: list[list[str]] = []
    for i in range(n):
        if i not in source:
            words.append(list(vocab[rng.integers(0, len(vocab), lengths[i])]))
            continue
        w = list(words[source[i]])
        if i in near:
            at = int(rng.integers(0, len(w)))
            if rng.random() < 0.5 or len(w) <= DOC_WORDS[0]:
                w.insert(at, str(vocab[rng.integers(0, len(vocab))]))
            else:
                del w[at]
        words.append(w)
    return [" ".join(w) for w in words]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = _texts(rng, n)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    users = round(n / EVENTS_PER_USER)
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * US_PER_DAY, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
            "value": np.round(rng.exponential(VALUE_MEAN, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def generate(out_dir: str, seed: int, size: dict) -> dict:
    """Write the tables ``size`` asks for (``{"documents": rows}``,
    ``{"events": rows}``) into ``out_dir``; return ``measure`` of them."""
    rng = np.random.default_rng(seed)
    makers = {"documents": _documents, "events": _events}
    os.makedirs(out_dir, exist_ok=True)
    for name, rows in size.items():
        table = makers[name](rng, rows)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=rows)
    props = {"seed": seed, **measure(out_dir, list(size))}
    with open(os.path.join(out_dir, "props.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    return props


def measure(data_dir: str, tables: list[str]) -> dict:
    """The input properties the workloads depend on, read from the
    parquet files: layout per table; for documents, the near-duplicate
    and exact-copy shares and the length spread; for events, user count,
    hot-key share and a fitted Zipf exponent."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    props: dict = {"tables": {}}
    for name in tables:
        path = os.path.join(data_dir, f"{name}.parquet")
        meta = pq.ParquetFile(path).metadata
        props["tables"][name] = {"rows": meta.num_rows, "files": 1, "row_groups": meta.num_row_groups}
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    if "documents" in tables:
        import __spark_entry__

        n = props["tables"]["documents"]["rows"]
        pairs = con.execute(__spark_entry__.oracle_sql()["ngram_jaccard_pairs"]).fetchall()
        props["pair_doc_share"] = len({d for a, b, _ in pairs for d in (a, b)}) / n
        copies = con.execute("SELECT COUNT(*) - COUNT(DISTINCT text) FROM documents").fetchone()[0]
        props["exactdup_share"] = copies / n
        props["doc_words_q"] = con.execute(
            "SELECT quantile_disc(len(string_split(text, ' ')), [0, 0.25, 0.5, 0.75, 1]) FROM documents"
        ).fetchone()[0]
    if "events" in tables:
        n = props["tables"]["events"]["rows"]
        freq = np.array(
            [r[0] for r in con.execute("SELECT COUNT(*) c FROM events GROUP BY user_id ORDER BY c DESC").fetchall()]
        )
        ranks = np.arange(1, len(freq) + 1)
        props.update(
            users=len(freq),
            top_user_share=float(freq[0] / n),
            # hot keys: the busiest 1% of users
            hot_key_share=float(freq[: max(1, len(freq) // 100)].sum() / n),
            # least-squares slope of log frequency on log rank
            zipf_s_fit=float(-np.polyfit(np.log(ranks), np.log(freq), 1)[0]),
        )
    con.close()
    return props


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap = argparse.ArgumentParser(description="Print the input properties of a table directory.")
    ap.add_argument("--measure", required=True, metavar="DIR")
    d = ap.parse_args().measure
    names = [t for t in ("documents", "events") if os.path.exists(os.path.join(d, f"{t}.parquet"))]
    print(json.dumps(measure(d, names), indent=1, sort_keys=True))

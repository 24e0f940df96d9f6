"""Seeded input generator for the lift benchmark.

Every input is a function of the workload name and ``--seed`` alone:
the same seed writes byte-identical parquet files. Only numpy and
pyarrow are used, never the program under test. Each input is split
over more files than the session has cores, so every scan runs as
several tasks.

Run on its own to inspect the inputs::

    python3 perfbench/gen.py --workload etl_batch --seed 1 --out /tmp/gen
"""

from __future__ import annotations

import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# input make-up; README.md lists the same figures
ETL_ORDERS, ETL_LINEITEM, ETL_FILES = 60_000, 240_000, 12
ETL_DUP_SHARE = 0.02  # share of order rows written twice (drop_duplicates work)
UPSERT_INCREMENTS, UPSERT_FILES_PER_INC, UPSERT_ROWS_PER_FILE = 3, 5, 800
UPSERT_KEYSPACE = 12_000
EVAL_ROWS, EVAL_TASKS, EVAL_FILES = 20_000, 100, 8
EVAL_BATTLES, EVAL_MODELS = 10_000, 6
CORPUS_DOCS, CORPUS_FILES, CORPUS_VOCAB = 200, 8, 6_000
CORPUS_EVAL_MOD = 97  # corpus_curation.yaml: the eval set is doc_id % 97 = 0
CORPUS_CONTAMINATED = 20  # docs given a 12-word span of an eval doc
QUERY_WORDS = ["spark", "join", "filter", "stream", "window"]
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that", "for", "it"]

_EPOCH = dt.datetime(1970, 1, 1)


def _rng(seed: int, workload: str) -> np.random.Generator:
    # one stream per workload, so adding a workload moves no other input
    tag = int.from_bytes(workload.encode(), "little") % (2**32)
    return np.random.default_rng([seed, tag])


def _write_split(table: pa.Table, directory: str, n_files: int, stem: str) -> list:
    os.makedirs(directory, exist_ok=True)
    paths = []
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        path = os.path.join(directory, f"{stem}-{i:03d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        paths.append(path)
    return paths


def _timestamps(rng, n: int, start: dt.datetime, days: int) -> pa.Array:
    base = int((start - _EPOCH).total_seconds()) * 1_000_000
    micros = base + rng.integers(0, days, n) * 86_400_000_000
    return pa.array(micros, pa.timestamp("us"))


def etl_batch(seed: int, out: str) -> dict:
    """TPC-H-shaped orders and lineitem over two years of order dates.
    A share of the order rows appears twice, in another file."""
    rng = _rng(seed, "etl_batch")
    n = ETL_ORDERS
    keys = rng.permutation(n).astype(np.int64)
    orders = pa.table(
        {
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, n // 10, n).astype(np.int64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n, p=[0.49, 0.49, 0.02])),
            "o_totalprice": np.round(rng.uniform(500.0, 500_000.0, n), 2),
            "o_orderdate": _timestamps(rng, n, dt.datetime(1996, 1, 1), 731),
            "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)),
        }
    )
    dups = np.sort(rng.choice(n, int(n * ETL_DUP_SHARE), replace=False))
    # duplicates go to the front so they land in another file than their twin
    orders = pa.concat_tables([orders.take(dups), orders])
    m = ETL_LINEITEM
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n, m).astype(np.int64),
            "l_partkey": rng.integers(0, 20_000, m).astype(np.int64),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, m), 2),
            "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m)),
        }
    )
    return {
        "orders": _write_split(orders, os.path.join(out, "orders"), ETL_FILES, "orders"),
        "lineitem": _write_split(lineitem, os.path.join(out, "lineitem"), ETL_FILES, "lineitem"),
    }


def incremental_upsert(seed: int, out: str) -> dict:
    """A fixed sequence of increments. Each increment's keys are drawn
    without repeats, so the latest row per key is well defined; about
    half of them update keys an earlier increment wrote."""
    rng = _rng(seed, "incremental_upsert")
    per_inc = UPSERT_FILES_PER_INC * UPSERT_ROWS_PER_FILE
    increments = []
    for i in range(UPSERT_INCREMENTS):
        ids = rng.choice(UPSERT_KEYSPACE, per_inc, replace=False).astype(np.int64)
        table = pa.table(
            {
                "id": ids,
                "seq": np.full(per_inc, i, np.int32),
                "amount": np.round(rng.uniform(0.0, 1000.0, per_inc), 4),
                "category": pa.array(rng.choice(["a", "b", "c", "d"], per_inc)),
                "updated_at": _timestamps(rng, per_inc, dt.datetime(2024, 1, 1 + i), 1),
            }
        )
        directory = os.path.join(out, "increments", f"inc{i:02d}")
        increments.append(_write_split(table, directory, UPSERT_FILES_PER_INC, f"inc{i:02d}"))
    return {"increments": increments}


def eval_analytics(seed: int, out: str) -> dict:
    """A run log with near-continuous grader confidence (rounded to six
    decimals) and an arena battle log between a few model variants."""
    rng = _rng(seed, "eval_analytics")
    n = EVAL_ROWS
    # the last ten tasks get three samples each, so pass@5 is NULL there
    few = np.repeat(np.arange(EVAL_TASKS - 10, EVAL_TASKS), 3)
    task = np.concatenate([rng.integers(0, EVAL_TASKS - 10, n - few.size), few]).astype(np.int64)
    difficulty = rng.normal(0.0, 1.0, EVAL_TASKS)
    logit = 0.3 - difficulty[task] + rng.normal(0.0, 0.8, n)
    success = rng.uniform(size=n) < 1.0 / (1.0 + np.exp(-logit))
    signal = np.where(success, 0.9, -0.9) + rng.normal(0.0, 1.2, n)
    confidence = np.round(1.0 / (1.0 + np.exp(-signal)), 6)
    runlog = pa.table({"task": task, "success": success, "confidence": confidence})
    m = EVAL_BATTLES
    models = np.array([f"m{i}" for i in range(EVAL_MODELS)])
    a = rng.integers(0, EVAL_MODELS, m)
    b = (a + rng.integers(1, EVAL_MODELS, m)) % EVAL_MODELS
    strength = np.linspace(-1.0, 1.0, EVAL_MODELS)
    p_a = 1.0 / (1.0 + np.exp(strength[b] - strength[a]))
    u = rng.uniform(size=m)
    winner = np.where(u < 0.1, "tie", np.where(u < 0.1 + 0.9 * p_a, models[a], models[b]))
    battles = pa.table({"model_a": models[a], "model_b": models[b], "winner": winner})
    return {
        "runlog": _write_split(runlog, os.path.join(out, "runlog"), EVAL_FILES, "runlog"),
        "battles": _write_split(battles, os.path.join(out, "battles"), EVAL_FILES, "battles"),
    }


def corpus_curation(seed: int, out: str) -> dict:
    """Documents of blank-line-separated paragraphs over a Zipf-like
    vocabulary. Some paragraphs repeat inside a document, and a share
    of documents carries a 12-word span copied from an eval document."""
    rng = _rng(seed, "corpus_curation")
    vocab = np.array(STOPWORDS + QUERY_WORDS + [f"w{i}" for i in range(CORPUS_VOCAB)])
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    weights /= weights.sum()
    # document shapes depend on doc_id only, so output sizes barely move with the seed
    shapes = [
        [20 + (37 * (doc_id + j)) % 100 for j in range(2 + doc_id % 5)]
        for doc_id in range(CORPUS_DOCS)
    ]
    words = iter(rng.choice(vocab, sum(map(sum, shapes)), p=weights).tolist())
    docs = []
    for doc_id, lengths in enumerate(shapes):
        paras = [[next(words) for _ in range(n)] for n in lengths]
        if doc_id % 3 == 0:  # a repeated paragraph
            paras.append(list(paras[doc_id % len(paras)]))
        docs.append(paras)
    eval_ids = [d for d in range(CORPUS_DOCS) if d % CORPUS_EVAL_MOD == 0]
    others = [d for d in range(CORPUS_DOCS) if d % CORPUS_EVAL_MOD]
    for doc_id in rng.choice(others, CORPUS_CONTAMINATED, replace=False):
        src = [w for p in docs[int(rng.choice(eval_ids))] for w in p]
        start = int(rng.integers(0, len(src) - 12))
        docs[doc_id][-1] = docs[doc_id][-1] + src[start : start + 12]
    texts = ["\n\n".join(" ".join(p) for p in paras) for paras in docs]
    table = pa.table(
        {
            "doc_id": np.arange(CORPUS_DOCS, dtype=np.int64),
            "text": texts,
            "lang": ["en"] * CORPUS_DOCS,
            "source": [f"src{i % 5}" for i in range(CORPUS_DOCS)],
            "n_chars": np.array([len(t) for t in texts], np.int64),
        }
    )
    return {"documents": _write_split(table, os.path.join(out, "documents"), CORPUS_FILES, "documents")}


GENERATORS = {
    "etl_batch": etl_batch,
    "incremental_upsert": incremental_upsert,
    "eval_analytics": eval_analytics,
    "corpus_curation": corpus_curation,
}


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--out", required=True)
    args = parser.parse_args()
    for name, paths in GENERATORS[args.workload](args.seed, args.out).items():
        print(name, paths)


if __name__ == "__main__":
    main()

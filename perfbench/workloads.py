"""The benchmark workloads: inputs, lifts and output checks.

A workload is a round of operations. Each operation is one lift
through ``getl_spark.lift`` plus whatever its outputs need to be
written or collected; ``prepare`` runs untimed before it and ``check``
untimed after it. Checks compare against DuckDB or numpy computed from
the generated files, or against properties the method must have, never
against stored output of the program.
"""

from __future__ import annotations

import os
import re
import shutil
from typing import Callable, List, Optional

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen

LIFTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "lifts")


def _yaml(name: str) -> str:
    with open(os.path.join(LIFTS, f"{name}.yaml"), encoding="utf-8") as fh:
        return fh.read()


def _parquet_glob(directory: str) -> str:
    return os.path.join(directory, "**", "*.parquet")


def _close(a, b, tol: float = 1e-6) -> bool:
    return a is not None and b is not None and abs(float(a) - float(b)) <= tol


class Op:
    """One timed lift: ``run(spark)`` returns what ``check`` reads."""

    def __init__(self, label: str, run: Callable, check: Callable, prepare: Optional[Callable] = None):
        self.label, self.run, self.check, self.prepare = label, run, check, prepare


class Workload:
    name = ""
    # untimed rounds before the first timed one; the first pays class
    # loading, code generation and JIT compilation
    warmup_rounds = 1
    # timed rounds a run makes at the least. Warm lifts keep getting
    # cheaper for many lifts while the JIT compiler is busy, so the
    # per-run figure depends on how many rounds it covers; a count that
    # --seconds cannot change on a faster or slower host keeps runs alike
    timed_rounds = 1

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work
        self.data = os.path.join(work, "data")
        self.out = os.path.join(work, "out")
        self.inputs = gen.GENERATORS[self.name](seed, self.data)
        self.yaml = _yaml(self.name)
        self.con = duckdb.connect()
        self.expected = self.reference()

    # storage a lift writes to; written_mb counts files created below it
    def output_root(self) -> str:
        return self.out

    def sink_paths(self) -> List[str]:
        return [self.out]

    def reference(self):
        raise NotImplementedError

    def round(self) -> List[Op]:
        raise NotImplementedError

    def close(self) -> None:
        self.con.close()


# ----------------------------------------------------------------- etl_batch
class EtlBatch(Workload):
    name = "etl_batch"
    warmup_rounds = 2
    timed_rounds = 2

    def reference(self):
        orders = _parquet_glob(os.path.join(self.data, "orders"))
        lines = _parquet_glob(os.path.join(self.data, "lineitem"))
        sql = f"""
            WITH o AS (SELECT DISTINCT * FROM read_parquet('{orders}')),
                 l AS (SELECT l_orderkey, count(*) AS n_lines,
                              sum(l_extendedprice * (1 - l_discount)) AS revenue
                       FROM read_parquet('{lines}') GROUP BY l_orderkey)
            SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
                   count(*), sum(o_totalprice), sum(n_lines), sum(revenue)
            FROM o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
            WHERE o_orderstatus != 'F' AND o_totalprice > 1000
            GROUP BY 1, 2 ORDER BY 1, 2
        """
        return self.con.execute(sql).fetchall()

    def _matches(self, rows) -> bool:
        if len(rows) != len(self.expected):
            return False
        for got, want in zip(rows, self.expected):
            if tuple(got[:3]) != tuple(want[:3]) or got[4] != want[4]:
                return False
            if not (_close(got[3], want[3], 1e-3) and _close(got[5], want[5], 1e-3)):
                return False
        return True

    def check(self, _result) -> bool:
        table = _parquet_glob(os.path.join(self.out, "orders_open"))
        written = self.con.execute(
            f"""SELECT CAST(year AS INT), CAST(month AS INT), count(*),
                       sum(o_totalprice), sum(n_lines), sum(revenue)
                FROM read_parquet('{table}', hive_partitioning = true)
                GROUP BY 1, 2 ORDER BY 1, 2"""
        ).fetchall()
        monthly = self.con.execute(
            f"""SELECT CAST(year AS INT), CAST(month AS INT), n_orders,
                       total_price, n_lines, revenue
                FROM read_parquet('{_parquet_glob(os.path.join(self.out, 'monthly'))}')
                ORDER BY 1, 2"""
        ).fetchall()
        return self._matches(written) and self._matches(monthly)

    def round(self) -> List[Op]:
        params = {"data": self.data, "out": self.out}

        def run(spark, lift):
            return lift(spark, self.yaml, params)

        return [Op("lift", run, self.check)]


# --------------------------------------------------------- incremental_upsert
class IncrementalUpsert(Workload):
    """A round replays every increment into an empty table, then runs
    one lift that finds no new files."""

    name = "incremental_upsert"
    timed_rounds = 2

    def __init__(self, seed: int, work: str) -> None:
        self.landing = os.path.join(work, "landing")
        self.state = os.path.join(work, "state")
        super().__init__(seed, work)

    def output_root(self) -> str:
        return self.state

    def sink_paths(self) -> List[str]:
        return [os.path.join(self.state, "facts")]

    def reference(self):
        expected = []
        for i in range(len(self.inputs["increments"])):
            files = [p for inc in self.inputs["increments"][: i + 1] for p in inc]
            listing = ", ".join(f"'{p}'" for p in files)
            expected.append(
                self.con.execute(
                    f"""SELECT id, seq, amount, category, updated_at
                        FROM read_parquet([{listing}])
                        QUALIFY row_number() OVER (PARTITION BY id ORDER BY seq DESC) = 1
                        ORDER BY id"""
                ).fetchall()
            )
        return expected

    def _facts(self):
        table = _parquet_glob(os.path.join(self.state, "facts"))
        return self.con.execute(
            f"""SELECT id, seq, amount, category, updated_at
                FROM read_parquet('{table}') ORDER BY id"""
        ).fetchall()

    def _registry_ok(self, n_increments: int) -> bool:
        landed = sorted(
            os.path.basename(p) for inc in self.inputs["increments"][:n_increments] for p in inc
        )
        rows = self.con.execute(
            f"""SELECT file_path, date_lifted
                FROM read_parquet('{_parquet_glob(os.path.join(self.state, 'registry'))}')"""
        ).fetchall()
        stamped = sorted(os.path.basename(path) for path, lifted in rows if lifted is not None)
        # every landing file is registered once and stamped once
        return len(rows) == len(landed) and stamped == landed

    def _table_files(self):
        facts = os.path.join(self.state, "facts")
        return sorted(
            (name, os.path.getsize(os.path.join(facts, name)))
            for name in os.listdir(facts)
        )

    def round(self) -> List[Op]:
        params = {"landing": self.landing, "work": self.state}

        def reset():
            for path in (self.landing, self.state):
                shutil.rmtree(path, ignore_errors=True)
            os.makedirs(self.landing)
            os.makedirs(self.state)

        def run(spark, lift):
            return lift(spark, self.yaml, params)

        ops = []
        for i, files in enumerate(self.inputs["increments"]):

            def prepare(i=i, files=files):
                if i == 0:
                    reset()
                for path in files:
                    os.link(path, os.path.join(self.landing, os.path.basename(path)))

            def check(_result, i=i):
                return self._facts() == self.expected[i] and self._registry_ok(i + 1)

            ops.append(Op(f"increment{i}", run, check, prepare))

        before = {}

        def prepare_idle():
            before["files"] = self._table_files()

        def check_idle(_result):
            n = len(self.inputs["increments"])
            return (
                self._table_files() == before["files"]
                and self._facts() == self.expected[-1]
                and self._registry_ok(n)
            )

        ops.append(Op("no_new_files", run, check_idle, prepare_idle))
        return ops


# ------------------------------------------------------------ eval_analytics
OUTPUT_BLOCKS = ["PassAtK", "Calibration", "Auc", "AveragePrecision", "Kappa", "Leaderboard"]


def _auc(score, label) -> float:
    """Mann-Whitney U / (n_pos * n_neg), ties counted half."""
    order = np.argsort(score, kind="mergesort")
    s, y = score[order], label[order]
    _, start, counts = np.unique(s, return_index=True, return_counts=True)
    ranks = np.repeat(start + (counts + 1) / 2.0, counts)  # average 1-based ranks
    n_pos = int(y.sum())
    n_neg = y.size - n_pos
    u = ranks[y].sum() - n_pos * (n_pos + 1) / 2.0
    return u / (n_pos * n_neg)


def _average_precision(score, label) -> float:
    """Step-interpolated AP over thresholds at each distinct score."""
    values, inverse = np.unique(-score, return_inverse=True)
    pos = np.bincount(inverse, weights=label.astype(float), minlength=values.size)
    tot = np.bincount(inverse, minlength=values.size)
    tp, seen = np.cumsum(pos), np.cumsum(tot)
    return float(np.sum(pos * tp / seen) / label.sum())


def _ece(score, label, bins: int = 10) -> float:
    bucket = np.minimum(np.floor(score * bins), bins - 1).astype(int)
    total = 0.0
    for b in np.unique(bucket):
        mask = bucket == b
        total += mask.sum() / score.size * abs(label[mask].mean() - score[mask].mean())
    return total


def _kappa(a, b) -> float:
    p_o = np.mean(a == b)
    p_e = sum(np.mean(a == v) * np.mean(b == v) for v in np.union1d(a, b))
    return (p_o - p_e) / (1.0 - p_e)


def _pass_at_k(n: int, c: int, k: int) -> Optional[float]:
    if n < k:
        return None
    return 1.0 - float(np.prod([(n - c - j) / (n - j) for j in range(k)]))


class EvalAnalytics(Workload):
    name = "eval_analytics"

    def reference(self):
        runlog = pq.read_table(self.inputs["runlog"]).to_pydict()
        score = np.asarray(runlog["confidence"], float)
        label = np.asarray(runlog["success"], bool)
        task = np.asarray(runlog["task"])
        tasks, n = np.unique(task, return_counts=True)
        c = np.bincount(np.searchsorted(tasks, task), weights=label, minlength=tasks.size)
        truth = np.where(label, "pass", "fail")
        grader = np.where(score > 0.5, "pass", "fail")
        battles = pq.read_table(self.inputs["battles"]).to_pydict()
        games: dict = {}
        wins: dict = {}
        for a, b, w in zip(battles["model_a"], battles["model_b"], battles["winner"]):
            for m in (a, b):
                games[m] = games.get(m, 0) + 1
                wins[m] = wins.get(m, 0.0) + (0.5 if w == "tie" else float(w == m))
        return {
            "auc": _auc(score, label),
            "ap": _average_precision(score, label),
            "ece": _ece(score, label),
            "kappa": _kappa(truth, grader),
            "pass_at_k": {int(t): _pass_at_k(int(nn), int(cc), 5) for t, nn, cc in zip(tasks, n, c)},
            "games": games,
            "wins": wins,
        }

    def check(self, result) -> bool:
        e = self.expected
        auc = result["Auc"][0]
        ap = result["AveragePrecision"][0]
        passes = {r["task"]: r["pass_at_k"] for r in result["PassAtK"]}
        ok_pass = passes.keys() == e["pass_at_k"].keys() and all(
            (want is None and passes[t] is None) or _close(passes[t], want, 2e-6)
            for t, want in e["pass_at_k"].items()
        )
        board = {r["model"]: r for r in result["Leaderboard"]}
        ok_board = board.keys() == e["games"].keys() and all(
            board[m]["n_games"] == e["games"][m] and float(board[m]["n_wins"]) == e["wins"][m]
            for m in board
        )
        ratings = [r["rating"] for r in result["Leaderboard"]]
        return (
            _close(auc["auc"], e["auc"], 2e-6)
            and _close(ap["average_precision"], e["ap"], 2e-6)
            and _close(result["Calibration"][0]["ece"], e["ece"], 2e-6)
            and _close(result["Kappa"][0]["kappa"], e["kappa"], 2e-6)
            and ok_pass
            and ok_board
            and ratings == sorted(ratings, reverse=True)
        )

    def round(self) -> List[Op]:
        params = {"data": self.data, "out_dir": self.out}

        def run(spark, lift):
            log = lift(spark, self.yaml, params)
            return {name: log.get(name).collect() for name in OUTPUT_BLOCKS}

        return [Op("lift", run, self.check)]


# ----------------------------------------------------------- corpus_curation
_NORM = re.compile(r"[^a-z0-9 \n]")


def _ngrams(text: str, n: int = 8) -> set:
    words = _NORM.sub(" ", text.lower()).split()
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


class CorpusCuration(Workload):
    name = "corpus_curation"

    def reference(self):
        docs = pq.read_table(self.inputs["documents"], columns=["doc_id", "text"]).to_pydict()
        grams = set()
        for doc_id, text in zip(docs["doc_id"], docs["text"]):
            if doc_id % gen.CORPUS_EVAL_MOD == 0:
                grams |= _ngrams(text)
        return grams

    def check(self, topics) -> bool:
        chunks = pq.read_table(os.path.join(self.out, "chunks"), columns=["doc_id", "chunk_text"]).to_pydict()
        for text in chunks["chunk_text"]:
            # overlap 16 >= 8, so every 8-gram of a surviving document
            # lies whole inside one of its chunks
            if len(text.split()) > 128 or _ngrams(text) & self.expected:
                return False
        packs = pq.read_table(os.path.join(self.out, "packs")).to_pandas()
        fill = packs.groupby("pack_id")["n_tokens"].sum()
        oversize = set(packs.loc[packs["oversize"], "pack_id"])
        if any(v > 2048 and p not in oversize for p, v in fill.items()):
            return False
        if set(packs["doc_id"]) != set(chunks["doc_id"]) or packs["doc_id"].duplicated().any():
            return False
        by_query: dict = {}
        for row in sorted(topics, key=lambda r: (r["query_id"], r["rank"])):
            by_query.setdefault(row["query_id"], []).append(row["score"])
        return set(by_query) == {0, 1} and all(
            len(s) <= 200 and s == sorted(s, reverse=True) for s in by_query.values()
        )

    def round(self) -> List[Op]:
        params = {"data": self.data, "out": self.out}

        def run(spark, lift):
            return lift(spark, self.yaml, params).get("TopicSlice").collect()

        return [Op("lift", run, self.check)]


# ------------------------------------------------------ eval_and_curation
class EvalAndCuration:
    """The eval_analytics lift and the corpus_curation lift, one after
    the other in each round. Both pay a large fixed cost per Spark
    session; sharing one session keeps a run within its time budget."""

    name = "eval_and_curation"
    warmup_rounds = 1
    timed_rounds = 1

    def __init__(self, seed: int, work: str) -> None:
        self.work = work
        self.parts = [
            EvalAnalytics(seed, os.path.join(work, "eval")),
            CorpusCuration(seed, os.path.join(work, "corpus")),
        ]

    def output_root(self) -> str:
        return self.work

    def sink_paths(self) -> List[str]:
        return [p for part in self.parts for p in part.sink_paths()]

    def round(self) -> List[Op]:
        ops = []
        for part in self.parts:
            for op in part.round():
                op.label = f"{part.name}.{op.label}"
                ops.append(op)
        return ops

    def close(self) -> None:
        for part in self.parts:
            part.close()


WORKLOADS = {
    cls.name: cls
    for cls in (EtlBatch, IncrementalUpsert, EvalAnalytics, CorpusCuration, EvalAndCuration)
}

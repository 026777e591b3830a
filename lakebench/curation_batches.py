"""curation_batches: the LLM-pipeline curation gates, no table metadata.

Each op runs the registered gates dedup_exact and then
dedup_minhash_lsh on one seeded document shard. Shards hold originals
plus exact and near (word-dropped) copies, so both gates find work.
dedup_exact must equal its DuckDB oracle row for row; every MinHash
pair must be an exact-Jaccard oracle pair with the same value
(precision 1.0), and the share of oracle pairs found is the recall.
Warm-up loads every shard, so the engine's load() memo holds the whole
working set, and runs one full op per shard to warm the JVM.
"""

from __future__ import annotations

import os
import time

import numpy as np

from . import datagen
from .harness import Tracer, median

OPS_PER_SECOND = 0.6
N_SHARDS = 3
SHARD_DOCS = 2000
# traced runs also time ops on shards this many times larger, to show
# how op time grows with shard size
LARGE_SHARD_FACTOR = 4
LARGE_SHARD_OPS = 2
WARMUP_OPS = N_SHARDS
GATES = ("dedup_exact", "dedup_minhash_lsh")


class Workload:
    def __init__(self, spark, work_dir: str, seed: int, n_ops: int):
        self.spark = spark
        self.work_dir = work_dir
        shard_ss, order_ss, large_ss = np.random.SeedSequence(seed).spawn(3)
        self.shard_ss = shard_ss
        self.large_ss = large_ss
        order = np.random.default_rng(order_ss)
        # each pass visits every shard once, in a seeded order
        self.order = [
            int(s) for _ in range(-(-n_ops // N_SHARDS)) for s in order.permutation(N_SHARDS)
        ][:n_ops]
        self.pairs_found = 0
        self.pairs_oracle = 0
        self.kept = 0
        self.docs_seen = 0

    def sizes(self) -> dict:
        return {
            "shards": N_SHARDS,
            "docs_per_shard": SHARD_DOCS,
            "large_shard_docs": SHARD_DOCS * LARGE_SHARD_FACTOR,
        }

    # -- set-up ----------------------------------------------------------

    def build(self, tracer) -> None:
        rngs = [np.random.default_rng(s) for s in self.shard_ss.spawn(N_SHARDS)]
        self.shards = [os.path.join(self.work_dir, f"shard{k}") for k in range(N_SHARDS)]
        for rng, d in zip(rngs, self.shards):
            datagen.write_shard(datagen.document_shard(rng, SHARD_DOCS), d)

    def oracle(self) -> None:
        self.expected = [_oracle(d) for d in self.shards]

    def warm_up(self, tracer) -> None:
        from icegopher_spark.queries import load

        for d in self.shards:
            load(self.spark, d, "documents")
        for k in range(WARMUP_OPS):
            s = k % N_SHARDS
            ok, _, _ = self._gates(self.shards[s], self.expected[s], tracer, None)
            if not ok:
                raise RuntimeError(f"warm-up curation op on shard {k} returned a wrong result")

    # -- timed phase -----------------------------------------------------

    def op(self, i: int, tracer) -> tuple[bool, int, int]:
        k = self.order[i]
        return self._gates(self.shards[k], self.expected[k], tracer, i)

    def _gates(self, d: str, expected, tracer, op_id):
        """Both gates on shard dir ``d``; op_id None leaves the run's
        pair and kept-row counts alone."""
        from icegopher_spark.queries import QUERIES

        exact_oracle, pair_oracle = expected
        rows = {}
        with tracer.span("op", op=op_id):
            for gate in GATES:
                with tracer.span(f"{gate}.build"):
                    df = QUERIES[gate].fn(self.spark, d)
                with tracer.span(f"{gate}.collect"):
                    rows[gate] = df.collect()
        exact = _sorted_rows(rows["dedup_exact"])
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows["dedup_minhash_lsh"]}
        precise = all(pair_oracle.get(k) == v for k, v in pairs.items())
        if op_id is not None:
            self.pairs_found += len(pairs)
            self.pairs_oracle += len(pair_oracle)
            self.kept += len(exact)
            self.docs_seen += SHARD_DOCS
        return exact == exact_oracle and precise, len(pairs), len(pair_oracle)

    # -- after the timed phase -------------------------------------------

    def layer_metrics(self, tracer) -> dict:
        out = {}
        for gate in GATES:
            # an eager checkpoint inside construction is Spark work:
            # build_ms keeps only driver-side plan construction and
            # collect_ms carries all of the gate's Spark execution
            eager = tracer.per_op(lambda ss: sum(s.job_ms for s in ss if s.name == f"{gate}.build"))
            build = tracer.per_op(lambda ss: sum(s.ms for s in ss if s.name == f"{gate}.build"))
            coll = tracer.per_op(lambda ss: sum(s.ms for s in ss if s.name == f"{gate}.collect"))
            out[f"{gate}.build_ms"] = median(b - e for b, e in zip(build, eager))
            out[f"{gate}.collect_ms"] = median(c + e for c, e in zip(coll, eager))
        # op time on larger shards, untraced, outside the timed phase
        rng = np.random.default_rng(self.large_ss)
        large = os.path.join(self.work_dir, "large_shard")
        datagen.write_shard(datagen.document_shard(rng, SHARD_DOCS * LARGE_SHARD_FACTOR), large)
        expected = _oracle(large)
        off = Tracer(False)
        self._gates(large, expected, off, None)  # warm the load() memo
        times = []
        for _ in range(LARGE_SHARD_OPS):
            t0 = time.perf_counter()
            ok, _, _ = self._gates(large, expected, off, None)
            times.append((time.perf_counter() - t0) * 1e3)
            if not ok:
                raise RuntimeError("large-shard curation op returned a wrong result")
        out["dedup.large_shard_op_ms"] = median(times)
        out["dedup.pairs_found"] = self.pairs_found
        out["dedup.pairs_oracle"] = self.pairs_oracle
        out["dedup_exact.kept_ratio"] = self.kept / self.docs_seen
        return out


def _sorted_rows(rows) -> list[tuple]:
    """Columns in name order, rows sorted by value: the comparison
    tools/check_correctness.py makes against the DuckDB oracle."""
    if not rows:
        return []
    names = sorted(rows[0].asDict())
    return sorted(tuple(r[n] for n in names) for r in rows)


def _oracle(shard_dir: str) -> tuple[list[tuple], dict]:
    """The registered DuckDB oracles of both gates, run on one shard."""
    import duckdb

    from icegopher_spark.queries import QUERIES

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{shard_dir}/documents.parquet')"
        )
        cur = con.execute(QUERIES["dedup_exact"].oracle_text())
        names = [c[0] for c in cur.description]
        exact = sorted(
            tuple(r[names.index(n)] for n in sorted(names)) for r in cur.fetchall()
        )
        pairs = {
            (a, b): j
            for a, b, j in con.execute(
                f"SELECT id_a, id_b, jaccard FROM ({QUERIES['dedup_minhash_lsh'].oracle_text()})"
            ).fetchall()
        }
    finally:
        con.close()
    return exact, pairs

"""point_lookups: metadata-plane reads against a table shaped like
streaming ingest before compaction, and the commits that build it.

~2,000 key-sorted 300-row files, identity-partitioned on l_returnflag,
registered by ~250 add_files commits (auto manifest merge leaves ~56
manifests), plus a few merge-on-read position deletes. Each op loads
the table from its location, plans a (flag, 1,500-key window) scan,
hands the tasks to Spark and collects count and sums, which must equal
the values computed from the generated rows with deleted rows removed.
Every op plans a different file list, so the working set is larger
than the engine's per-session reader memo. The 254 commits of the
build run in set-up; traced runs time each one, so the write path's
cost, and its growth with history, are measured here too.
"""

from __future__ import annotations

import os

import numpy as np

from . import datagen
from .harness import median

OPS_PER_SECOND = 2.0
WARMUP_OPS = 6
FILE_ROWS = 300
FILES_PER_COMMIT = 8
KEY_WINDOW = 1500
N_DELETES = 2
DELETE_KEY_WIDTH = 40_000
DELETE_MAX_QTY = 10.0
DECODE_REPS = 5


class Workload:
    def __init__(self, spark, work_dir: str, seed: int, n_ops: int):
        self.spark = spark
        self.table_dir = os.path.join(work_dir, "lineitem_stream")
        data_ss, delete_ss, op_ss, warm_ss = np.random.SeedSequence(seed).spawn(4)
        self.data_rng = np.random.default_rng(data_ss)
        self.delete_rng = np.random.default_rng(delete_ss)
        self.params = _lookup_params(np.random.default_rng(op_ss), n_ops)
        self.warm_params = _lookup_params(np.random.default_rng(warm_ss), WARMUP_OPS)
        self.expected: list[tuple] = []
        self.tasks_per_op: list[int] = []
        self.deletes_per_op: list[int] = []
        self.rows_per_op: list[int] = []

    def sizes(self) -> dict:
        return {
            "rows": datagen.LINEITEM_ROWS,
            "files": self.n_files,
            "commits": self.n_commits,
            "of_which_deletes": N_DELETES,
            "manifests": self.n_manifests,
            "snapshots": self.n_snapshots,
        }

    # -- set-up ----------------------------------------------------------

    def build(self, tracer) -> None:
        """Generate the rows, then commit them as a stream would. The
        commits are the write path's share of this workload: traced
        runs time each one, and they move ``setup_s``."""
        from icegopher_spark.iceberg import expressions as E
        from icegopher_spark.iceberg import write as W
        from icegopher_spark.iceberg.manifests import read_manifest_list

        cols = datagen.lineitem_columns(self.data_rng, datagen.LINEITEM_ROWS, sort=True)
        table = W.create_table(self.table_dir, lineitem_schema(), flag_spec())
        self.by_flag = {}
        commits = []
        n_files = 0
        for flag in datagen.FLAGS:
            m = cols["l_returnflag"] == flag
            part = {k: v[m] for k, v in cols.items()}
            self.by_flag[flag] = part
            d = f"{self.table_dir}/data/l_returnflag={flag}"
            os.makedirs(d)
            paths = []
            for i, s in enumerate(range(0, len(part["l_orderkey"]), FILE_ROWS)):
                p = f"{d}/{flag}-{i:05d}.parquet"
                datagen.write_parquet({k: v[s : s + FILE_ROWS] for k, v in part.items()}, p)
                paths.append((int(part["l_orderkey"][s]), p))
            n_files += len(paths)
            for g in range(0, len(paths), FILES_PER_COMMIT):
                group = paths[g : g + FILES_PER_COMMIT]
                commits.append((group[0][0], str(flag), [p for _, p in group]))
        # streaming arrival order: commits interleave partitions by key
        commits.sort()
        for _, flag, paths in commits:
            with tracer.span("write.add_files"):
                table = W.add_files(table, paths, partition={"l_returnflag": flag})

        for _ in range(N_DELETES):
            flag = str(self.delete_rng.choice(datagen.FLAGS))
            lo = int(self.delete_rng.integers(1, datagen.MAX_ORDERKEY - DELETE_KEY_WIDTH))
            hi = lo + DELETE_KEY_WIDTH
            with tracer.span("write.delete_where_mor"):
                table = W.delete_where_mor(
                    table,
                    self.spark,
                    E.equal_to("l_returnflag", flag)
                    & E.greater_than_or_equal("l_orderkey", lo)
                    & E.less_than("l_orderkey", hi)
                    & E.less_than("l_quantity", DELETE_MAX_QTY),
                )
            part = self.by_flag[flag]
            part["deleted"] = part.get("deleted", np.zeros(len(part["l_orderkey"]), bool)) | (
                (part["l_orderkey"] >= lo)
                & (part["l_orderkey"] < hi)
                & (part["l_quantity"] < DELETE_MAX_QTY)
            )
        self.snapshot = table.current_snapshot()
        self.metadata_location = table.metadata_location
        self.n_files = n_files
        self.n_commits = len(commits) + N_DELETES
        self.n_manifests = len(read_manifest_list(table.io.read(self.snapshot.manifest_list)))
        self.n_snapshots = len(table.metadata.snapshots)

    def oracle(self) -> None:
        """Expected (count, sum of keys, sum of quantities) per op, from
        the generated rows with deleted rows removed."""
        prefix = {}
        for flag, part in self.by_flag.items():
            live = ~part.get("deleted", np.zeros(len(part["l_orderkey"]), bool))
            prefix[flag] = (
                part["l_orderkey"],
                np.concatenate(([0], np.cumsum(live))),
                np.concatenate(([0], np.cumsum(np.where(live, part["l_orderkey"], 0)))),
                np.concatenate(([0.0], np.cumsum(np.where(live, part["l_quantity"], 0.0)))),
            )

        def expect(flag, lo):
            keys, n, sk, sq = prefix[flag]
            a = int(np.searchsorted(keys, lo, "left"))
            b = int(np.searchsorted(keys, lo + KEY_WINDOW, "left"))
            return int(n[b] - n[a]), int(sk[b] - sk[a]), float(sq[b] - sq[a])

        self.expected = [expect(*p) for p in self.params]
        self.warm_expected = [expect(*p) for p in self.warm_params]

    def warm_up(self, tracer) -> None:
        for p, exp in zip(self.warm_params, self.warm_expected):
            ok, _, _ = self._lookup(p, exp, tracer, None)
            if not ok:
                raise RuntimeError(f"warm-up lookup {p} returned a wrong result")

    # -- timed phase -----------------------------------------------------

    def op(self, i: int, tracer) -> tuple[bool, int, int]:
        return self._lookup(self.params[i], self.expected[i], tracer, i)

    def _lookup(self, params, expected, tracer, op_id):
        from pyspark.sql import functions as F

        from icegopher_spark.iceberg import expressions as E
        from icegopher_spark.iceberg.table import Table

        flag, lo = params
        with tracer.span("op", op=op_id):
            with tracer.span("catalog.load"):
                table = Table.from_location(self.metadata_location)
            scan = table.scan(
                row_filter=E.equal_to("l_returnflag", flag)
                & E.greater_than_or_equal("l_orderkey", lo)
                & E.less_than("l_orderkey", lo + KEY_WINDOW)
            )
            with tracer.span("table.plan"):
                tasks = scan.plan_files()
            with tracer.span("table.to_df"):
                df = scan.to_df(self.spark, tasks)
            with tracer.span("spark.collect"):
                row = df.agg(
                    F.count(F.lit(1)), F.sum("l_orderkey"), F.sum("l_quantity")
                ).collect()[0]
        got = (int(row[0]), int(row[1] or 0), float(row[2] or 0.0))
        if tracer.enabled and op_id is not None:
            self.tasks_per_op.append(len(tasks))
            self.deletes_per_op.append(sum(len(t.delete_files) for t in tasks))
            self.rows_per_op.append(got[0])
        return got == expected, got[0], expected[0]

    # -- after the timed phase -------------------------------------------

    def layer_metrics(self, tracer) -> dict:
        import time

        from icegopher_spark.iceberg.io import load_io
        from icegopher_spark.iceberg.manifests import fetch_entries, read_manifest_list

        io = load_io(self.metadata_location)
        decode = []
        for _ in range(DECODE_REPS):
            t0 = time.perf_counter()
            manifests = read_manifest_list(io.read(self.snapshot.manifest_list))
            entries = sum(len(fetch_entries(m, io.read(m.manifest_path))) for m in manifests)
            decode.append((time.perf_counter() - t0) * 1e3)
        meta_bytes = (
            os.path.getsize(self.metadata_location)
            + os.path.getsize(self.snapshot.manifest_list)
            + sum(os.path.getsize(m.manifest_path) for m in manifests)
        )
        meta_dir = os.path.dirname(self.metadata_location)
        meta_files = os.listdir(meta_dir)
        # v1 is the empty table, written before the first commit
        written = sum(
            os.path.getsize(f"{meta_dir}/{f}") for f in meta_files if f != "v1.metadata.json"
        )
        adds = tracer.durations("write.add_files")
        decile = max(1, len(adds) // 10)
        return {
            "write.add_files_ms": median(adds),
            "write.add_files_ms.growth": median(adds[-decile:]) / median(adds[:decile]),
            "write.delete_where_mor_ms": median(tracer.durations("write.delete_where_mor")),
            "write.metadata_bytes_per_commit": written / self.n_commits,
            "write.manifest_merges": sum(f.endswith("-mm.avro") for f in meta_files),
            "metadata.json_bytes_final": os.path.getsize(self.metadata_location),
            "catalog.load_ms": tracer.op_ms("catalog.load"),
            "table.plan_ms": tracer.op_ms("table.plan"),
            "table.to_df_ms": tracer.op_ms("table.to_df"),
            "spark.collect_ms": tracer.op_ms("spark.collect"),
            "manifests.decode_ms": median(decode),
            "manifests.per_op": len(manifests),
            "manifests.entries_per_op": entries,
            "table.tasks_per_op": float(np.mean(self.tasks_per_op)),
            "table.prune_ratio": float(np.mean(self.tasks_per_op)) / entries,
            "table.delete_files_per_op": float(np.mean(self.deletes_per_op)),
            "io.metadata_bytes_per_op": meta_bytes,
            "rows_per_op": float(np.mean(self.rows_per_op)),
        }


def _lookup_params(rng: np.random.Generator, n: int) -> list[tuple[str, int]]:
    """Every flag equally often and one window start per equal slice of
    the key range, in seeded order: planning cost depends on the flag
    and the key range, so stratifying keeps each seed's op mix alike."""
    flags = rng.permutation(np.resize(datagen.FLAGS, n))
    edges = np.linspace(1, datagen.MAX_ORDERKEY - KEY_WINDOW, n + 1).astype(np.int64)
    los = rng.permutation([int(rng.integers(a, b)) for a, b in zip(edges[:-1], edges[1:])])
    return [(str(f), int(lo)) for f, lo in zip(flags, los)]


def lineitem_schema():
    from icegopher_spark.iceberg.schema import Schema
    from icegopher_spark.iceberg.types import DoubleType, LongType, NestedField, StringType

    return Schema(
        (
            NestedField(1, "l_orderkey", LongType(), True),
            NestedField(2, "l_quantity", DoubleType(), True),
            NestedField(3, "l_extendedprice", DoubleType(), True),
            NestedField(4, "l_returnflag", StringType(), True),
        ),
        schema_id=0,
    )


def flag_spec():
    from icegopher_spark.iceberg.transforms import PartitionField, PartitionSpec, parse_transform

    return PartitionSpec([PartitionField(4, 1000, "l_returnflag", parse_transform("identity"))])

"""Delta table as a Structured Streaming SOURCE: tail the transaction
log, emitting the snapshot at stream start and then each commit's
added rows — the Delta analogue of `iceberg_source.py` (and of
delta-spark's own streaming source semantics).

Semantics
  * Offsets are log versions: ``{"version": v}`` = consumed THROUGH
    commit v.  The first micro-batch is the LIVE FILE SET of the
    starting snapshot (bootstrap, like delta-spark's initial snapshot);
    every later batch is the ``add`` actions of commits
    ``(start, end]`` — per-commit attribution comes straight from the
    JSON log, no state of our own.
  * ``starting-version`` skips the bootstrap and tails adds from that
    version (inclusive) — the "changes only" subscription.
  * Append-only contract ENFORCED: a tailed commit containing
    ``remove`` actions (DELETE/UPDATE/OVERWRITE) raises —
    its retractions cannot flow through a row-emitting source.
    ``skip-change-commits`` = "true" skips such commits wholesale
    (mirrors delta-spark's skipChangeCommits). Deletion vectors and
    mid-stream schema changes refuse loudly.
  * ``max-versions-per-trigger`` bounds catch-up batch sizes
    (admission control, same pattern as the Iceberg source).

Scale posture: planning is driver-side and O(new commits) of JSON;
row reads run on executors, one InputPartition per data file with the
file's partitionValues attached as constant Arrow columns — nothing
row-shaped crosses the driver.
"""

from __future__ import annotations

import datetime
import json
import os

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition


class _DeltaFilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        pv: dict | None,
        schema_json: str | None,
        change_type: str | None = None,
        commit_version: int | None = None,
        cdc_in_file: bool = False,
        mask: tuple | None = None,
    ):
        self.path = path
        self.pv = pv
        self.schema_json = schema_json
        # CDF mode: constant _change_type per file (insert/delete), or
        # cdc_in_file=True when the file itself carries _change_type
        self.change_type = change_type
        self.commit_version = commit_version
        self.cdc_in_file = cdc_in_file
        # ('exclude'|'keep', payload) — deletion-vector masks against
        # the file-global row index.  Payload is either a DV decode-
        # spec dict ({"dv": ..., "minus": ...} — decoded EXECUTOR-side
        # in read_file_partition) or literal positions
        if mask is None:
            self.mask = None
        elif isinstance(mask[1], dict):
            self.mask = (mask[0], mask[1])
        else:
            self.mask = (mask[0], [int(x) for x in mask[1]])
        # logical→physical TOP-LEVEL column names (column mapping);
        # set post-construction by partitions() when the table is mapped
        self.phys_map: dict | None = None


def _refuse_variant_schema(schema, who: str) -> None:
    """Arrow has no variant logical type — the Arrow-kernel faces
    refuse variant tables loudly; the batch `read_delta` path reads
    them natively (Spark's parquet variant reader)."""
    if "variant" in schema.simpleString():
        raise NotImplementedError(
            f"{who}: table schema contains a VARIANT column — the "
            "Arrow-kernel DataSource faces cannot represent it; read "
            "via read_delta() instead"
        )


def _pv_value(raw: str | None, spark_type: str):
    """Decode one partitionValues string per the protocol's Partition
    Value Serialization rules ('' == NULL for non-strings)."""
    if raw is None:
        return None
    if spark_type == "string":
        return raw
    if raw == "":
        return None
    if spark_type in ("tinyint", "smallint", "int", "bigint", "integer", "long"):
        return int(raw)
    if spark_type in ("double", "float"):
        return float(raw)
    if spark_type == "boolean":
        return raw == "true"
    if spark_type == "date":
        return datetime.date.fromisoformat(raw)
    raise NotImplementedError(
        f"Delta stream: partition type {spark_type} not supported"
    )


class _DeltaStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.location = options["location"]
        self.max_per_trigger = int(options.get("max-versions-per-trigger", "0"))
        self.skip_change = (
            options.get("skip-change-commits", "false").lower() == "true"
        )
        self.cdf = options.get("read-change-feed", "false").lower() == "true"
        self.starting_version = options.get("starting-version")
        self._phys_map: dict | None = None
        self._logical_parts = False
        if self.cdf and self.starting_version is None:
            raise ValueError(
                "read-change-feed requires starting-version (a CDF stream "
                "tails commits; there is no snapshot bootstrap to fall "
                "back to)"
            )
        if self.cdf and self.skip_change:
            raise ValueError(
                "read-change-feed and skip-change-commits are mutually "
                "exclusive — CDF exists to EMIT change commits"
            )
        self._last_served: int | None = None

    # -- offsets ---------------------------------------------------------

    def initialOffset(self) -> dict:
        if self.starting_version is not None:
            self._track_served(int(self.starting_version) - 1)
            return {"version": int(self.starting_version) - 1, "bootstrap": False}
        return {"version": -1, "bootstrap": True}

    def _latest_version(self) -> int:
        from ..delta import _list_log
        from ..iceberg.io import load_io

        commits, checkpoints = _list_log(load_io(self.location), self.location)
        return max([*commits, *checkpoints])

    def latestOffset(self) -> dict:
        hi = self._latest_version()
        if self.max_per_trigger > 0 and self._last_served is not None:
            hi = min(hi, self._last_served + self.max_per_trigger)
        self._last_served = hi
        return {"version": hi, "bootstrap": False}

    def _track_served(self, version: int) -> None:
        """Keep the admission-control watermark in sync with every
        offset the engine shows us (initialOffset on a fresh start,
        partitions() on a checkpoint-replayed batch, commit() after
        each batch) — so the FIRST latestOffset after a (re)start is
        also bounded by max-versions-per-trigger, not just steady
        state.  Residual gap: a restart whose last batch was already
        committed gives the reader no start offset before the first
        latestOffset — that one catch-up batch is unbounded."""
        if self._last_served is None or version > self._last_served:
            self._last_served = version

    # -- planning --------------------------------------------------------

    def _snapshot(self, version: int | None = None):
        from ..delta import load_delta

        return load_delta(self.location, version=version)

    def partitions(self, start: dict, end: dict):
        parts = self._partitions_impl(start, end)
        if self._phys_map or self._logical_parts:
            for p in parts:
                p.phys_map = self._phys_map
                if p.pv:
                    # partitionValues in the log are keyed by PHYSICAL
                    # name under column mapping — re-key to logical so
                    # read() matches schema fields
                    inv = {v: k for k, v in (self._phys_map or {}).items()}
                    p.pv = {inv.get(k, k): v for k, v in p.pv.items()}
        return parts

    def _partitions_impl(self, start: dict, end: dict):
        self._track_served(end["version"])
        snap = self._snapshot(end["version"])
        _refuse_variant_schema(snap.schema, "Delta stream")
        phys_map = None
        if snap.physical_schema is not None:
            # top-level physical→logical is a per-column rename the
            # arrow reader handles; NESTED renames would need a struct
            # rebuild — refuse those (batch face handles them via CAST)
            for lf, pf in zip(snap.schema.fields, snap.physical_schema.fields):
                if lf.dataType.json() != pf.dataType.json():
                    raise NotImplementedError(
                        "Delta stream: column mapping renames NESTED "
                        f"fields (column {lf.name!r}) — unsupported in "
                        "the streaming source; read in batch"
                    )
            phys_map = {
                lf.name: pf.name
                for lf, pf in zip(snap.schema.fields, snap.physical_schema.fields)
                if lf.name != pf.name
            }
        self._phys_map = phys_map
        self._logical_parts = bool(phys_map)
        schema_json = snap.schema.json()
        parts: list[_DeltaFilePartition] = []

        if self.cdf:
            # CDF stream: each batch is read_changes over (start, end] —
            # same shared classifier, same per-commit attribution
            # (including deletion-vector masks / DV-diff deletes)
            from ..delta import _classify_changes

            lo = start["version"] + 1
            if lo > end["version"]:
                return [_DeltaFilePartition("", None, None)]
            plain, cdc = _classify_changes(
                self.location, snap, lo, end["version"]
            )
            for (v, kind), group in sorted(plain.items()):
                ct = "delete" if kind == "delete_dvdiff" else kind
                for p, pv, mask in group:
                    parts.append(
                        _DeltaFilePartition(
                            p, pv, schema_json, change_type=ct,
                            commit_version=v, mask=mask,
                        )
                    )
            for v, group in sorted(cdc.items()):
                for p, pv in group:
                    parts.append(
                        _DeltaFilePartition(
                            p, pv, schema_json, commit_version=v, cdc_in_file=True
                        )
                    )
            return parts or [_DeltaFilePartition("", None, None)]

        # the explicit flag decides: starting-version=0 encodes as
        # {version: -1, bootstrap: False} and must TAIL from commit 0,
        # not bootstrap (version<0 is only the fallback for offsets
        # checkpointed without the flag)
        if start.get("bootstrap", start["version"] < 0):
            # first batch: the whole live set at `end` (initial
            # snapshot); deletion vectors mask out their dead rows
            masks = {}
            if snap.deletion_vectors:
                from ..delta_dv import dv_job_spec

                # decode specs only — positions decode executor-side
                masks = {
                    p: ("exclude", {"dv": dv_job_spec(self.location, d)})
                    for p, d in snap.deletion_vectors.items()
                }
            for p, pv in snap.files:
                parts.append(
                    _DeltaFilePartition(p, pv, schema_json, mask=masks.get(p))
                )
            return parts or [_DeltaFilePartition("", None, None)]

        base_schema = self._snapshot(start["version"]).schema.json() if (
            start["version"] >= 0
        ) else schema_json
        if base_schema != schema_json:
            raise ValueError(
                "Delta stream: table schema changed between offsets "
                f"{start['version']} and {end['version']}; restart the "
                "stream to pick up the new schema"
            )

        from ..delta import _commit_actions
        from ..iceberg.io import load_io

        io = load_io(self.location)
        for v in range(start["version"] + 1, end["version"] + 1):
            try:
                actions = _commit_actions(io, self.location, v)
            except FileNotFoundError:
                raise FileNotFoundError(
                    f"Delta stream: commit {v} missing (vacuumed log?) — "
                    "cannot attribute adds per version; restart the stream"
                ) from None
            adds, removes = [], 0
            for a in actions:
                # dataChange=false actions (OPTIMIZE/compaction)
                # move bytes, not rows — transparent to an append
                # stream, exactly as delta-spark filters them
                if a.get("remove") and a["remove"].get("dataChange", True):
                    removes += 1
                add = a.get("add")
                if add and add.get("dataChange", True):
                    adds.append(add)
                if a.get("metaData") is not None:
                    ms = a["metaData"].get("schemaString")
                    if ms and json.loads(ms) != json.loads(schema_json):
                        raise ValueError(
                            f"Delta stream: commit {v} changes the table "
                            "schema mid-stream; restart the stream"
                        )
            if removes:
                if self.skip_change:
                    continue  # user opted out of change commits entirely
                raise ValueError(
                    f"Delta stream: commit {v} removes files (DELETE/UPDATE/"
                    "OVERWRITE); an append stream cannot retract rows. Set "
                    "option 'skip-change-commits'='true' to skip such "
                    "commits, or consume the table in batch"
                )
            if any(add.get("deletionVector") for add in adds):
                # no remove in the commit yet a DV-carrying add: a new
                # file born with dead rows — emit its live rows only
                # would be fine, but a dataChange add with a DV outside
                # a rewrite is protocol-unusual; refuse until a real
                # writer is seen producing it
                raise NotImplementedError(
                    f"Delta stream: commit {v} adds a new file carrying a "
                    "deletion vector without removing its predecessor; "
                    "unsupported — consume via batch read_delta"
                )
            for add in adds:
                parts.append(
                    _DeltaFilePartition(
                        os.path.join(self.location, add["path"]),
                        add.get("partitionValues") or {},
                        schema_json,
                    )
                )
        return parts or [_DeltaFilePartition("", None, None)]

    # -- executor read ----------------------------------------------------

    def read(self, partition: _DeltaFilePartition):
        return read_file_partition(partition)

    def commit(self, end: dict) -> None:
        # offsets derive from the table's own log; tracking feeds the
        # admission-control watermark across restarts
        self._track_served(end["version"])



def read_file_partition(partition: _DeltaFilePartition):
    """Executor-side Arrow read of one Delta file partition: parquet
    batches with partitionValues attached as constant columns, the DV
    mask applied on the file-global row index, physical->logical
    top-level renames, and (CDF mode) _change_type/_commit_version
    columns.  Shared by the STREAM source and the batch DataSource face
    (delta_dsv2.py) — one kernel, two planners."""
    if not partition.path:
        return iter([])
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType.fromJson(json.loads(partition.schema_json))
    cdf = partition.commit_version is not None
    out_schema = schema
    if cdf:
        out_schema = StructType(
            [
                *schema.fields,
                StructField("_change_type", StringType(), True),
                StructField("_commit_version", LongType(), True),
            ]
        )
    arrow_schema = to_arrow_schema(out_schema)
    pv = partition.pv or {}
    phys = getattr(partition, "phys_map", None) or {}
    # column-mapped tables: parquet columns carry PHYSICAL names
    data_names = [
        phys.get(f.name, f.name) for f in schema.fields if f.name not in pv
    ]
    if partition.cdc_in_file:
        data_names.append("_change_type")

    mask = partition.mask

    def gen():
        import numpy as np

        pf = pq.ParquetFile(partition.path)
        row_offset = 0
        mode, positions = (None, None)
        if mask is not None:
            from ..delta_dv import decode_mask_payload

            mode = mask[0]
            # DV bitmaps decode HERE, in the executor task — the
            # driver shipped only the decode spec
            positions = decode_mask_payload(mask[1]).astype(np.int64)
        for batch in pf.iter_batches(columns=data_names):
            if mode is not None:
                # deletion-vector mask on the FILE-global row index
                idx = np.arange(
                    row_offset, row_offset + batch.num_rows, dtype=np.int64
                )
                row_offset += batch.num_rows
                hit = np.isin(idx, positions, assume_unique=True)
                keep = ~hit if mode == "exclude" else hit
                if not keep.all():
                    batch = batch.take(pa.array(np.nonzero(keep)[0]))
                if batch.num_rows == 0:
                    continue
            cols = []
            for f in out_schema.fields:
                target = arrow_schema.field(f.name).type
                if f.name == "_change_type" and cdf:
                    if partition.cdc_in_file:
                        cols.append(batch.column(f.name).cast(target))
                    else:
                        cols.append(
                            pa.array(
                                [partition.change_type] * batch.num_rows
                            ).cast(target)
                        )
                elif f.name == "_commit_version" and cdf:
                    cols.append(
                        pa.array(
                            [partition.commit_version] * batch.num_rows
                        ).cast(target)
                    )
                elif f.name in pv:
                    val = _pv_value(pv[f.name], f.dataType.simpleString())
                    cols.append(
                        pa.array([val] * batch.num_rows).cast(target)
                    )
                else:
                    cols.append(
                        batch.column(phys.get(f.name, f.name)).cast(target)
                    )
            yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)

    return gen()


class DeltaAppendStreamSource(DataSource):
    """Usage:

        spark.dataSource.register(DeltaAppendStreamSource)
        df = (spark.readStream.format("icegopher_delta_stream")
              .option("location", table_path).load())
    """

    @classmethod
    def name(cls) -> str:
        return "icegopher_delta_stream"

    def schema(self):
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from ..delta import load_delta

        base = load_delta(self.options["location"]).schema
        if self.options.get("read-change-feed", "false").lower() == "true":
            return StructType(
                [
                    *base.fields,
                    StructField("_change_type", StringType(), True),
                    StructField("_commit_version", LongType(), True),
                ]
            )
        return base

    def streamReader(self, schema):
        return _DeltaStreamReader(self.options)

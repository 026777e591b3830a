"""The FileIO boundary: the driver-side metadata plane of both table
formats touches storage only through ``iceberg/io.py``.

Two parts:

* an AST scan of the metadata-plane modules for direct filesystem
  calls (``open``, ``os``/``os.path`` file operations, ``shutil``, and
  pyarrow parquet reads/writes given a path rather than an in-memory
  buffer or a FileIO stream);
* a Delta log (JSON commits plus a classic checkpoint) written,
  replayed, checkpointed and vacuum-listed through a dict-backed
  FileIO, with no file on local disk — the plane depends on the
  protocol only.
"""

import ast
import io
import os
from pathlib import Path

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from icegopher_spark import delta, delta_write
from icegopher_spark.iceberg.io import FileInfo

PKG = Path(__file__).resolve().parent.parent / "icegopher_spark"

# module -> functions exempt from the scan: executor-side partition
# readers, which read data files through their own readers
SCOPE = {
    "delta.py": set(),
    "delta_write.py": set(),
    "delta_dv.py": set(),
    "streaming/delta_source.py": {"read_file_partition"},
    "iceberg/write.py": set(),
    "iceberg/maintenance.py": set(),
}
OS_CALLS = {"listdir", "walk", "makedirs", "remove", "rename", "replace", "rmdir", "scandir", "stat", "unlink", "link"}
OS_PATH_CALLS = {"exists", "isdir", "isfile", "getsize", "getmtime"}
# pyarrow parquet entry points -> index of their source/sink argument
PQ_CALLS = {"read_table": 0, "ParquetFile": 0, "write_table": 1}
IN_MEMORY = {"BufferReader", "BufferOutputStream", "BytesIO", "py_buffer", "open_input"}


def _dotted(node) -> str:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return f"{_dotted(node.value)}.{node.attr}"
    return ""


def _is_stream(node, streams: set[str]) -> bool:
    if isinstance(node, ast.Name):
        return node.id in streams
    return isinstance(node, ast.Call) and _dotted(node.func).rsplit(".", 1)[-1] in IN_MEMORY


def _violations(source: str, exempt: set[str]) -> list[str]:
    """``"<line>: <callee>(...)"`` for each direct filesystem call in
    ``source`` outside the functions named in ``exempt``."""
    tree = ast.parse(source)
    # names bound to an in-memory buffer or a FileIO stream
    streams: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Assign) and _is_stream(n.value, set()):
            streams |= {t.id for t in n.targets if isinstance(t, ast.Name)}
        if isinstance(n, ast.withitem) and isinstance(n.optional_vars, ast.Name):
            if _is_stream(n.context_expr, set()):
                streams.add(n.optional_vars.id)
    skip = {
        id(c)
        for f in ast.walk(tree)
        if isinstance(f, ast.FunctionDef) and f.name in exempt
        for c in ast.walk(f)
    }
    out = []
    for n in ast.walk(tree):
        if not isinstance(n, ast.Call) or id(n) in skip:
            continue
        name = _dotted(n.func)
        head, _, last = name.rpartition(".")
        bad = (
            name == "open"
            or (head == "os" and last in OS_CALLS)
            or (head == "os.path" and last in OS_PATH_CALLS)
            or head == "shutil"
        )
        if head == "pq" and last in PQ_CALLS:
            i = PQ_CALLS[last]
            arg = n.args[i] if len(n.args) > i else None
            bad = arg is None or not _is_stream(arg, streams)
        if bad:
            out.append(f"{n.lineno}: {name}(...)")
    return out


@pytest.mark.parametrize("rel", sorted(SCOPE))
def test_metadata_plane_calls_the_filesystem_only_through_fileio(rel):
    assert _violations((PKG / rel).read_text(), SCOPE[rel]) == []


def test_scan_flags_direct_calls():
    """The scan itself: each forbidden form is caught, the FileIO forms
    are not."""
    src = (
        "import os, shutil\n"
        "import pyarrow as pa\n"
        "import pyarrow.parquet as pq\n"
        "def f(io, p, t):\n"
        "    open(p)\n"
        "    os.path.getmtime(p)\n"
        "    os.walk(p)\n"
        "    shutil.rmtree(p)\n"
        "    pq.read_table(p)\n"
        "    pq.write_table(t, p)\n"
        "    pq.read_table(pa.BufferReader(io.read(p)))\n"
        "    sink = pa.BufferOutputStream()\n"
        "    pq.write_table(t, sink)\n"
        "    with io.open_input(p) as fh:\n"
        "        pq.ParquetFile(fh)\n"
    )
    assert [v.split(": ")[1] for v in _violations(src, set())] == [
        "open(...)",
        "os.path.getmtime(...)",
        "os.walk(...)",
        "shutil.rmtree(...)",
        "pq.read_table(...)",
        "pq.write_table(...)",
    ]


class DictFileIO:
    """A FileIO over a dict: path -> (bytes, mtime_ms)."""

    def __init__(self, mtime_ms: int):
        self.files: dict[str, tuple[bytes, int]] = {}
        self.mtime_ms = mtime_ms

    def read(self, path):
        try:
            return self.files[path][0]
        except KeyError:
            raise FileNotFoundError(path) from None

    def write(self, path, data):
        self.files[path] = (bytes(data), self.mtime_ms)

    def create(self, path, data):
        if path in self.files:
            raise FileExistsError(path)
        self.write(path, data)

    def remove(self, path):
        self.read(path)
        del self.files[path]

    def exists(self, path):
        return path in self.files or bool(self.list_prefix(path))

    def info(self, path):
        return FileInfo(path, len(self.read(path)), self.files[path][1])

    def open_input(self, path):
        return io.BytesIO(self.read(path))

    def list_dir(self, path):
        pre = path.rstrip("/") + "/"
        return sorted({p[len(pre):].split("/")[0] for p in self.files if p.startswith(pre)})

    def list_prefix(self, prefix):
        pre = prefix.rstrip("/") + "/"
        return [self.info(p) for p in sorted(self.files) if p == prefix or p.startswith(pre)]

    def remove_dir(self, path):
        for f in self.list_prefix(path):
            del self.files[f.path]


def test_delta_log_replays_and_vacuums_through_fileio_alone(monkeypatch):
    mem = DictFileIO(mtime_ms=1_000)
    for mod in (delta, delta_write):
        monkeypatch.setattr(mod, "load_io", lambda _loc, _props=None: mem)
    loc = "/nonexistent-delta-root/t"
    schema = StructType([StructField("k", LongType()), StructField("p", StringType())])

    delta_write.create_delta_table(loc, schema, ["p"])

    def add(name):
        path = f"{loc}/p=x/{name}"
        mem.write(path, b"PAR1-not-read-by-the-log-plane")
        return {"add": {"path": f"p=x/{name}", "partitionValues": {"p": "x"},
                        "size": mem.info(path).size, "modificationTime": 1_000, "dataChange": True}}

    def remove(name):
        return {"remove": {"path": f"p=x/{name}", "deletionTimestamp": 1_000, "dataChange": True}}

    delta_write._commit(loc, 1, [add("a.parquet")])
    delta_write._commit(loc, 2, [remove("a.parquet"), add("b.parquet")])
    with pytest.raises(FileExistsError):
        delta_write._commit(loc, 2, [])
    assert delta_write.write_checkpoint(loc) == 2
    delta_write._commit(loc, 3, [add("c.parquet")])
    # JSON up to the checkpoint is optional: replay seeds from it
    for v in range(3):
        mem.remove(f"{loc}/_delta_log/{v:020d}.json")

    snap = delta.load_delta(loc)
    assert snap.version == 3
    assert [os.path.basename(p) for p, _ in snap.files] == ["b.parquet", "c.parquet"]
    assert snap.schema == schema
    assert [h["version"] for h in delta.delta_history(loc)] == [3, 2]
    # a.parquet is referenced by no retained version and old enough
    assert delta.vacuum_candidates(loc, retention_ms=0, now_ms=10**15) == [f"{loc}/p=x/a.parquet"]
    assert not os.path.exists("/nonexistent-delta-root")

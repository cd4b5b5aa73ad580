"""Source check: the modules that read and write index metadata do all of
it through the Hadoop FileSystem helpers in ``index/build.py``. A call to
a local-disk API there would bring back a second I/O path beside the one
every store shares, so this test walks their syntax trees and fails on
any such call."""

import ast
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "pq_vector_spark"
MODULES = ["index/build.py", "index/search.py", "plans/intercept.py", "streaming/ingest.py"]

# (module, function) pairs that touch the local disk directly
FORBIDDEN = {
    ("glob", "glob"),
    ("os", "listdir"),
    ("os", "rename"),
    ("os", "remove"),
    ("os", "makedirs"),
    ("os", "stat"),
    ("shutil", "rmtree"),
}
PARQUET = "pyarrow.parquet"
# argument (position, keyword) that names the file of a pyarrow.parquet call
PARQUET_FILE_ARG = {"read_table": (0, "source"), "write_table": (1, "where")}
IN_MEMORY = {"BytesIO", "BufferReader"}


def _is_in_memory(node, buffers) -> bool:
    if isinstance(node, ast.Name):
        return node.id in buffers
    if isinstance(node, ast.Call):
        f = node.func
        return (f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)) in IN_MEMORY
    return False


def local_io_calls(source: str) -> list:
    """``(line, call)`` for every local-disk call in ``source``."""
    tree = ast.parse(source)
    modules = {}  # local name -> module it is bound to
    functions = {}  # local name -> (module, function) it is bound to
    buffers = set()  # names bound to an in-memory buffer
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    modules[a.asname] = a.name
                else:
                    modules[a.name.split(".")[0]] = a.name.split(".")[0]
        elif isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                full = f"{node.module}.{a.name}"
                if full == PARQUET:
                    modules[a.asname or a.name] = PARQUET
                else:
                    functions[a.asname or a.name] = (node.module, a.name)
        elif isinstance(node, ast.Assign) and _is_in_memory(node.value, set()):
            buffers.update(t.id for t in node.targets if isinstance(t, ast.Name))
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name):
            if f.id == "open" and f.id not in functions:
                found.append((node.lineno, "open"))
                continue
            target = functions.get(f.id)
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
            mod = modules.get(f.value.id)
            target = (mod, f.attr) if mod else None
        else:
            target = None
        if target is None:
            continue
        if target in FORBIDDEN:
            found.append((node.lineno, ".".join(target)))
        elif target[0] == PARQUET and target[1] in PARQUET_FILE_ARG:
            pos, kw = PARQUET_FILE_ARG[target[1]]
            arg = node.args[pos] if len(node.args) > pos else next(
                (k.value for k in node.keywords if k.arg == kw), None
            )
            if arg is not None and not _is_in_memory(arg, buffers):
                found.append((node.lineno, ".".join(target)))
    return sorted(found)


@pytest.mark.parametrize("module", MODULES)
def test_metadata_modules_do_no_local_disk_io(module):
    calls = local_io_calls((PACKAGE / module).read_text())
    assert not calls, f"{module} calls local-disk APIs at (line, call): {calls}"


def test_check_finds_every_local_disk_call():
    bad = """
import glob as g
import os
import shutil
import io
import pyarrow.parquet as pq
from os import listdir as ls
from glob import glob

def f(p, t):
    open(p)
    g.glob(p)
    glob(p)
    ls(p)
    os.listdir(p)
    os.rename(p, p)
    os.remove(p)
    os.makedirs(p)
    os.stat(p)
    shutil.rmtree(p)
    pq.read_table(p)
    pq.write_table(t, p)
    pq.write_table(t, where=p)
    buf = io.BytesIO()
    pq.write_table(t, buf)
    pq.read_table(io.BytesIO(b""))
    fs.open(p)
"""
    got = [call for _, call in local_io_calls(bad)]
    assert got == [
        "open",
        "glob.glob",
        "glob.glob",
        "os.listdir",
        "os.listdir",
        "os.rename",
        "os.remove",
        "os.makedirs",
        "os.stat",
        "shutil.rmtree",
        "pyarrow.parquet.read_table",
        "pyarrow.parquet.write_table",
        "pyarrow.parquet.write_table",
    ]

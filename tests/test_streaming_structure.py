"""The streaming package keeps ONE copy of its transport: only
``replay.py`` starts streaming queries and only ``staging.py`` spaces
staged-file mtimes. Every pipeline calls those, so a new twin cannot
grow its own readStream/writeStream or staging block back. Likewise
the bucketed store keeps ONE segment writer, and job 4's doc kernels
set their columns in one projection each."""

from __future__ import annotations

import ast
import os

import m4i_flink_tasks_spark.operators.docstore as docstore
import m4i_flink_tasks_spark.plans.synchronize_plan as synchronize_plan
import m4i_flink_tasks_spark.streaming as streaming

# ``sources.py`` holds the real Kafka writer, which is not a replay.
_WRITER_OK = {"replay.py", "sources.py"}
_UTIME_OK = {"staging.py"}


def _violations(path: str) -> list[str]:
    name = os.path.basename(path)
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    found = []
    for node in ast.walk(tree):
        if name not in _WRITER_OK and (
            (isinstance(node, ast.Attribute) and node.attr == "writeStream")
            or (isinstance(node, ast.keyword) and node.arg == "availableNow")
        ):
            found.append(f"{name}:{node.lineno} starts its own streaming query")
        if (
            name not in _UTIME_OK
            and isinstance(node, ast.Attribute)
            and node.attr == "utime"
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            found.append(f"{name}:{node.lineno} sets file mtimes itself")
    return found


def test_only_replay_and_staging_own_the_transport():
    root = os.path.dirname(streaming.__file__)
    found = [
        v
        for f in sorted(os.listdir(root))
        if f.endswith(".py")
        for v in _violations(os.path.join(root, f))
    ]
    assert not found, "\n".join(found)


def _writes_parquet(call: ast.Call) -> bool:
    """A DataFrameWriter ``.parquet(...)``: the receiver chain passes
    through ``.write`` (``spark.read...parquet`` does not)."""
    func = call.func
    if not (isinstance(func, ast.Attribute) and func.attr == "parquet"):
        return False
    node = func.value
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            if node.attr == "write":
                return True
            node = node.value
        else:
            node = node.func
    return False


def _is_os_rename(call: ast.Call) -> bool:
    func = call.func
    return (
        isinstance(func, ast.Attribute)
        and func.attr == "rename"
        and isinstance(func.value, ast.Name)
        and func.value.id == "os"
    )


def test_bucketed_store_has_one_segment_writer():
    """Outside the flat reference ``ParquetUpsertStore``, exactly one
    function of ``store.py`` writes parquet and renames it into place:
    every merge, delete and compaction reaches the same writer, so one
    crash/replay argument covers them all."""
    path = os.path.join(os.path.dirname(streaming.__file__), "store.py")
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    writers: set[str] = set()
    renamers: set[str] = set()

    def visit(node: ast.AST, owner: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef) and child.name == "ParquetUpsertStore":
                continue
            name = owner
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name if owner is None else f"{owner}.{child.name}"
            elif isinstance(child, ast.ClassDef):
                name = child.name
            if isinstance(child, ast.Call) and owner is not None:
                if _writes_parquet(child):
                    writers.add(owner)
                if _is_os_rename(child):
                    renamers.add(owner)
            visit(child, name)

    visit(tree, None)
    assert len(writers) == 1 and writers == renamers, (
        f"parquet writers {sorted(writers)}, os.rename callers "
        f"{sorted(renamers)}: the store must keep one segment writer"
    )


_SET_COLUMNS = {"withColumn", "withColumns"}
_LOOPS = (ast.For, ast.While, ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)


def _sets_columns(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in _SET_COLUMNS
    )


def test_doc_kernels_set_columns_in_one_projection():
    """Job 4's kernels (``docstore``) and dispatcher (``synchronize_plan``)
    rewrite a doc in one ``withColumns``/``select`` per step: no
    ``withColumn``/``withColumns`` inside a loop or comprehension, and
    none chained straight onto another. A column-at-a-time chain adds
    one plan node per column and lets a result depend on the order its
    columns are set in."""
    found = []
    for module in (docstore, synchronize_plan):
        path = module.__file__
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        name = os.path.basename(path)

        def visit(node: ast.AST, in_loop: bool) -> None:
            for child in ast.iter_child_nodes(node):
                if _sets_columns(child):
                    if in_loop:
                        found.append(f"{name}:{child.lineno} sets a column in a loop")
                    if _sets_columns(child.func.value):
                        found.append(
                            f"{name}:{child.lineno} chains onto another withColumn"
                        )
                visit(child, in_loop or isinstance(child, _LOOPS))

        visit(tree, False)
    assert not found, "\n".join(found)

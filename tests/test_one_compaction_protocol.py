"""One compaction protocol and one reader: every batch store folds
through ``incremental.store.compact_store``'s staged swap and is read
through ``incremental.store.read_store``/``read_batch``, and the store
listing finishes a committed fold, so no other module names the fold
markers, knows the batch rank order, reads a batch directory by hand or
reaches into ``incremental/joinview.py`` for its private helpers.
Source-level checks; no SparkSession is started."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import dataworks_audit_data_ingest_spark as pkg

PKG = Path(pkg.__file__).parent
FOLD_MARKERS = re.compile(r"_jv_fold_|_rollup_compact_")
RETIRED = re.compile(
    r"_recover_compaction|_compact_store_safe|_sidecar_entries"
    r"|_live_partition_dirs|_COMPACT_PREFIX"
)


RETIRED_READERS = re.compile(
    r"\bread_store_excluding_batch\b|\b_READ_ALL_ID\b|\b_ranked_rows\b"
    r"|\b_read_all\b"
)
RANK_OF = re.compile(r"\b_rank_of\b")
STORE = "incremental/store.py"
LISTINGS = {"_list_partitions", "_list_for_rewrite"}


def _sources():
    for path in sorted(PKG.rglob("*.py")):
        yield str(path.relative_to(PKG)), path.read_text()


def test_only_store_names_the_fold_markers():
    assert [rel for rel, src in _sources() if FOLD_MARKERS.search(src)] == [
        "incremental/store.py"
    ]


def test_retired_protocol_names_are_gone():
    assert [rel for rel, src in _sources() if RETIRED.search(src)] == []


def _private_joinview_imports(rel: str, src: str):
    package = ("dataworks_audit_data_ingest_spark", *Path(rel).parent.parts)
    for node in ast.walk(ast.parse(src)):
        if not isinstance(node, ast.ImportFrom):
            continue
        base = package[: len(package) - node.level + 1] if node.level else ()
        target = ".".join((*base, *(node.module or "").split(".")))
        if target.rstrip(".").endswith("incremental.joinview"):
            for alias in node.names:
                if alias.name.startswith("_"):
                    yield f"{rel}: {alias.name}"


def test_no_module_imports_a_private_joinview_name():
    assert [
        hit
        for rel, src in _sources()
        for hit in _private_joinview_imports(rel, src)
    ] == []


def test_only_store_knows_the_batch_rank_order():
    assert [rel for rel, src in _sources() if RANK_OF.search(src)] == [STORE]


def test_retired_store_readers_are_gone():
    assert [rel for rel, src in _sources() if RETIRED_READERS.search(src)] == []


def _chain(node) -> list[str]:
    """Attribute names along a call's receiver chain, outermost first:
    ``spark.read.option(...).parquet`` -> [parquet, option, read, spark]."""
    names = []
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            if isinstance(node, ast.Name):
                names.append(node.id)
            return names


def _is_read(call: ast.Call) -> bool:
    names = _chain(call.func) or [""]
    return names[0] == "read_batch_dirs" or (
        "read" in names and names[0] in ("parquet", "load")
    )


def _names_batch_dir(node) -> bool:
    return any(
        (isinstance(n, ast.Constant) and "batch_id=" in str(n.value))
        or (isinstance(n, ast.Name) and n.id == "BATCH_COL")
        for n in ast.walk(node)
        if not isinstance(n, ast.Call)
    )


def _hand_reads(rel: str, src: str):
    """Store reads written outside store.py: the footer reader called
    directly, a path naming a ``batch_id=`` directory, or any read in a
    function that lists a store's batch directories itself."""
    for fn in ast.walk(ast.parse(src)):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        calls = [n for n in ast.walk(fn) if isinstance(n, ast.Call)]
        lists = any(_chain(c.func)[:1] in ([n] for n in LISTINGS) for c in calls)
        for c in filter(_is_read, calls):
            if (
                _chain(c.func)[:1] == ["read_batch_dirs"]
                or lists
                or any(_names_batch_dir(a) for a in c.args)
            ):
                yield f"{rel}:{c.lineno} in {fn.name}"


def test_no_module_reads_a_batch_directory_by_hand():
    assert [
        hit
        for rel, src in _sources()
        if rel != STORE
        for hit in _hand_reads(rel, src)
    ] == []

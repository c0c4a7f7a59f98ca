"""One compaction protocol: every batch store folds through
``incremental.store.compact_store``'s staged swap, and the store listing
finishes a committed fold, so no other module names the fold markers or
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

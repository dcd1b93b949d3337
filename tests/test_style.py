"""Source-level guards for engine-wide invariants that a single red
driver row is too slow to teach twice.

These are grep-tests: they read the package source, not run it, so they
catch a violation in ANY code path — including ones the sf0.01 fixtures
never exercise.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import types as T

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "nytimes_batch_processor_spark"
SOURCES = sorted(PKG.rglob("*.py"))
TOOL_SOURCES = sorted((REPO / "tools").glob("*.py"))


def test_no_bare_unix_micros():
    """PySpark 4.1 ANSI rules reject ``unix_micros`` on TIMESTAMP_NTZ
    (which inferTimestampNTZ makes every parquet ts column), so the only
    allowed call site is ``functions.epoch_us`` which casts first. The
    r4 regression (3 red driver rows, 9 failed tests, a crashed bench)
    was exactly this pattern scattered across call sites."""
    offenders = []
    for path in SOURCES:
        if path == PKG / "functions" / "__init__.py":
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if re.search(r"\bF\.unix_micros\(|\bunix_micros\s*\(", line):
                # SQL oracle strings use DuckDB's epoch_us, never
                # unix_micros — any hit is Python-side and wrong.
                offenders.append(f"{path.relative_to(PKG)}:{i}: {line.strip()}")
    assert not offenders, (
        "bare unix_micros outside functions.epoch_us (NTZ-unsafe on "
        "PySpark 4.1):\n" + "\n".join(offenders)
    )


def test_no_row_at_a_time_python_udfs():
    """Plain ``F.udf`` is row-at-a-time Python — 10-100x slower than the
    Arrow-batched pandas_udf/mapInPandas paths this engine standardizes
    on (functions/udfs.py module docstring)."""
    offenders = []
    for path in SOURCES:
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if re.search(r"\bF\.udf\(|\budf\s*\(\s*lambda", line):
                offenders.append(f"{path.relative_to(PKG)}:{i}: {line.strip()}")
    assert not offenders, "row-at-a-time F.udf found:\n" + "\n".join(offenders)


def test_no_decimal_in_catalog_output_schemas(spark, sf_dir):
    """Output-boundary rule: DECIMAL is an internal determinism tool
    (order-independent money sums — functions/__init__.py precision
    policy); the *returned* schema of every catalog entry must cast it
    away. Different DuckDB/Arrow versions disagree on whether functions
    like ROUND(list_sum(decimal)) stay decimal or widen to double, so a
    decimal output column hash-matches locally and red-lines on the
    driver (r3 fn_math_surface, r4 fn_higher_order_surface — same bug
    class twice)."""
    from nytimes_batch_processor_spark.catalog import all_specs

    offenders = []
    for name, spec in sorted(all_specs().items()):
        schema = spec.fn(spark, sf_dir).schema
        for f in schema.fields:
            if isinstance(f.dataType, T.DecimalType):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, (
        "catalog entries returning DECIMAL at the output boundary "
        "(cast to double):\n" + "\n".join(offenders)
    )


def _own_nodes(fn: ast.AST):
    """The nodes of ``fn``'s own body, not those of functions nested in it."""
    stack = list(fn.body)
    while stack:
        node = stack.pop()
        yield node
        stack.extend(
            c
            for c in ast.iter_child_nodes(node)
            if not isinstance(c, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda))
        )


def _is_local_checkpoint(value: ast.AST) -> bool:
    return (
        isinstance(value, ast.Call)
        and isinstance(value.func, ast.Attribute)
        and value.func.attr == "localCheckpoint"
    )


def test_no_unpersist_of_local_checkpoints():
    """``unpersist()`` only uncaches CacheManager entries: the blocks of
    a ``localCheckpoint`` belong to its internal RDD, so the call frees
    nothing (after ``unpersist(blocking=True)`` the RDD is still listed
    by ``getRDDStorageInfo()`` and the frame still collects). Spark's
    ContextCleaner reclaims a checkpoint once nothing references it, so
    a "release" call reads as resource management and is none. Flags
    ``x.unpersist(`` where ``x`` is bound from a ``.localCheckpoint(...)``
    call in the same function."""
    offenders = []
    for path in SOURCES + TOOL_SOURCES:
        tree = ast.parse(path.read_text(), filename=str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            nodes = list(_own_nodes(fn))
            pinned = {
                t.id
                for n in nodes
                if isinstance(n, ast.Assign) and _is_local_checkpoint(n.value)
                for t in n.targets
                if isinstance(t, ast.Name)
            }
            offenders += [
                f"{path.relative_to(REPO)}:{n.lineno}: {n.func.value.id}.unpersist("
                for n in nodes
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "unpersist"
                and isinstance(n.func.value, ast.Name)
                and n.func.value.id in pinned
            ]
    assert not offenders, (
        "unpersist() of a localCheckpoint frees no blocks:\n"
        + "\n".join(offenders)
    )


_SWAP_HELPERS = {"_swap_paths", "_commit_swap"}


def test_renames_only_in_the_swap_helpers():
    """Every rewrite-in-place replaces a directory through ONE protocol
    (`tables._swap_paths` heals, `tables._commit_swap` promotes). A
    hand-rolled rename elsewhere is a second copy of it, with its own
    residue names that the one heal cannot see — so another operation
    would later delete that residue as stale. Flags any ``.rename(``
    call in the package outside those two functions."""
    offenders = []
    for path in SOURCES:
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed: set[int] = set()
        if path == PKG / "tables.py":
            for fn in tree.body:
                if isinstance(fn, ast.FunctionDef) and fn.name in _SWAP_HELPERS:
                    allowed |= {id(n) for n in ast.walk(fn)}
        offenders += [
            f"{path.relative_to(REPO)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "rename"
            and id(n) not in allowed
        ]
    assert not offenders, (
        "directory renames outside tables._swap_paths/_commit_swap:\n"
        + "\n".join(offenders)
    )


def test_hadoop_filesystem_only_in_tables():
    """Every file the engine keeps next to data (the delivery ledger,
    ``_centroids.json``, ``_bpe_tokenizer.json``, ``_lm_meta.json``)
    and every other Hadoop FileSystem handle goes through one seam,
    `tables._hfs` (`_read_json`/`_write_json` for the JSON files). A
    second ``getFileSystem(`` is a second copy of that boundary, with
    its own error handling. Flags any such call in the package outside
    ``tables._hfs``."""
    offenders = []
    for path in SOURCES:
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed: set[int] = set()
        if path == PKG / "tables.py":
            for fn in tree.body:
                if isinstance(fn, ast.FunctionDef) and fn.name == "_hfs":
                    allowed |= {id(n) for n in ast.walk(fn)}
        offenders += [
            f"{path.relative_to(REPO)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "getFileSystem"
            and id(n) not in allowed
        ]
    assert not offenders, (
        "Hadoop FileSystem handles outside tables._hfs:\n" + "\n".join(offenders)
    )

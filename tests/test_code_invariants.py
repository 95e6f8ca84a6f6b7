"""Source-level invariants the architecture depends on.

These are lint-grade checks pinned as tests so refactors cannot
silently erode them — the same role the plan contracts play for
physical plans.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "car_etl_spark")

#: modules allowed to call spark.read directly: the scan wrapper itself
#: (tenancy lives there), index/store layouts (derived data, doc_id- or
#: vec_id-keyed, tenant scoping applies upstream at build), and
#: streaming state/landing readers (non-table infrastructure files)
READ_ALLOWED = {
    "tables.py",
    os.path.join("operators", "indexing.py"),
    os.path.join("operators", "multimodal.py"),   # binaryFile landing dirs
    os.path.join("operators", "ingest.py"),       # read_landed: tenant filter IS the partition predicate
    os.path.join("operators", "scale.py"),        # write_partitioned readback
    os.path.join("operators", "export.py"),       # reads back its OWN shard artifact
    os.path.join("streaming", "cdc.py"),
    os.path.join("streaming", "incremental_dedup.py"),
    os.path.join("streaming", "incremental_sketches.py"),  # reads its OWN versioned state sidecar
    os.path.join("streaming", "rollup_store.py"),  # reads its OWN aggregate state (tenant = group/partition col upstream)
    os.path.join("streaming", "jobs.py"),
}


def _py_files():
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def test_table_access_goes_through_load_tables():
    """Row-level tenancy (J7/P7) is enforced in tables.load_tables; a
    query module reading parquet directly would bypass it.  Every
    spark.read outside the allowlist is a tenancy hole."""
    offenders = []
    for path in _py_files():
        rel = os.path.relpath(path, PKG)
        if rel in READ_ALLOWED:
            continue
        src = open(path).read()
        for m in re.finditer(r"spark\s*\.\s*read(?!Stream)", src):
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"{rel}:{line}")
    assert not offenders, f"direct spark.read outside allowlist: {offenders}"


def test_no_collect_loops_in_query_modules():
    """Queries must stay declarative: .collect() belongs to the
    control plane (query-vector literal, centroids) — never inside a
    loop over data rows.  Heuristic: no 'for' iterating a collect()
    in queries/."""
    offenders = []
    qdir = os.path.join(PKG, "queries")
    for root, _dirs, files in os.walk(qdir):
        for f in files:
            if not f.endswith(".py"):
                continue
            src = open(os.path.join(root, f)).read()
            for m in re.finditer(r"for\s+\w+\s+in\s+[^\n]*\.collect\(\)", src):
                line = src[: m.start()].count("\n") + 1
                offenders.append(f"queries/{f}:{line}")
    assert not offenders, f"driver-side loops over collect() in queries: {offenders}"


def test_no_rdd_usage():
    """DataFrame-only engine: .rdd escapes whole-stage codegen and the
    optimizer; the architecture bans it outright."""
    offenders = []
    for path in _py_files():
        src = open(path).read()
        for m in re.finditer(r"\.rdd\b", src):
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"{os.path.relpath(path, PKG)}:{line}")
    assert not offenders, f".rdd usage: {offenders}"


#: directories under the repo root that hold no source: VCS data,
#: built index stores, benchmark run dirs, the Spark warehouse
_WALK_SKIP = {".git", ".cache", ".perfbench", "spark-warehouse"}


def _top_level_names(tree):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node.lineno
        elif isinstance(node, ast.Assign):
            for target in node.targets:
                for n in ast.walk(target):
                    if isinstance(n, ast.Name):
                        yield n.id, node.lineno
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            yield node.target.id, node.lineno


def test_no_unreferenced_top_level_definitions():
    """Every top-level def/class/assignment in the package is named
    somewhere in the repo's Python besides its own definition line — a
    query form, helper or constant nothing references is code nothing
    checks.  Word-boundary match, so a mention in a docstring or comment
    counts; only dunders are exempt."""
    repo = os.path.dirname(PKG)
    uses: Counter = Counter()
    for root, dirs, files in os.walk(repo):
        dirs[:] = [d for d in dirs if d not in _WALK_SKIP]
        for f in files:
            if f.endswith(".py"):
                uses.update(re.findall(r"\w+", open(os.path.join(root, f)).read()))
    offenders = []
    for path in _py_files():
        src = open(path).read()
        lines = src.split("\n")
        for name, lineno in _top_level_names(ast.parse(src)):
            if name.startswith("__") and name.endswith("__"):
                continue
            at_def = re.findall(r"\w+", lines[lineno - 1]).count(name)
            if uses[name] <= at_def:
                offenders.append(f"{os.path.relpath(path, PKG)}:{lineno} {name}")
    assert not offenders, f"unreferenced top-level definitions: {offenders}"

#!/usr/bin/env python
"""Touched-operators oracle pass (ADVICE r12 #4): the driver's
correctness gate samples only the first 50 registered queries, which
are the CDC core modules, so a rewrite of any other operator gets no
fresh gate evidence. This tool closes that gap as a one-command habit:
diff the working tree against a base ref, map changed source modules to
the query ids they register, and run the exact driver-style
Spark-vs-DuckDB comparison for those ids at sf0.01.

Usage:
    python tools/touched_oracle.py [BASE_REF] [--base REF] [--sf DIR]
                                   [extra ids...]

BASE_REF defaults to HEAD~1. Ids may also be passed explicitly to force
queries into the pass regardless of the diff. A positional arg only
counts as BASE_REF when ``git rev-parse --verify`` accepts it
(ADVICE r13 #3: a query id that merely LOOKS like a sha, e.g. the
8-char ``cf01_lww``, must land in the id list, not the diff base);
``--base`` pins the ref unambiguously.
"""

from __future__ import annotations

import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))

SF_DEFAULT = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.strip()


def _is_ref(candidate: str) -> bool:
    """True iff git accepts ``candidate`` as a commit-ish. Replaces the
    old length-in-(7,8,40) heuristic, which swallowed query ids like
    ``cf01_lww`` as the diff base (ADVICE r13 #3)."""
    return (
        subprocess.run(
            ["git", "rev-parse", "--verify", "--quiet", candidate + "^{commit}"],
            cwd=REPO, capture_output=True, text=True,
        ).returncode
        == 0
    )


def changed_modules(base: str) -> list[str]:
    """Changed .py files under the package, as import paths."""
    files = _git("diff", "--name-only", base, "--", "cdc_sync_poc_spark")
    mods = []
    for f in files.splitlines():
        if f.endswith(".py"):
            mods.append(f[: -len(".py")].replace("/", "."))
    return mods


def _importers_of(changed: set[str]) -> set[str]:
    """Changed modules plus every package module that (transitively)
    imports one of them — a rewritten HELPER must pull in the queries
    registered by its consumers, not just its own module."""
    import ast

    # the registry is the aggregator: load_all_queries imports every
    # registering module (registration side-effects, not data
    # dependencies) and every module imports register() back — leaving
    # it in the edge set makes the closure all-of-everything.
    hub = "cdc_sync_poc_spark.registry"
    pkg_root = REPO / "cdc_sync_poc_spark"
    imports: dict[str, set[str]] = {}
    for f in pkg_root.rglob("*.py"):
        mod = str(f.relative_to(REPO))[: -len(".py")].replace("/", ".")
        deps: set[str] = set()
        try:
            tree = ast.parse(f.read_text())
        except SyntaxError:
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                deps.update(a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom) and node.module:
                deps.add(node.module)
        imports[mod] = {
            d
            for d in deps
            if d.startswith("cdc_sync_poc_spark") and d != hub
        }
    imports[hub] = set()
    affected = set(changed)
    while True:
        grown = affected | {
            m for m, deps in imports.items() if deps & affected
        }
        if grown == affected:
            return affected
        affected = grown


def queries_for_modules(mods: list[str]) -> list[str]:
    """Query ids whose registered callable is defined in (or wraps a
    function from) a changed module OR any module that transitively
    imports one — a changed shared helper (e.g. llm/dedup._shingles)
    taints every consumer's queries."""
    from cdc_sync_poc_spark.registry import QUERIES, load_all_queries

    load_all_queries()
    wanted = _importers_of(set(mods))
    hits = []
    for name, fn in QUERIES.items():
        mod = getattr(fn, "__module__", "")
        inner = getattr(fn, "__wrapped__", None)
        if mod in wanted or (
            inner is not None and getattr(inner, "__module__", "") in wanted
        ):
            hits.append(name)
    return hits


def run_pass(ids: list[str], sf_dir: str) -> int:
    import duckdb
    from pyspark.sql import SparkSession

    from compare import compare_frames  # tests/compare.py

    import __spark_entry__ as e

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    qs, osql = e.queries(), e.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    ok = fail = rows_only = 0
    for name in ids:
        if name not in qs:
            print(f"SKIP {name}: not a registered query")
            continue
        try:
            got = qs[name](spark, sf_dir).toPandas()
            if name in osql:
                compare_frames(got, con.sql(osql[name]).df())
                ok += 1
                print(f"ok   {name}")
            else:
                rows_only += 1
                print(f"ok   {name} (rows-only: {len(got)} rows, no oracle)")
        except Exception as ex:  # noqa: BLE001 — report every id
            fail += 1
            print(f"FAIL {name}: {str(ex)[:300]}")
    print(
        f"touched-oracle pass: ok={ok} rows_only={rows_only} fail={fail} "
        f"(sf_dir={sf_dir})"
    )
    return 1 if fail else 0


def main(argv: list[str]) -> int:
    if "--help" in argv or "-h" in argv:
        print(__doc__)
        return 0
    base = None
    sf_dir = SF_DEFAULT
    extra: list[str] = []
    it = iter(argv)
    for a in it:
        if a == "--sf":
            sf_dir = next(it)
        elif a == "--base":
            base = next(it)
        elif base is None and not a.startswith("--") and _is_ref(a):
            base = a
        else:
            extra.append(a)
    if base is None:
        base = "HEAD~1"
    mods = changed_modules(base)
    ids = queries_for_modules(mods)
    for x in extra:
        if x not in ids:
            ids.append(x)
    print(f"base={base}  changed_modules={len(mods)}  touched_queries={len(ids)}")
    if not ids:
        print("nothing touched — no oracle pass needed")
        return 0
    return run_pass(sorted(ids), sf_dir)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

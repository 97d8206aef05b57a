"""Static screen: no reader in the package is handed a leaf-file glob.

A path pattern with a ``*`` DIRECTORY segment (``<root>/*/*.json``) is
expanded on the driver into one root path per matched file; above
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) paths
Spark re-stats them in a listing job with one task per file. Readers
take directories instead (sources/json_dir.py:read_child_dir_json), so
listing scales with directories. This screen keeps the per-file
listing from coming back through a new reader."""

from __future__ import annotations

import ast
import os
import re

import crypto_data_pipeline_spark

READERS = {"json", "parquet", "csv", "orc", "text", "load", "textFile"}
# a path segment holding a '*' that is followed by another segment
_STAR_DIR = re.compile(r"(?:^|/)[^/]*\*[^/]*/")


def _texts(node: ast.AST, bound: dict[str, list[str]]) -> list[str]:
    """The string shapes ``node`` can evaluate to, with '{}' standing in
    for interpolated or unknown parts; names resolve through every
    string bound to them in the module."""
    if isinstance(node, ast.Constant):
        return [node.value] if isinstance(node.value, str) else []
    if isinstance(node, ast.JoinedStr):
        return ["".join(v.value if isinstance(v, ast.Constant) else "{}" for v in node.values)]
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
        left, right = _texts(node.left, bound) or ["{}"], _texts(node.right, bound) or ["{}"]
        return [a + b for a in left for b in right]
    if isinstance(node, (ast.List, ast.Tuple)):
        return [t for elt in node.elts for t in _texts(elt, bound)]
    if isinstance(node, ast.Name):
        return bound.get(node.id, [])
    return []


def leaf_glob_reads(package_dir: str) -> list[str]:
    """``relpath:lineno`` of every reader call (``.json(...)``,
    ``.parquet(...)``, ...) passed a path pattern with a ``*``
    directory segment, literally or through a name bound to one."""
    hits = []
    for dirpath, _dirs, files in os.walk(package_dir):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                tree = ast.parse(f.read())
            bound: dict[str, list[str]] = {}
            for node in ast.walk(tree):
                if isinstance(node, ast.Assign) and len(node.targets) == 1 \
                        and isinstance(node.targets[0], ast.Name):
                    bound.setdefault(node.targets[0].id, []).extend(_texts(node.value, {}))
            for node in ast.walk(tree):
                if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                        and node.func.attr in READERS):
                    continue
                args = list(node.args) + [kw.value for kw in node.keywords]
                if any(_STAR_DIR.search(t) for a in args for t in _texts(a, bound)):
                    hits.append((os.path.relpath(path, package_dir), node.lineno))
    return [f"{rel}:{ln}" for rel, ln in sorted(hits)]


def test_no_reader_is_handed_a_leaf_file_glob():
    pkg = os.path.dirname(crypto_data_pipeline_spark.__file__)
    hits = leaf_glob_reads(pkg)
    assert not hits, (
        "reader handed a '*/' path pattern — pass the directories "
        f"(sources/json_dir.py:read_child_dir_json): {hits}"
    )


def test_leaf_glob_screen_detects_the_antipattern(tmp_path):
    """The screen is live: literal, f-string, concatenated and
    name-bound leaf globs are found; directory reads, file-name
    filters, single-file character classes and non-reader globs pass."""
    (tmp_path / "planted.py").write_text(
        "import glob\n"
        "def bad(spark, root):\n"
        "    a = spark.read.json(f'{root}/*/*.json')\n"  # line 3
        "    p = root + '/*/part.parquet'\n"
        "    b = spark.read.parquet(p)\n"  # line 5
        "    c = spark.readStream.schema('x int').json([root + '/day=*/x.json'])\n"  # 6
        "    return a, b, c\n"
        "def good(spark, root, dirs):\n"
        "    glob.glob('/proc/[0-9]*/stat')\n"
        "    spark.read.option('pathGlobFilter', '*.json').json(dirs)\n"
        "    spark.read.parquet(f'{root}/documents.[p]arquet')\n"
        "    return spark.read.json(f'{root}/*.json')\n"
    )
    assert leaf_glob_reads(str(tmp_path)) == ["planted.py:3", "planted.py:5", "planted.py:6"]

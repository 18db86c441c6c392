"""partitioning.py is the one owner of partition width: no other
package module reads ``defaultParallelism`` or sets the scan split size
``spark.sql.files.maxPartitionBytes``."""

import ast
import glob
import os

import mahout_samsara_book_spark as pkg

PKG_DIR = os.path.dirname(pkg.__file__)
SPLIT_CONF = "spark.sql.files.maxPartitionBytes"


def _violations(rel: str, tree: ast.AST) -> list[str]:
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "defaultParallelism":
            out.append(f"{rel}:{node.lineno} reads defaultParallelism")
        elif isinstance(node, ast.Constant) and node.value == SPLIT_CONF:
            out.append(f"{rel}:{node.lineno} names {SPLIT_CONF}")
    return out


def test_only_partitioning_decides_width():
    found = []
    for path in sorted(glob.glob(f"{PKG_DIR}/**/*.py", recursive=True)):
        rel = os.path.relpath(path, PKG_DIR)
        if rel == "partitioning.py":
            continue
        with open(path, encoding="utf-8") as fh:
            found += _violations(rel, ast.parse(fh.read(), rel))
    assert found == []


def test_scan_flags_a_stray_width_decision():
    src = (
        "n = spark.sparkContext.defaultParallelism\n"
        f"spark.conf.set('{SPLIT_CONF}', '8m')\n"
        f"builder = builder.config('{SPLIT_CONF}', '8m')\n"
    )
    assert len(_violations("operators/x.py", ast.parse(src))) == 3

"""Every top-level package function and class is reached from an entry point.

An AST scan, no Spark: a package definition must be referenced (a Name, an
Attribute or an import alias) from some non-test ``.py`` file of the repo,
outside its own definition. Code reached only from ``tests/`` is dead weight
for the engine; wire it to an entry point or delete it with its tests.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "cs588_data_science_bug_duplicate_detector_spark"

# Kept although only tests reach them: each is a reference the tests compare
# the engine against, or a fixture the tests build their inputs with.
ALLOWED = {
    "shingle_set": "pure-Python shingle reference for the Spark shingler",
    "ngram_col": "Spark-column shingler kept as a second reference for shingle_set",
    "hyperplane_udf": "row-at-a-time SimHash reference for the Arrow kernel",
    "generate_pages": "synthetic webtext fixture with planted near-dups",
    "read_csv": "reference-parity reader for the bug-report preprocessing",
    "preprocess_split": "reference-parity bug-report preprocessing",
    "dataset_stats": "reference-parity bug-report statistics",
    "retrieval_metrics": "all-pairs retrieval reference for the metrics tests",
}


def _py_files():
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith(".") and d != "__pycache__"]
        for f in filenames:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _names(nodes):
    """Names referenced by Name, Attribute and import alias nodes."""
    out = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.rsplit(".", 1)[-1])
    return out


def _unreached(allowed=ALLOWED):
    tests_dir = os.path.join(ROOT, "tests") + os.sep
    trees = {p: _parse(p) for p in _py_files() if not p.startswith(tests_dir)}
    names = {p: _names(t.body) for p, t in trees.items()}
    pkg_dir = os.path.join(ROOT, PACKAGE) + os.sep
    defs = ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef
    unreached = []
    for path, tree in trees.items():
        if not path.startswith(pkg_dir):
            continue
        for node in tree.body:
            if not isinstance(node, defs) or node.name in allowed:
                continue
            if node.name in _names(n for n in tree.body if n is not node):
                continue
            if any(node.name in names[p] for p in trees if p != path):
                continue
            unreached.append((os.path.relpath(path, ROOT), node.lineno, node.name))
    return sorted(unreached)


def test_every_package_definition_is_reached_outside_tests():
    unreached = _unreached()
    assert not unreached, "reached only from tests (wire to an entry point, or delete):\n" + \
        "\n".join(f"{path}:{line} {name}" for path, line, name in unreached)


def test_allow_list_names_only_unreached_definitions():
    # an entry that is gone, or that an entry point now reaches, is stale
    assert {name for _, _, name in _unreached(allowed=())} == set(ALLOWED)

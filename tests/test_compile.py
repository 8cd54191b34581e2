"""Every program file compiles with warnings raised as errors.

No Spark: the package, ``scripts/`` and the repo-root scripts are compiled
from source under ``warnings.simplefilter("error")``. An invalid escape
sequence in a non-raw string literal (``'\\s'`` in an f-string of SQL) is a
warning today and a syntax error in later Pythons; here it fails at once.
"""

import os
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "cs588_data_science_bug_duplicate_detector_spark"


def _program_files():
    for top in (PACKAGE, "scripts"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            yield from (os.path.join(dirpath, f) for f in filenames if f.endswith(".py"))
    yield from (os.path.join(ROOT, f) for f in os.listdir(ROOT) if f.endswith(".py"))


def test_program_files_compile_without_warnings():
    files = sorted(_program_files())
    assert any(f.endswith(os.path.join("functions", "portable.py")) for f in files)
    failed = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(src, path, "exec")
            except (SyntaxError, Warning) as e:
                failed.append(f"{os.path.relpath(path, ROOT)}: {e}")
    assert not failed, "\n".join(failed)

"""Single-doc duplicate inspection CLI (≙ the reference's
inference_comparison.py entry point: top-k candidates with ✓ DUPLICATE
truth marks).

Usage:
    python scripts/inspect_doc.py <corpus.parquet> <doc_id> [k] [--labels labels.parquet]
    python scripts/inspect_doc.py <corpus.parquet> <doc_id> --compare num_perm=32,bands=8

The corpus parquet needs (doc_id, text); labels (optional) needs
(doc_id|id, cluster_id) — e.g. a component_labels pipeline checkpoint —
and provides the truth marks. ``--compare`` renders the side-by-side
two-configuration diff (≙ inference_baseline_vs_trained.py): the
alternate config's fields are comma-separated ``key=value`` overrides of
DedupConfig, shown against the production default.
"""

from __future__ import annotations

import argparse
import ast
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig
from cs588_data_science_bug_duplicate_detector_spark.operators.inspect import (
    compare_configs,
    inspect_doc,
)
from cs588_data_science_bug_duplicate_detector_spark.session import get_spark


def _parse_cfg(spec: str) -> DedupConfig:
    """key=value,... overrides of DedupConfig. Values go through
    ast.literal_eval so bool ("false" via "False"/"0"->int->bool is wrong;
    literal False/True/0/1 parse correctly) and tuple fields (e.g.
    k_values=(1,5)) round-trip instead of string-coercing char-by-char;
    bare strings (shingle_mode=char) fall back to the raw text."""
    defaults = DedupConfig()
    fields = {}
    # split on commas at bracket depth 0 only, so k_values=(1,5) stays whole
    parts, depth, cur = [], 0, []
    for ch in spec:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    for kv in parts:
        k, v = kv.split("=", 1)
        k = k.strip()
        want = type(getattr(defaults, k))
        try:
            val = ast.literal_eval(v.strip())
        except (ValueError, SyntaxError):
            val = v.strip()
        if want is bool and not isinstance(val, bool):
            if isinstance(val, str):
                val = val.lower() in ("true", "1", "yes")
            else:
                val = bool(val)
        elif want is tuple and not isinstance(val, tuple):
            val = tuple(val) if isinstance(val, (list, set)) else (val,)
        elif want in (int, float, str) and not isinstance(val, want):
            val = want(val)
        fields[k] = val
    return DedupConfig(**fields)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("corpus")
    p.add_argument("doc_id", type=int)
    p.add_argument("k", nargs="?", type=int, default=20)
    p.add_argument("--labels", default=None)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--compare", default=None, metavar="key=val,...",
                   help="DedupConfig overrides for a side-by-side diff vs the default")
    args = p.parse_args()

    spark = get_spark("inspect-doc")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(args.corpus)
    labels = spark.read.parquet(args.labels) if args.labels else None
    if args.compare:
        print(
            compare_configs(
                docs, args.id_col, args.text_col, args.doc_id,
                _parse_cfg(args.compare), DedupConfig(), args.k, labels=labels,
                name_a=f"ALT ({args.compare})", name_b="PRODUCTION DEFAULT",
            )
        )
    else:
        print(
            inspect_doc(
                docs, args.id_col, args.text_col, args.doc_id,
                DedupConfig(), args.k, labels=labels,
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()

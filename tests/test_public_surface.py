"""The public surface of the lake-index modules, pinned: every public
callable defined in the six index modules and ``pairing.py`` keeps the
``inspect.signature`` recorded in ``tests/golden/index_public_signatures.json``.
A refactor of the shared index kernel must not change it; an intended
API change regenerates the golden with the same rule as ``_surface``."""

import importlib
import inspect
import json
from pathlib import Path

GOLDEN = Path(__file__).parent / "golden" / "index_public_signatures.json"

MODULES = [
    "ann_index", "cluster_index", "dedup_index", "emb_dedup_index",
    "pairing", "semantic_dedup_index", "simhash_index",
]


def _surface() -> dict:
    """``{"<module>.<name>": signature}`` of every public callable a
    module defines (re-exports excluded); a class without a Python
    signature (a warning or error type) records its bases."""
    out = {}
    for m in MODULES:
        mod = importlib.import_module(f"chronicles_spark.operators.{m}")
        for name, obj in sorted(vars(mod).items()):
            if name.startswith("_") or not callable(obj):
                continue
            if getattr(obj, "__module__", None) != mod.__name__:
                continue
            try:
                sig = str(inspect.signature(obj))
            except ValueError:
                sig = "(" + ", ".join(b.__name__ for b in obj.__bases__) + ")"
            out[f"{m}.{name}"] = sig
    return out


def test_index_public_signatures_match_golden():
    want = json.loads(GOLDEN.read_text())
    got = _surface()
    assert sorted(got) == sorted(want), (
        sorted(set(got) ^ set(want))
    )
    changed = {k: (want[k], got[k]) for k in want if got[k] != want[k]}
    assert not changed, changed

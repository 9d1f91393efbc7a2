"""Fold handlers for the fold_scan projection.

They live in an importable module on purpose: Spark's Python workers
import module-level functions by reference, so the benchmark puts the
checkout root on ``PYTHONPATH`` and the workers import ``perfbench``.

State is integer cents, so the fold and its pandas reference agree
exactly whatever order the additions run in.
"""


def init():
    return {"n": 0, "cents": 0}


def _cents(e) -> int:
    return int(round(float(e["meta"]["value"]) * 100))


def purchase(s, e):
    return {"n": s["n"] + 1, "cents": s["cents"] + _cents(e)}


def error(s, e):
    return {"n": s["n"] + 1, "cents": s["cents"] - _cents(e)}

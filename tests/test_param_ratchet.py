"""Ratchet on defaulted parameters per engine module (no Spark).

An option no production caller sets is a module constant, not a
defaulted parameter; a test that needs another value monkeypatches the
constant. This test pins each module's count of defaulted parameters
(positional and keyword-only defaults of every ``def`` and ``lambda``,
counted with ``ast``) at a ceiling, so a count can fall but never rise.
A module missing from ``CEILINGS`` has a ceiling of 0. When a change
lowers a count, lower its ceiling here too.
"""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "udacitydatawarehouseprj_spark"

CEILINGS = {
    "operators/dedup": 2,
    "operators/graph": 12,
    "operators/layout": 23,
    "operators/multimodal": 21,
    "operators/relational": 9,
    "operators/similarity": 3,
    "operators/skew": 2,
    "operators/temporal": 1,
    "operators/textops": 35,
    "pipeline": 3,
    "plans/star_schema": 6,
    "queries": 15,
    "session": 5,
    "sources/binary_source": 4,
    "sources/csv_source": 1,
    "sources/json_source": 2,
    "sources/sinks": 4,
    "streaming/events_stream": 2,
}


def defaulted_params(source: str) -> int:
    """Defaulted parameters of every function and lambda in ``source``."""
    n = 0
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            args = node.args
            n += len(args.defaults) + sum(d is not None for d in args.kw_defaults)
    return n


def over_ceiling(counts: dict[str, int]) -> dict[str, tuple[int, int]]:
    """``{module: (count, ceiling)}`` for each module above its ceiling."""
    return {
        mod: (n, CEILINGS.get(mod, 0))
        for mod, n in counts.items()
        if n > CEILINGS.get(mod, 0)
    }


def package_counts() -> dict[str, int]:
    return {
        path.relative_to(PACKAGE).with_suffix("").as_posix():
            defaulted_params(path.read_text(encoding="utf-8"))
        for path in sorted(PACKAGE.rglob("*.py"))
    }


def test_no_module_exceeds_its_defaulted_parameter_ceiling():
    assert over_ceiling(package_counts()) == {}


def test_ceilings_name_existing_modules():
    assert set(CEILINGS) <= set(package_counts())


def test_ratchet_fires_on_a_planted_default():
    counts = package_counts()
    planted = (PACKAGE / "operators" / "dedup.py").read_text(encoding="utf-8")
    planted += "\n\ndef planted(df, id_col='doc_id', *, k=3):\n    return df\n"
    counts["operators/dedup"] = defaulted_params(planted)
    counts["operators/new_module"] = defaulted_params("f = lambda x=1: x\n")
    assert over_ceiling(counts) == {
        "operators/dedup": (CEILINGS["operators/dedup"] + 2, CEILINGS["operators/dedup"]),
        "operators/new_module": (1, 0),
    }

"""Static guard against hidden knobs in ``lbf_spark``.

Decisions travel as values — module constants, arguments, return
values. Two hidden forms are refused: an ``LBF_*`` environment read
outside ``session.py`` (the one module that reads deployment
settings), and a fact stashed on an object as a ``_lbf_*`` attribute
(a DataFrame attribute is silently dropped by any caller's
``.select()``)."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "lbf_spark"


def _is_environ(node) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _const_str(node, prefix: str) -> bool:
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith(prefix)
    )


def hidden_knobs(source: str) -> list[tuple[int, str]]:
    """``(line, what)`` for every ``LBF_*`` environment access and
    every ``_lbf_*`` attribute assignment in ``source``."""
    found = []
    for node in ast.walk(ast.parse(source)):
        keys = []
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name == "getenv" or (
                isinstance(f, ast.Attribute) and _is_environ(f.value)
            ):
                keys = node.args[:1]
            elif name == "setattr" and len(node.args) > 1 and _const_str(
                node.args[1], "_lbf_"
            ):
                found.append((node.lineno, f"sets {node.args[1].value}"))
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            keys = [node.slice]
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            keys = [node.left]
        elif (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Store)
            and node.attr.startswith("_lbf_")
        ):
            found.append((node.lineno, f"sets {node.attr}"))
        found += [
            (node.lineno, f"reads {k.value}") for k in keys if _const_str(k, "LBF_")
        ]
    return sorted(found)


def test_no_hidden_knobs_in_package():
    sample = "\n".join([
        "import os",
        'a = os.environ.get("LBF_A", "1")',
        'b = os.getenv("LBF_B")',
        'c = os.environ["LBF_C"]',
        'd = "LBF_D" in os.environ',
        "df._lbf_regime = True",
        'setattr(df, "_lbf_other", 1)',
        'ok = os.environ.get("HOME"), df._lbf_regime',
    ])
    assert hidden_knobs(sample) == [
        (2, "reads LBF_A"), (3, "reads LBF_B"), (4, "reads LBF_C"),
        (5, "reads LBF_D"), (6, "sets _lbf_regime"), (7, "sets _lbf_other"),
    ]
    offenders = [
        f"{path.relative_to(PKG.parent)}:{line}: {what}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "session.py"
        for line, what in hidden_knobs(path.read_text())
    ]
    assert offenders == []

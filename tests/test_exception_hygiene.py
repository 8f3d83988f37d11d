"""No broad exception handler swallows a failure silently: every bare
``except``, ``except Exception`` or ``except BaseException`` in the
package either re-raises or carries a ``# noqa: BLE001 — <reason>``
comment on its ``except`` line saying why dropping the error is right
there (the idiom of api.py's retry classifier and rpc_fetch's endpoint
rotation)."""

from __future__ import annotations

import ast
import os
import re

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "zigchain_indexer_clickhouse_spark")
_BROAD = {"Exception", "BaseException"}
_REASON = re.compile(r"#\s*noqa:\s*BLE001\s*[—-]+\s*\S")


def _is_broad(handler: ast.ExceptHandler) -> bool:
    t = handler.type
    if t is None:
        return True
    names = t.elts if isinstance(t, ast.Tuple) else [t]
    return any(isinstance(n, ast.Name) and n.id in _BROAD for n in names)


def _reraises(handler: ast.ExceptHandler) -> bool:
    return any(isinstance(n, ast.Raise) for n in ast.walk(handler))


def silent_broad_handlers(source: str, path: str = "<src>") -> list[str]:
    """``path:line`` of every broad handler that neither re-raises nor
    gives a reason on its ``except`` line."""
    lines = source.splitlines()
    out = []
    for node in ast.walk(ast.parse(source)):
        if (isinstance(node, ast.ExceptHandler) and _is_broad(node)
                and not _reraises(node)
                and not _REASON.search(lines[node.lineno - 1])):
            out.append(f"{path}:{node.lineno}")
    return out


def test_package_has_no_silent_broad_handler():
    offenders = []
    for root, _dirs, files in os.walk(_PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                with open(p) as fh:
                    offenders += silent_broad_handlers(
                        fh.read(), os.path.relpath(p, _PKG))
    assert not offenders, (
        "broad except without a re-raise or a `# noqa: BLE001 — <reason>` "
        f"comment: {offenders}")


def test_checker_flags_each_silent_form():
    silent = [
        "try:\n    f()\nexcept:\n    pass\n",
        "try:\n    f()\nexcept Exception:\n    pass\n",
        "try:\n    f()\nexcept BaseException:\n    x = 1\n",
        "try:\n    f()\nexcept (ValueError, Exception):\n    pass\n",
        # a noqa without a reason does not count
        "try:\n    f()\nexcept Exception:  # noqa: BLE001\n    pass\n",
    ]
    for src in silent:
        assert silent_broad_handlers(src), src
    allowed = [
        "try:\n    f()\nexcept Exception:\n    cleanup()\n    raise\n",
        "try:\n    f()\nexcept Exception as e:\n"
        "    raise RuntimeError() from e\n",
        "try:\n    f()\nexcept Exception:  # noqa: BLE001 — best effort\n"
        "    pass\n",
        "try:\n    f()\nexcept ValueError:\n    pass\n",
    ]
    for src in allowed:
        assert not silent_broad_handlers(src), src

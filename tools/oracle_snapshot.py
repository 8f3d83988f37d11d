"""Oracle-text snapshot — the re-verification hygiene gate.

Round 7 shipped a widened `msg_registry_decode` oracle with an engine
that still computed the old semantics; the driver's 50-query sample
happened not to draw it, so a green CORRECTNESS file masked a broken
tree for a whole round. This tool closes that hole: the committed
snapshot (`tools/oracle_snapshot.json`) records a sha256 of every
registered oracle's text, and `tests/test_registry_hygiene.py` fails
the suite whenever a live oracle differs from the snapshot. The ONLY
way to refresh the snapshot is `--update`, which first re-runs the
local correctness gate on exactly the changed/added operators — so an
oracle-semantics change cannot reach a commit without a same-session
green gate line for that operator.

The snapshot is also the single home of RE-VERIFICATION POLICY
(VERDICT r8 item 8 — this superseded the registry's hardcoded
`_REVERIFY_R04/_R06` frozensets): each entry records
``reverify_after`` — the highest driver round whose CORRECTNESS rows
describe the OLD semantics. A driver row only counts as verification
for ordering purposes when its round is greater, so a query whose
oracle just changed drops back into the never-verified-first tier
until the driver re-draws it, even though ``--update`` already
re-gated it locally.

Usage:
    python tools/oracle_snapshot.py                # report drift
    python tools/oracle_snapshot.py --update [sf_dir]   # gate + rewrite
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SNAPSHOT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "oracle_snapshot.json")


def current_hashes() -> dict[str, str]:
    from zigchain_indexer_clickhouse_spark.plans import registry

    oracles = registry.oracles()
    out = {}
    for name in sorted(registry.queries()):
        text = oracles.get(name)
        out[name] = (
            hashlib.sha256(text.encode()).hexdigest()[:16]
            if text is not None
            else "rows-only"
        )
    return out


_PKG = "zigchain_indexer_clickhouse_spark"
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _source(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def _module_path(name: str) -> str | None:
    """File of an intra-package module (or package ``__init__``), or
    None when ``name`` is not a module (an imported function/class)."""
    base = os.path.join(_ROOT, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _imports(path: str) -> set[str]:
    """Intra-package modules named by any import statement in ``path``,
    function-local imports included. ``from pkg.a import b`` names
    ``pkg.a`` and, when ``b`` is itself a module, ``pkg.a.b``. The
    registry's ``import_module`` strings are not statements, so the
    registry does not pull every operator module into every closure."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(_source(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return {n for n in names
            if n.split(".")[0] == _PKG and _module_path(n) is not None}


def _data_files(path: str) -> list[str]:
    """Non-Python files beside module ``path`` that its source names as
    a string literal: the sources it loads at run time, such as the C
    kernel ``functions/native_walk.c`` that ``native_registry`` compiles."""
    here = os.path.dirname(path)
    names = {node.value for node in ast.walk(ast.parse(_source(path)))
             if isinstance(node, ast.Constant) and isinstance(node.value, str)
             and not node.value.endswith(".py")}
    return sorted(os.path.join(here, n) for n in names
                  if os.path.basename(n) == n
                  and os.path.isfile(os.path.join(here, n)))


def _closure_hash(module: str, memo: dict[str, str]) -> str:
    """sha256 (16 hex) over ``module`` and every intra-package module it
    imports, transitively, in module-name order, each followed by the
    data files it names (:func:`_data_files`)."""
    h = memo.get(module)
    if h is None:
        seen, todo = set(), [module]
        while todo:
            m = todo.pop()
            if m not in seen:
                seen.add(m)
                todo.extend(_imports(_module_path(m)))
        digest = hashlib.sha256()
        for m in sorted(seen):
            path = _module_path(m)
            digest.update(m.encode() + b"\0" + _source(path))
            for f in _data_files(path):
                digest.update(b"\0" + os.path.basename(f).encode() + b"\0"
                              + _source(f))
        h = memo[module] = digest.hexdigest()[:16]
    return h


def current_impl_hashes() -> dict[str, str]:
    """name → sha256 (16 hex) of the operator's DEFINING MODULE source
    plus every intra-package module it imports, transitively.

    The implementation-dirtiness signal (VERDICT r12 next #2b): round 12
    rewrote q21_sole_failing_supplier and ingest_pipeline_full without
    touching their oracles, and the staleness rotation — keyed only on
    driver-verified rounds — sent both to the tail of the sample, so the
    rewrites shipped without a driver-level hash check. Hashing the
    implementation closes that hole the same way the oracle hash does:
    any edit to a module flags every operator it defines or that
    imports it (directly or through another module), the hygiene test
    fails until ``--update`` re-gates them locally, and the stamped
    ``reverify_after`` drops them into the never-verified-first tier so
    the next driver sample re-draws them. A shared helper's edit (a
    decoder in functions/, ``catalog._shared_stage``) therefore
    re-gates its callers, not only its own module's operators.
    """
    from zigchain_indexer_clickhouse_spark.plans import registry

    memo: dict[str, str] = {}
    return {name: _closure_hash(fn.__module__, memo)
            for name, fn in registry.queries().items()}


def load_snapshot() -> dict[str, dict]:
    """Snapshot entries: {name: {"hash": str, "reverify_after": int}}.
    Legacy flat-string entries (pre-r9) migrate in memory with
    reverify_after 0."""
    if not os.path.exists(SNAPSHOT):
        return {}
    with open(SNAPSHOT) as f:
        raw = json.load(f)
    return {
        n: (v if isinstance(v, dict) else {"hash": v, "reverify_after": 0})
        for n, v in raw.items()
    }


def drift(cur: dict[str, str], snap: dict[str, dict],
          impl: dict[str, str] | None = None) -> list[str]:
    """Names whose oracle text OR implementation source (defining
    module plus its intra-package imports) changed (or that are new)
    since the snapshot. Entries written before the impl
    field existed (pre-r13) carry no ``impl`` and are not impl-checked
    until the next ``--update`` stamps them."""
    out = []
    for n, h in cur.items():
        ent = snap.get(n, {})
        if ent.get("hash") != h:
            out.append(n)
        elif (impl is not None and "impl" in ent
              and ent["impl"] != impl.get(n)):
            out.append(n)
    return out


def max_artifact_round() -> int:
    """Highest round number among the repo's CORRECTNESS_r*.json —
    rows at or below it predate any oracle change made this session."""
    import glob
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = [int(m.group(1))
              for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
              if (m := re.search(r"r(\d+)", os.path.basename(f)))]
    return max(rounds, default=0)


def main() -> int:
    update = "--update" in sys.argv
    args = [a for a in sys.argv[1:] if a != "--update"]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"

    cur = current_hashes()
    impl = current_impl_hashes()
    snap = load_snapshot()
    changed = drift(cur, snap, impl)
    removed = sorted(set(snap) - set(cur))
    # first run after the impl field lands: stamp legacy entries
    # without treating them as drift (their code predates the baseline)
    needs_impl_stamp = any("impl" not in snap.get(n, {"impl": ""})
                           for n in cur)

    if not changed and not removed and not needs_impl_stamp:
        print(f"snapshot current: {len(cur)} oracles, no drift")
        return 0
    print(f"drifted/new: {changed}")
    if removed:
        print(f"removed: {removed}")
    if not update:
        print("run with --update to re-gate the changed operators and "
              "refresh the snapshot")
        return 1

    # Gate first: the changed operators must pass the local oracle
    # check before the snapshot will record their new text.
    gate_names = [n for n in changed if cur[n] != "rows-only"]
    if gate_names:
        cmd = [sys.executable, "tools/check_correctness.py", sf_dir,
               *gate_names]
        print("gating:", " ".join(cmd))
        proc = subprocess.run(cmd, cwd=os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))))
        if proc.returncode != 0:
            print("GATE FAILED — snapshot NOT updated")
            return proc.returncode
    # Changed names get reverify_after = the current max artifact
    # round: every existing driver row predates the new semantics, so
    # only a LATER round's green row re-verifies them for ordering.
    cutoff = max_artifact_round()
    out = {
        n: {
            "hash": h,
            "impl": impl[n],
            "reverify_after": (cutoff if n in changed
                               else snap[n]["reverify_after"]),
        }
        for n, h in cur.items()
    }
    with open(SNAPSHOT, "w") as f:
        json.dump(out, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"snapshot updated: {len(out)} oracles "
          f"({len(changed)} re-gated green, reverify_after={cutoff})")
    return 0


if __name__ == "__main__":
    sys.exit(main())

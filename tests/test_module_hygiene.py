"""Module hygiene: no operator module may assign the same module-level
ALL_CAPS constant twice. Oracle SQL strings bake constants at decoration
time but Spark function bodies read module globals at CALL time, so a
later re-assignment silently desynchronizes every earlier op that used
the name (round-5 incident: a second PMI_TOPK at the bottom of textops.py
flipped text_pmi_pairs' LIMIT from 50 to 20 while its oracle kept 50)."""

from __future__ import annotations

import ast
import glob
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "repcheck_data_integration_spark",
)


def _toplevel_constant_assignments(path: str) -> dict[str, int]:
    tree = ast.parse(open(path).read())
    seen: dict[str, int] = {}
    for node in tree.body:
        targets = []
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets = [node.target]
        for t in targets:
            if isinstance(t, ast.Name) and t.id.isupper():
                seen[t.id] = seen.get(t.id, 0) + 1
    return seen


def test_no_duplicate_module_constants():
    offenders = []
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        for name, n in _toplevel_constant_assignments(path).items():
            if n > 1:
                offenders.append(f"{os.path.relpath(path, PKG)}:{name} x{n}")
    assert not offenders, (
        "module-level constants assigned more than once (later assignment"
        " shadows every earlier op's call-time read): " + ", ".join(offenders)
    )


def _struct_argmaxes(path: str) -> list[int]:
    """Lines of ``F.min``/``F.max`` calls over an ``F.struct(...)`` call or
    over a name the module binds to one."""
    def is_f(node, names) -> bool:
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in names
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
        )

    nodes = list(ast.walk(ast.parse(open(path).read())))
    structs = {
        t.id
        for n in nodes
        if isinstance(n, ast.Assign) and is_f(n.value, ("struct",))
        for t in n.targets
        if isinstance(t, ast.Name)
    }
    return [
        n.lineno
        for n in nodes
        if is_f(n, ("min", "max"))
        and any(
            is_f(a, ("struct",)) or isinstance(a, ast.Name) and a.id in structs
            for a in n.args
        )
    ]


def test_struct_argmax_only_in_top1():
    """Every top-1-per-group pick goes through functions/top1.py, which
    owns the key negation, NULL/NaN placement and field decoding that a
    hand-built min/max(struct) has to restate."""
    own = os.path.join(PKG, "functions", "top1.py")
    offenders = [
        f"{os.path.relpath(path, PKG)}:{line}"
        for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
        if path != own
        for line in _struct_argmaxes(path)
    ]
    assert not offenders, (
        "min/max over a struct outside functions/top1.py (use top1.Top1): "
        + ", ".join(offenders)
    )


# the epoch-fold sink (streaming/stream_ops.py): the only functions that may
# check the replay guard, commit an epoch or start a foreachBatch query
EPOCH_FOLD_OWNERS = {"fold_epoch", "start_foreach_batch"}
EPOCH_FOLD_CALLS = {
    "rollup_applied_epoch", "commit_epoch_version", "foreachBatch"
}


def _epoch_fold_calls(path: str) -> list[tuple[str | None, int]]:
    """(enclosing top-level function, line) of every call to the replay
    guard, the epoch commit or ``.foreachBatch``."""
    found = []

    def visit(node, owner):
        for child in ast.iter_child_nodes(node):
            if owner is None and isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = (
                    f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute)
                    else None
                )
                if name in EPOCH_FOLD_CALLS:
                    found.append((owner, child.lineno))
            visit(child, owner)

    visit(ast.parse(open(path).read()), None)
    return found


def test_epoch_fold_only_in_shared_sink():
    """Every foreachBatch maintainer folds through stream_ops.fold_epoch
    (replay guard → prior read → fold → commit) and starts through
    stream_ops.start_foreach_batch; a maintainer that spells the guard,
    the commit or the starter itself drifts from the one contract."""
    own = os.path.join(PKG, "streaming", "stream_ops.py")
    offenders = [
        f"{os.path.relpath(path, PKG)}:{line}"
        for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
        for owner, line in _epoch_fold_calls(path)
        if path != own or owner not in EPOCH_FOLD_OWNERS
    ]
    assert not offenders, (
        "replay guard / epoch commit / foreachBatch outside"
        " stream_ops.fold_epoch and start_foreach_batch: "
        + ", ".join(offenders)
    )

"""Module hygiene: no operator module may assign the same module-level
ALL_CAPS constant, or define the same top-level function or class, twice.
Oracle SQL strings bake constants at decoration time but Spark function
bodies read module globals at CALL time, so a later re-binding silently
desynchronizes every earlier op that used the name (round-5 incident: a
second PMI_TOPK at the bottom of textops.py flipped text_pmi_pairs' LIMIT
from 50 to 20 while its oracle kept 50). Modules are named for their
subject, and their imports come before their code."""

from __future__ import annotations

import ast
import glob
import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "repcheck_data_integration_spark",
)


def _toplevel_constant_assignments(path: str) -> dict[str, int]:
    """Binding count of each module-level ALL_CAPS constant and each
    top-level ``def`` / ``class`` name."""
    tree = ast.parse(open(path).read())
    seen: dict[str, int] = {}
    for node in tree.body:
        targets = []
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets = [node.target]
        names = [
            t.id for t in targets if isinstance(t, ast.Name) and t.id.isupper()
        ]
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names = [node.name]
        for n in names:
            seen[n] = seen.get(n, 0) + 1
    return seen


def test_no_duplicate_module_constants():
    offenders = []
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        for name, n in _toplevel_constant_assignments(path).items():
            if n > 1:
                offenders.append(f"{os.path.relpath(path, PKG)}:{name} x{n}")
    assert not offenders, (
        "module-level constants, functions or classes bound more than once"
        " (the later binding shadows every earlier op's call-time read): "
        + ", ".join(offenders)
    )


def _imports_after_code(path: str) -> list[int]:
    """Lines of module-level imports that follow the first statement that
    is neither an import nor the module docstring."""
    body = ast.parse(open(path).read()).body
    if body and isinstance(body[0], ast.Expr) and isinstance(
        body[0].value, ast.Constant
    ):
        body = body[1:]
    imports = (ast.Import, ast.ImportFrom)
    code = [i for i, n in enumerate(body) if not isinstance(n, imports)]
    after = body[code[0]:] if code else []
    return [n.lineno for n in after if isinstance(n, imports)]


def test_imports_precede_code():
    """A module-level import after code hides a dependency in the middle of
    a module and makes its binding depend on how far the module has run;
    every package module imports at the top."""
    offenders = [
        f"{os.path.relpath(path, PKG)}:{line}"
        for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
        for line in _imports_after_code(path)
    ]
    assert not offenders, "module-level import after code: " + ", ".join(
        offenders
    )


# round-named test files whose tests still wait for a move to the test
# file of the module each exercises; the list only shrinks
ROUND_TEST_FILES = {
    "test_round3_ops.py",
    "test_round4_ops.py",
    "test_round4c_ops.py",
    "test_round4d_props.py",
    "test_round4e_ops.py",
    "test_round5_ops.py",
    "test_round5b_ops.py",
}


def test_modules_named_by_subject():
    """Operator modules and test files are named for their subject, not for
    the round that added them."""
    tests_dir = os.path.dirname(os.path.abspath(__file__))
    offenders = [
        os.path.relpath(path, PKG)
        for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
        if re.fullmatch(r"statsml\d*\.py", os.path.basename(path))
    ] + [
        os.path.basename(path)
        for pattern in ("test_round*.py", "test_statsml*.py")
        for path in glob.glob(os.path.join(tests_dir, pattern))
        if os.path.basename(path) not in ROUND_TEST_FILES
    ]
    assert not offenders, "round-named module or test file: " + ", ".join(
        offenders
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


def _local_decimal_sums(path: str) -> list[int]:
    """Lines of a function named ``dsum`` and of a ``.cast("double")``
    applied directly to ``F.sum(<arg>.cast("decimal(38,0)"))``. A sum of
    a product (``F.sum(x.cast(dec) * y)``) is not matched."""
    def is_cast(node, to) -> bool:
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "cast"
            and len(node.args) == 1
            and isinstance(node.args[0], ast.Constant)
            and str(node.args[0].value).replace(" ", "").lower() == to
        )

    def is_decimal_sum(node) -> bool:
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "sum"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
            and len(node.args) == 1
            and is_cast(node.args[0], "decimal(38,0)")
        )

    return [
        n.lineno
        for n in ast.walk(ast.parse(open(path).read()))
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        and n.name == "dsum"
        or is_cast(n, "double")
        and is_decimal_sum(n.func.value)
    ]


def test_decimal_sum_only_in_exact():
    """Every DOUBLE-valued exact integral sum goes through
    functions/exact.dec_sum, the one place that picks the DECIMAL(38,0)
    accumulator, so no local copy can drift back to a LONG sum that
    wraps past Long.MAX."""
    own = os.path.join(PKG, "functions", "exact.py")
    offenders = [
        f"{os.path.relpath(path, PKG)}:{line}"
        for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
        if path != own
        for line in _local_decimal_sums(path)
    ]
    assert not offenders, (
        "local DECIMAL(38,0) sum outside functions/exact.py"
        " (use exact.dec_sum): " + ", ".join(offenders)
    )


# the epoch-fold sink (streaming/stream_ops.py): the only functions that may
# check the replay guard, commit an epoch or start a foreachBatch query
EPOCH_FOLD_OWNERS = {"fold_epoch", "start_foreach_batch"}
EPOCH_FOLD_CALLS = {
    "rollup_applied_epoch", "commit_epoch_version", "foreachBatch"
}


def _owned_calls(src: str):
    """Yield (enclosing top-level function or None, call node) for every
    call in a module's source."""
    def visit(node, owner):
        for child in ast.iter_child_nodes(node):
            if owner is None and isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                yield from visit(child, child.name)
                continue
            if isinstance(child, ast.Call):
                yield owner, child
            yield from visit(child, owner)

    yield from visit(ast.parse(src), None)


def _epoch_fold_calls(path: str) -> list[tuple[str | None, int]]:
    """(enclosing top-level function, line) of every call to the replay
    guard, the epoch commit or ``.foreachBatch``."""
    found = []
    for owner, call in _owned_calls(open(path).read()):
        f = call.func
        name = (
            f.id if isinstance(f, ast.Name)
            else f.attr if isinstance(f, ast.Attribute)
            else None
        )
        if name in EPOCH_FOLD_CALLS:
            found.append((owner, call.lineno))
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


WORD_RES = {"TOKEN_RE", "TOK_RE", "[a-z0-9]+"}


def _word_regex_calls(path: str) -> list[tuple[str | None, int]]:
    """(enclosing top-level function, line) of every Spark-side word
    tokenization spelled out: ``F.regexp_extract_all`` whose pattern is
    the word regex (by name or literal), and ``F.expr`` / ``selectExpr``
    text that calls ``regexp_extract_all`` with it. Oracle SQL is not an
    argument of either call and is left alone."""
    src = open(path).read()
    found = []

    def names_word_re(node) -> bool:
        return any(
            isinstance(n, ast.Name) and n.id in WORD_RES
            or isinstance(n, ast.Constant) and n.value in WORD_RES
            for n in ast.walk(node)
        )

    for owner, call in _owned_calls(src):
        if not isinstance(call.func, ast.Attribute):
            continue
        attr = call.func.attr
        if attr == "regexp_extract_all" and any(
            names_word_re(a) for a in call.args[1:2]
        ):
            found.append((owner, call.lineno))
        elif attr in ("expr", "selectExpr") and any(
            "regexp_extract_all" in seg and any(w in seg for w in WORD_RES)
            for a in call.args
            for seg in [ast.get_source_segment(src, a) or ""]
        ):
            found.append((owner, call.lineno))
    return found


def test_word_tokenizer_only_in_dedup_tokens():
    """Every Spark-side word tokenization goes through dedup.tokens, the
    one home of the word regex, so no copy can drift from TOKEN_RE."""
    own = os.path.join(PKG, "operators", "dedup.py")
    offenders = [
        f"{os.path.relpath(path, PKG)}:{line}"
        for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
        for owner, line in _word_regex_calls(path)
        if path != own or owner != "tokens"
    ]
    assert not offenders, (
        "word regex outside dedup.tokens (use tokens(F.col(...))): "
        + ", ".join(offenders)
    )


def test_shingles_take_a_column_reference():
    """``shingles_from_tokens`` reads its token array once per lambda
    element, so its argument must be a projected column (``F.col``): an
    inlined tokenizer expression re-runs the regex per element (the
    source-overlap shingle set took ~9 s instead of ~1 s at sf0.1)."""
    offenders = []
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        for n in ast.walk(ast.parse(open(path).read())):
            if not (
                isinstance(n, ast.Call)
                and getattr(n.func, "id", getattr(n.func, "attr", None))
                == "shingles_from_tokens"
            ):
                continue
            arg = n.args[0] if n.args else None
            if not (
                isinstance(arg, ast.Call)
                and isinstance(arg.func, ast.Attribute)
                and arg.func.attr == "col"
                and isinstance(arg.func.value, ast.Name)
                and arg.func.value.id == "F"
            ):
                offenders.append(f"{os.path.relpath(path, PKG)}:{n.lineno}")
    assert not offenders, (
        "shingles_from_tokens given an expression, not F.col(...): "
        + ", ".join(offenders)
    )


def _shingle_explodes(path: str) -> list[tuple[str | None, int, str]]:
    """(enclosing top-level function, line, call) of every ``explode`` /
    ``posexplode`` of the shingle column (``"sh"`` or ``F.col("sh")``) and
    every ``minhash_mins`` call."""
    def is_sh(node) -> bool:
        return isinstance(node, ast.Constant) and node.value == "sh" or (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == "col"
            and len(node.args) == 1
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "sh"
        )

    found = []
    for owner, call in _owned_calls(open(path).read()):
        name = getattr(call.func, "attr", getattr(call.func, "id", None))
        if name == "minhash_mins" or (
            name in ("explode", "posexplode") and call.args and is_sh(call.args[0])
        ):
            found.append((owner, call.lineno, name))
    return found


def test_shingle_arrays_explode_outer_and_sign_once():
    """A with_shingles array is exploded with ``explode_outer``: a plain
    ``explode`` infers ``size(sh) > 0`` and pushes that filter below the
    shingle projection, where the shingle lambda re-runs the tokenizer
    regex at every element (the streaming minhash build took 26.9 s
    instead of 5.9 s at sf0.1). Shingles become signatures only in
    dedup.minhash_signatures, the one shingle → minhash step."""
    own = os.path.join(PKG, "operators", "dedup.py")
    offenders = [
        f"{os.path.relpath(path, PKG)}:{line} {call}"
        for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
        for owner, line, call in _shingle_explodes(path)
        if call != "minhash_mins" or path != own or owner != "minhash_signatures"
    ]
    assert not offenders, (
        "explode of a shingle array (use F.explode_outer) or minhash_mins"
        " outside dedup.minhash_signatures: " + ", ".join(offenders)
    )


BUCKET_BOUNDS = {"_mn", "_mx"}


def _bucket_arithmetic(path: str) -> list[int]:
    """Lines of arithmetic over the ``"_mn"``/``"_mx"`` min/max probe
    columns — a binary operation with one of the names as a string
    operand below it (``F.col("_mx") - F.col("_mn")``), or SQL text that
    adds, subtracts, multiplies or divides one of them — and of every
    import of the deleted ``grouped_prefix`` module."""
    sql = re.compile(r"\b_m[nx]\b\s*[-+*/]|[-+*/]\s*\b_m[nx]\b")
    found = []
    for n in ast.walk(ast.parse(open(path).read())):
        if isinstance(n, ast.BinOp) and any(
            isinstance(c, ast.Constant) and c.value in BUCKET_BOUNDS
            for c in ast.walk(n)
        ):
            found.append(n.lineno)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and (
            sql.search(n.value)
        ):
            found.append(n.lineno)
        elif isinstance(n, ast.ImportFrom) and (
            "grouped_prefix" in (n.module or "")
        ) or isinstance(n, ast.Import) and any(
            "grouped_prefix" in a.name for a in n.names
        ):
            found.append(n.lineno)
    return sorted(set(found))


def test_value_buckets_only_in_prefix():
    """Every equal-width value bucket over a min/max probe goes through
    operators/prefix.py (``_bucket_expr``), the one place that owns the
    degenerate-width guard and the DOUBLE arithmetic that cannot wrap
    (the round-10 LONG-wrap class); the prefix scan, the grouped rank and
    the Theil-Sen median all call it, and the old grouped_prefix module
    stays gone."""
    root = os.path.dirname(PKG)
    own = os.path.join(PKG, "operators", "prefix.py")
    paths = [
        path
        for d in (PKG, os.path.join(root, "tests"), os.path.join(root, "tools"))
        for path in glob.glob(os.path.join(d, "**", "*.py"), recursive=True)
    ]
    offenders = [
        f"{os.path.relpath(path, root)}:{line}"
        for path in paths
        if path != own
        for line in _bucket_arithmetic(path)
    ]
    assert not offenders, (
        "min/max bucket arithmetic or a grouped_prefix import outside"
        " operators/prefix.py (use prefix._value_buckets): "
        + ", ".join(offenders)
    )


HASH_HELPERS = {"md5_long", "hash_bucket", "sql_hash_bucket", "spark_sql_md5_long"}
MD5_PREFIX_SQL = re.compile(
    r"conv\(\s*substr(?:ing)?\(\s*md5\(.*?\)\s*,\s*1\s*,", re.I | re.S
)


def _md5_prefix_hashes(path: str) -> list[int]:
    """Lines of an ``F.conv(F.substring(F.md5(...)))`` chain, of Spark SQL
    text that converts a leading md5 hex slice (``conv`` over
    ``substr(md5(x), 1, d)``), of a hash helper imported from ``sampling``
    and of a module-level definition of one of the helper names."""
    def is_f(node, name) -> bool:
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == name
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
            and bool(node.args)
        )

    def text(node) -> str | None:
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        if isinstance(node, ast.JoinedStr):
            return "".join(
                v.value if isinstance(v, ast.Constant) else "{}"
                for v in node.values
            )
        return None

    tree = ast.parse(open(path).read())
    found = [
        n.lineno
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name in HASH_HELPERS
    ]
    for n in ast.walk(tree):
        if (
            is_f(n, "conv")
            and is_f(n.args[0], "substring")
            and is_f(n.args[0].args[0], "md5")
        ):
            found.append(n.lineno)
        elif (s := text(n)) is not None and MD5_PREFIX_SQL.search(s):
            found.append(n.lineno)
        elif isinstance(n, ast.ImportFrom) and (n.module or "").endswith(
            "sampling"
        ) and any(a.name in HASH_HELPERS for a in n.names):
            found.append(n.lineno)
    return sorted(set(found))


def test_md5_prefix_hash_only_in_kernels():
    """Every md5-prefix hash (the engine's deterministic stand-in for
    rand()) goes through functions/kernels.py (``md5_long``,
    ``hash_bucket``), so splits, samples, sketches and walks all draw the
    same values; DuckDB oracle text (``'0x' || substr(md5(...))``) and
    slices of a digest the query keeps as a column are not matched."""
    root = os.path.dirname(PKG)
    own = os.path.join(PKG, "functions", "kernels.py")
    paths = [
        path
        for d in (PKG, os.path.join(root, "tests"), os.path.join(root, "tools"))
        for path in glob.glob(os.path.join(d, "**", "*.py"), recursive=True)
    ]
    offenders = [
        f"{os.path.relpath(path, root)}:{line}"
        for path in paths
        if path != own
        for line in _md5_prefix_hashes(path)
    ]
    assert not offenders, (
        "md5-prefix hash or hash helper outside functions/kernels.py"
        " (use kernels.md5_long / kernels.hash_bucket): "
        + ", ".join(offenders)
    )


def test_tpch_plans_in_one_module():
    """The TPC-H shapes live in plans/tpch.py, one topic module, not in
    modules named for the tranche that added them."""
    extra = glob.glob(os.path.join(PKG, "plans", "tpch_*.py"))
    assert not extra, "TPC-H module outside plans/tpch.py: " + ", ".join(
        os.path.relpath(p, PKG) for p in extra
    )

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


def _calls_row_number(node: ast.AST, rank_vars: set[str]) -> bool:
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and n.id in rank_vars:
            return True
        if isinstance(n, ast.Call) and not n.args:
            f = n.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name == "row_number":
                return True
    return False


def _col_literal(node: ast.AST) -> str | None:
    """"x" for F.col("x") / col("x"), else None."""
    if (
        isinstance(node, ast.Call)
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
    ):
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
        if name == "col":
            return node.args[0].value
    return None


def _own_nodes(scope: ast.AST) -> list[ast.AST]:
    """Every node of a function/module body, nested defs excluded."""
    out: list[ast.AST] = []
    stack = [
        b for b in scope.body if not isinstance(b, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    while stack:
        n = stack.pop()
        out.append(n)
        stack.extend(
            c
            for c in ast.iter_child_nodes(n)
            if not isinstance(c, (ast.FunctionDef, ast.AsyncFunctionDef))
        )
    return out


def hand_rolled_top_k(path: str) -> list[int]:
    """Line numbers of DataFrame-API top-k windows in ``path``: a column
    bound to row_number() (``withColumn(name, ...)`` or ``.alias(name)``,
    directly or through a local variable) that a ``filter``/``where`` in
    the same function then compares ``== 1`` or ``<= k``."""
    tree = ast.parse(open(path).read())
    hits = []
    scopes = [tree] + [
        n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    for scope in scopes:
        nodes = _own_nodes(scope)
        rank_vars = {
            t.id
            for n in nodes
            if isinstance(n, ast.Assign) and _calls_row_number(n.value, set())
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        rank_cols = set()
        for n in nodes:
            if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
                continue
            a = n.args
            if (
                n.func.attr == "withColumn"
                and len(a) == 2
                and isinstance(a[0], ast.Constant)
                and _calls_row_number(a[1], rank_vars)
            ) or (
                n.func.attr == "alias"
                and a
                and isinstance(a[0], ast.Constant)
                and _calls_row_number(n.func.value, rank_vars)
            ):
                rank_cols.add(a[0].value)
        for n in nodes:
            if not (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("filter", "where")
                and n.args
            ):
                continue
            for c in ast.walk(n.args[0]):
                if (
                    isinstance(c, ast.Compare)
                    and len(c.ops) == 1
                    and _col_literal(c.left) in rank_cols
                    and (
                        isinstance(c.ops[0], ast.LtE)
                        or (
                            isinstance(c.ops[0], ast.Eq)
                            and isinstance(c.comparators[0], ast.Constant)
                            and c.comparators[0].value == 1
                        )
                    )
                ):
                    hits.append(n.lineno)
    return sorted(set(hits))


def test_no_hand_rolled_top_k_windows():
    """Top-k / argmax per group has ONE spelling, operators/topk.py's
    top_k: the copies it replaced had drifted (tie-break chains, rank
    column types, missing domain asserts). SQL strings (oracles, SQL
    builders) are out of scope — only DataFrame-API code is scanned."""
    root = os.path.dirname(PKG)
    paths = glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)
    paths += glob.glob(os.path.join(root, "tools", "*.py"))
    topk = os.path.join(PKG, "operators", "topk.py")
    offenders = [
        f"{os.path.relpath(p, root)}:{line}"
        for p in sorted(paths)
        if p != topk
        for line in hand_rolled_top_k(p)
    ]
    assert not offenders, (
        "hand-rolled row_number top-k filters (use operators.topk.top_k): "
        + ", ".join(offenders)
    )


def test_top_k_guard_sees_the_hand_rolled_shapes(tmp_path):
    """The guard itself: each spelling the migrated sites used is caught,
    and a row_number used for anything but a top-k filter is not."""
    src = tmp_path / "m.py"
    src.write_text(
        "def a(df, w):\n"
        "    return df.withColumn('rn', F.row_number().over(w))"
        ".filter(F.col('rn') == 1)\n"
        "def b(df, w, k):\n"
        "    rk = F.row_number().over(w)\n"
        "    out = df.withColumn('rk', rk)\n"
        "    return out.where(F.col('rk') <= k)\n"
        "def c(df, w, n):\n"
        "    r = df.select('x', F.row_number().over(w).alias('pos'))\n"
        "    return r.filter(F.col('pos') <= F.col('n') + 1)\n"
        "def ok(df, w):\n"
        "    r = df.withColumn('t', F.row_number().over(w))\n"
        "    return r.filter(F.col('t') < F.col('n')).filter(F.col('t') == 2)\n"
    )
    assert hand_rolled_top_k(str(src)) == [2, 6, 9]


def _pipelines_1x_queries() -> tuple[str, ...]:
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(PKG), "perfbench"))
    from workloads import WORKLOADS

    return WORKLOADS["pipelines_1x"].queries


def test_pipelines_queries_leave_no_cached_relations(spark, sf_dir):
    """Each query of the perfbench pipelines_1x mix, built, drained and
    dropped, leaves the session's cache manager empty. A cached relation
    outlives its query and is substituted into every later identical
    subtree, other queries' plans included (the round-8 InMemoryRelation
    substitution trap); multi-reader frames go through ckpt.pin instead."""
    from repcheck_data_integration_spark import registry

    registry.load_all_modules()
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    leaked = []
    for name in _pipelines_1x_queries():
        df = registry.QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        del df
        if not cache.isEmpty():
            leaked.append(name)
            spark.catalog.clearCache()
    assert not leaked, f"queries left cached relations behind: {leaked}"

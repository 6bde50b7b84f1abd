"""Reachability gate over ``maga_spark/``: every top-level def must be
reached from a product root, not only from tests.

The product roots are the registered query builders (``REGISTRY`` and the
rest of ``__spark_entry__``'s module-level code, plus ``entry``), the crawl
engine ``CrawlEngine``, the streaming loop ``streaming_crawl``, snapstore's
public functions (the resume/audit path), module-level code in
``maga_spark/`` (it runs on import), and every script in ``tools/``,
``bench*.py`` and ``perfbench/`` (its tests excluded). Reachability is
name-based over the AST: a def is reached when a reached body names it, as
a bare name or an attribute. A name collision can hide a test-only def
from the gate, but a def that a root names is never flagged.

A def that only tests reach is either deleted with its tests or listed in
``EXEMPT`` with the reason it stays. Like the plan-hygiene exemption sets,
``EXEMPT`` cannot rot silently: an entry whose def is gone, or that a
product root now reaches, fails ``test_reachability_exemptions_are_live``.

The option gate applies the same rule to parameters: a defaulted
parameter of a top-level def in ``maga_spark/`` or ``__spark_entry__.py``
that no call in the product files or the tests sets is a constant spelt as
an option (off by default, and nothing turns it on). It is deleted and
its value written at the use site, or listed in ``OPTION_EXEMPT``, which
``test_option_exemptions_are_live`` keeps live the same way.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

ROOT_NAMES = {"entry", "CrawlEngine", "streaming_crawl"}
SNAPSTORE = "maga_spark/plans/snapstore.py"

# (file, def) -> why it stays although only tests reach it
EXEMPT = {
    ("maga_spark/functions/bencode.py", "bencode"): (
        "the Python reference encoder that the Spark-side encode/decode "
        "expressions are checked against"
    ),
    ("maga_spark/xxh64.py", "xxh64_long"): (
        "the pure-Python reference test_xxh64_matches_spark checks Spark's "
        "xxhash64 over longs against"
    ),
    ("maga_spark/operators/resolver.py", "socket_resolve"): (
        "the only real resolver resolve_hosts can be given; the default "
        "fake_resolve keeps queries and tests offline"
    ),
    ("maga_spark/operators/similarity.py", "pq_refine_codebook"): (
        "Lloyd refinement of the pivot codebook: PQ shortlist recall on "
        "test_pq_adc_recall_and_code_width's seed is 1.0 with it, 0.775 "
        "without (bar 0.8)"
    ),
    ("maga_spark/operators/robots.py", "parse_robots"): (
        "robots.txt text -> rules table (Arrow, host cardinality), the stage "
        "that feeds robots_gate from fetched files; robots_rfc builds its "
        "rules inline"
    ),
    ("maga_spark/operators/robots.py", "parse_robots_text"): (
        "the per-host parser parse_robots runs, checked directly against the "
        "RFC 9309 example matrix"
    ),
    ("maga_spark/operators/sampling.py", "hash_sample"): (
        "the subset-monotone per-row draw that applies mixture_rates' "
        "rate_ppm output"
    ),
    ("maga_spark/operators/links.py", "urls_from_links"): (
        "bridges extract_links output into CrawlEngine's absorb input; "
        "test_links drives it through an epoch"
    ),
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _module_code_names(tree: ast.Module) -> set[str]:
    """Names that module-level statements use; defs and imports excluded
    (an import or re-export alone reaches nothing)."""
    out = set()
    for node in tree.body:
        if not isinstance(node, _DEF + (ast.Import, ast.ImportFrom)):
            out |= _names(node)
    return out


def _product_files() -> list[Path]:
    """The files the product roots live in: ``maga_spark/``,
    ``__spark_entry__.py``, and the scripts in ``tools/``, ``bench*.py`` and
    ``perfbench/`` (its tests excluded)."""
    files = sorted((REPO / "maga_spark").rglob("*.py"))
    files.append(REPO / "__spark_entry__.py")
    files += [*REPO.glob("tools/*.py"), *REPO.glob("bench*.py")]
    files += [p for p in REPO.glob("perfbench/**/*.py") if "tests" not in p.parts]
    return files


def _in_scope(path: Path) -> bool:
    rel = path.relative_to(REPO).as_posix()
    return rel.startswith("maga_spark/") or rel == "__spark_entry__.py"


def _scan() -> tuple[dict[tuple[str, str], ast.AST], set[str]]:
    """All top-level defs in maga_spark/, and the names reached from the
    product roots."""
    defs: dict[tuple[str, str], ast.AST] = {}
    by_name: dict[str, list[ast.AST]] = {}
    roots = set(ROOT_NAMES)
    for path in _product_files():
        rel = path.relative_to(REPO).as_posix()
        tree = _parse(path)
        if not _in_scope(path):
            roots |= _names(tree)
            continue
        roots |= _module_code_names(tree)
        for node in tree.body:
            if isinstance(node, _DEF):
                by_name.setdefault(node.name, []).append(node)
                if rel.startswith("maga_spark/"):
                    defs[(rel, node.name)] = node
                if rel == SNAPSTORE and not node.name.startswith("_"):
                    roots.add(node.name)

    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for node in by_name.get(name, ()):
            todo.extend(_names(node) - reached)
    return defs, reached


def test_no_test_only_defs():
    defs, reached = _scan()
    test_only = sorted(
        f"{rel}:{node.lineno} {name}"
        for (rel, name), node in defs.items()
        if name not in reached and (rel, name) not in EXEMPT
    )
    assert not test_only, (
        "defs that only tests reach — delete them with their tests, or "
        "add them to EXEMPT with the reason they stay:\n" + "\n".join(test_only)
    )


def test_reachability_exemptions_are_live():
    defs, reached = _scan()
    for key in EXEMPT:
        assert key in defs, f"exempt def {key} no longer exists: drop it from EXEMPT"
        assert key[1] not in reached, f"{key} is reached now: drop it from EXEMPT"


# (file, def, parameter) -> why it stays although nobody sets it
OPTION_EXEMPT = {
    ("maga_spark/plans/snapstore.py", "resume", "epoch"): (
        "the public resume point: resume at an earlier committed epoch "
        "than the latest"
    ),
    ("maga_spark/streaming/crawl_loop.py", "streaming_crawl", "query_name"): (
        "a deployment setting: the streaming query's name in the Spark UI "
        "and its progress events"
    ),
    ("maga_spark/xxh64.py", "xxh64_str", "seed"): (
        "mirrors the seed argument of Spark's xxhash64 in the Python "
        "reference"
    ),
    ("maga_spark/xxh64.py", "xxh64_long", "seed"): (
        "mirrors the seed argument of Spark's xxhash64 in the Python "
        "reference"
    ),
}


def _test_files() -> list[Path]:
    return [*REPO.glob("tests/*.py"), *REPO.glob("perfbench/tests/*.py")]


def _params(fn: ast.FunctionDef) -> tuple[list[str], dict[str, str]]:
    """(positional parameter names in order, {defaulted parameter: its
    default's AST dump})."""
    a = fn.args
    pos = a.posonlyargs + a.args
    pairs = [*zip(pos[len(pos) - len(a.defaults):], a.defaults), *zip(a.kwonlyargs, a.kw_defaults)]
    return [x.arg for x in pos], {x.arg: ast.dump(d) for x, d in pairs if d is not None}


def _calls(tree: ast.Module):
    """(call, enclosing top-level def or None) for every call in the module."""
    for node in tree.body:
        owner = node if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
        for n in ast.walk(node):
            if isinstance(n, ast.Call):
                yield n, owner


def _option_scan() -> tuple[dict[tuple[str, str, str], int], set[str]]:
    """Every defaulted parameter of a top-level def in scope, with its line,
    and the ``def:param`` settings found by a fixpoint over all calls.

    Calls resolve by name (a bare name or an attribute). A keyword sets its
    parameter; a positional argument sets the parameter at its index; a
    ``*args`` sets every positional parameter from its index on, and a
    ``**kwargs`` sets every parameter. An argument that is just the
    enclosing def's own defaulted parameter, with the same default, counts
    only once that parameter is set itself."""
    options: dict[tuple[str, str, str], int] = {}
    sig: dict[str, tuple[list[str], dict[str, str]]] = {}
    calls = []
    for path in _product_files() + _test_files():
        tree = _parse(path)
        if not _in_scope(path):
            calls += [(c, None) for c, _ in _calls(tree)]
            continue
        rel = path.relative_to(REPO).as_posix()
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                sig[node.name] = _params(node)
                for p in sig[node.name][1]:
                    options[(rel, node.name, p)] = node.lineno
        calls.extend(_calls(tree))

    def callee(call: ast.Call) -> str | None:
        f = call.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        return name if name in sig else None

    def bindings(call: ast.Call, name: str):
        """(callee parameter, argument expression or None) per argument."""
        pos, defaulted = sig[name]
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                for p in pos[i:]:
                    yield p, None
                break
            if i < len(pos):
                yield pos[i], arg
        for kw in call.keywords:
            if kw.arg is None:
                for p in {*pos, *defaulted}:
                    yield p, None
            else:
                yield kw.arg, kw.value

    resolved = [(c, callee(c), owner) for c, owner in calls if callee(c)]
    set_: set[str] = set()
    changed = True
    while changed:
        changed = False
        for call, name, owner in resolved:
            for p, arg in bindings(call, name):
                key = f"{name}:{p}"
                if key in set_:
                    continue
                if (
                    isinstance(arg, ast.Name)
                    and owner is not None
                    and arg.id in sig[owner.name][1]
                    and sig[owner.name][1][arg.id] == sig[name][1].get(p)
                    and f"{owner.name}:{arg.id}" not in set_
                ):
                    continue
                set_.add(key)
                changed = True
    return options, set_


def test_def_names_unique():
    """Both gates resolve calls by name, so no two top-level defs in
    ``maga_spark/`` and ``__spark_entry__.py`` may share one."""
    seen: dict[str, str] = {}
    dupes = []
    for path in filter(_in_scope, _product_files()):
        rel = path.relative_to(REPO).as_posix()
        for node in _parse(path).body:
            if isinstance(node, _DEF):
                if node.name in seen:
                    dupes.append(f"{node.name}: {seen[node.name]} and {rel}")
                seen.setdefault(node.name, rel)
    assert not dupes, "top-level def names must be unique:\n" + "\n".join(dupes)


def test_no_unset_options():
    options, set_ = _option_scan()
    unset = sorted(
        f"{rel}:{line} {fn}({p}=)"
        for (rel, fn, p), line in options.items()
        if f"{fn}:{p}" not in set_ and (rel, fn, p) not in OPTION_EXEMPT
    )
    assert not unset, (
        f"{len(unset)} defaulted parameters that no product call and no test "
        "sets — write the value at the use site, or add the parameter to "
        "OPTION_EXEMPT with the reason it stays:\n" + "\n".join(unset)
    )


def test_option_exemptions_are_live():
    options, set_ = _option_scan()
    for key in OPTION_EXEMPT:
        assert key in options, f"exempt option {key} no longer exists: drop it from OPTION_EXEMPT"
        assert f"{key[1]}:{key[2]}" not in set_, f"{key} is set now: drop it from OPTION_EXEMPT"

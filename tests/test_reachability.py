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


def _scan() -> tuple[dict[tuple[str, str], ast.AST], set[str]]:
    """All top-level defs in maga_spark/, and the names reached from the
    product roots."""
    defs: dict[tuple[str, str], ast.AST] = {}
    by_name: dict[str, list[ast.AST]] = {}
    roots = set(ROOT_NAMES)
    for path in sorted((REPO / "maga_spark").rglob("*.py")):
        rel = path.relative_to(REPO).as_posix()
        tree = _parse(path)
        roots |= _module_code_names(tree)
        for node in tree.body:
            if isinstance(node, _DEF):
                defs[(rel, node.name)] = node
                by_name.setdefault(node.name, []).append(node)
                if rel == SNAPSTORE and not node.name.startswith("_"):
                    roots.add(node.name)
    entry = _parse(REPO / "__spark_entry__.py")
    roots |= _module_code_names(entry)
    for node in entry.body:
        if isinstance(node, _DEF):
            by_name.setdefault(node.name, []).append(node)
    scripts = [*REPO.glob("tools/*.py"), *REPO.glob("bench*.py")]
    scripts += [p for p in REPO.glob("perfbench/**/*.py") if "tests" not in p.parts]
    for path in scripts:
        roots |= _names(_parse(path))

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

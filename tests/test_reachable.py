"""Every public library definition has a caller outside ``tests/``.

A definition only tests reach is code the pipeline, jobs, tools,
benchmarks and registry queries never run: either wire it in or
delete it (git history keeps it)."""

import ast
import pathlib

import phenobert_spark

REPO = pathlib.Path(phenobert_spark.__file__).parent.parent
PKG = REPO / "phenobert_spark"

# Kept on purpose, although only tests call them.
LEFT_IN = {
    "annotate_text": "public parity API (reference api.py)",
    "link_phrases": "public parity API (reference api.py)",
    "export_reference_tsv": "public parity API (reference api.py)",
    "SearchIndex": "public parity API (reference api.py)",
    "evaluate_report": "public parity API (reference evaluation)",
    "dag_set_similarity": "public parity API (reference evaluation)",
    "drop_redundant_ancestors": "SURVEY §7.2 step 5 post-filter",
    "read_triples": "reader of the materialized graph layout",
    "kg_upsert_stream": "in-tree precedent for changelog-folding refresh",
    "latest_kg_snapshot": "reader of kg_upsert_stream's snapshots",
    "maximal_spans_bruteforce": "reference twin of maximal_spans",
    "hamming_neighbors": "reference twin of hamming_neighbors_banded",
    "fit_logistic_numpy": "reference twin of fit_logistic_df",
    "hll_relative_error": "reference bound for hll_distinct",
}


def _names(node):
    """Identifiers a node references: names, attributes, imported
    names, and identifier-shaped strings (``getattr(mod, "NAME")``)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _defined(stmt):
    """Names a module-level statement defines, or [] if it is not a
    plain definition (``@register(...)`` adds a query to the registry
    on import, so the registry is its caller)."""
    if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
        registered = any(
            isinstance(d, ast.Call) and getattr(d.func, "id", "") == "register"
            for d in stmt.decorator_list
        )
        return [] if registered else [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def _unreached():
    """Module-level definitions under phenobert_spark/ that no non-test
    code reaches. A reference from inside a definition counts only
    while that definition is itself reached, so dead chains drop out
    whole."""
    defs = {}  # (module path, name) -> names its body references
    roots = set()
    for path in sorted(REPO.rglob("*.py")):
        rel = path.relative_to(REPO)
        if rel.parts[0] in ("tests", ".claude"):
            continue
        in_pkg = PKG in path.parents
        for stmt in ast.parse(path.read_text(encoding="utf-8")).body:
            names = [n for n in _defined(stmt) if not n.startswith("__")]
            if not in_pkg or not names:
                roots |= _names(stmt)
                continue
            for name in names:
                defs[(str(rel), name)] = _names(stmt) - {name}
    alive = set(defs)
    while True:
        live = roots | set(LEFT_IN)
        for key in alive:
            live |= defs[key]
        dead = {key for key in alive if key[1] not in live}
        if not dead:
            return sorted(set(defs) - alive)
        alive -= dead


def test_every_public_definition_has_a_non_test_caller():
    unreached = [
        f"{mod}:{name}"
        for mod, name in _unreached()
        if not name.startswith("_") and name not in LEFT_IN
    ]
    assert not unreached, "only tests reach:\n" + "\n".join(unreached)


def test_left_in_names_exist():
    """A stale exception would hide nothing and mislead the reader."""
    defined = set()
    for path in PKG.rglob("*.py"):
        for stmt in ast.parse(path.read_text(encoding="utf-8")).body:
            defined.update(_defined(stmt))
    assert set(LEFT_IN) - defined == set()

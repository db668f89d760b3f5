"""Every public library definition, and every defaulted parameter of a
public library function, has a caller outside ``tests/``.

A definition or an option only tests reach is code the pipeline, jobs,
tools, benchmarks and registry queries never run: either wire it in or
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


# Defaulted parameters kept on purpose, although no non-test caller
# passes them: a deployment input, a bound or hook that the default
# also engages on large enough input and a test lowers to reach it,
# or the twin's copy of a setting its scale twin takes from callers.
KEPT_PARAMS = {
    "load_reference_corpus(root)": "deployment path of the reference checkout",
    "load_reference_gold(root)": "deployment path of the reference checkout",
    "load_reference_ontology(root)": "deployment path of the reference checkout",
    "annotate_text(onto)": "parity-API input: the deployed ontology",
    "annotate_text(cfg)": "parity-API input: the deployed pipeline config",
    "link_phrases(onto)": "parity-API input: the deployed ontology",
    "link_phrases(cfg)": "parity-API input: the deployed pipeline config",
    "run_with_checkpoint(fail_after_buckets)": "crash-injection hook of the resume path",
    "connected_components(max_iters)": "round budget; a test runs it out (warning)",
    "transitive_closure(max_iters)": "round budget; a test runs it out (warning)",
    "bfs_distances(max_iters)": "round budget; a test runs it out (raise)",
    "topo_layers(max_iters)": "round budget; a test runs it out (raise)",
    "star_components(driver_threshold)": "driver-side cutoff; a test lowers it to reach the distributed path",
    "interval_overlap_join(max_buckets_per_interval)": "bucket fan-out bound; a test lowers it to raise",
    "sorted_neighborhood_matches(n_partitions)": "range-partition count; tests vary it to cross window boundaries",
    "neighborhood_jaccard(max_neighbor_degree)": "hub-degree cap",
    "pathsim_topk(max_b_degree)": "hub-degree cap",
    "repo_fork_candidates(max_path_df)": "hub-degree cap (paths in many repos)",
    "hamming_neighbors(max_dist)": "twin of hamming_neighbors_banded(max_dist), which the registry sets",
    "fit_logistic_numpy(epochs)": "twin of fit_logistic_df(epochs), which callers set",
}


def _sources():
    """(repo-relative path, parsed module) of every non-test file."""
    for path in sorted(REPO.rglob("*.py")):
        rel = path.relative_to(REPO)
        if rel.parts[0] != "tests" and not rel.parts[0].startswith("."):
            yield rel, ast.parse(path.read_text(encoding="utf-8"))


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
    for rel, tree in _sources():
        in_pkg = rel.parts[0] == PKG.name
        for stmt in tree.body:
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


def _public_functions():
    """(module path, function, is_method) for every public function
    and public method under phenobert_spark/ (registry queries are
    called by the registry with a fixed signature)."""
    for rel, tree in _sources():
        if rel.parts[0] != PKG.name:
            continue
        for stmt in tree.body:
            if isinstance(stmt, ast.FunctionDef) and _defined(stmt):
                yield rel, stmt, False
            elif isinstance(stmt, ast.ClassDef):
                for fn in stmt.body:
                    if isinstance(fn, ast.FunctionDef):
                        static = any(
                            getattr(d, "id", "") == "staticmethod"
                            for d in fn.decorator_list
                        )
                        yield rel, fn, not static


def _passed():
    """Function name -> (positional count, starred, keywords) of each
    non-test call, ``partial(f, ...)`` counting as a call of ``f``."""
    out = {}
    for _, tree in _sources():
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            f, args = n.func, n.args
            if getattr(f, "id", "") == "partial" and args:
                f, args = args[0], args[1:]
            name = getattr(f, "id", None) or getattr(f, "attr", None)
            out.setdefault(name, []).append((
                len(args),
                any(isinstance(a, ast.Starred) for a in args),
                {k.arg for k in n.keywords},
            ))
    return out


def _unpassed_params():
    """``function(param)`` for each defaulted parameter of a public
    function that no non-test call passes, by position or keyword."""
    calls = _passed()
    out = []
    for rel, fn, method in _public_functions():
        if fn.name.startswith("_"):
            continue
        a = fn.args
        pos = (a.posonlyargs + a.args)[1 if method else 0:]
        first_defaulted = len(pos) - len(a.defaults)
        params = [(i, p.arg) for i, p in enumerate(pos) if i >= first_defaulted]
        params += [
            (None, p.arg)
            for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None
        ]
        for i, name in params:
            if not any(
                name in kws
                or None in kws
                or (i is not None and (n_pos > i or starred))
                for n_pos, starred, kws in calls.get(fn.name, [])
            ):
                out.append(f"{rel}:{fn.lineno} {fn.name}({name})")
    return out


def test_every_defaulted_parameter_has_a_non_test_caller():
    unpassed = [
        p for p in _unpassed_params() if p.split(" ", 1)[1] not in KEPT_PARAMS
    ]
    assert not unpassed, "only tests pass:\n" + "\n".join(unpassed)


def test_kept_params_exist():
    """A kept parameter that is gone or now passed is a stale entry."""
    unpassed = {p.split(" ", 1)[1] for p in _unpassed_params()}
    assert set(KEPT_PARAMS) - unpassed == set()

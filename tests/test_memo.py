"""Values derived from an ``Ontology`` live in one memo.

``Ontology.derived`` is the only cache of what the ontology computes
(closures, mined pairs, dictionary rows and frames, pruning
vocabularies) and of the broadcasts other modules build from it. A
module that stores such a value on the object itself, through
``__dict__`` or the memo field, makes a second cache that nothing keys
or clears consistently."""

import ast
import pathlib

import phenobert_spark

REPO = pathlib.Path(phenobert_spark.__file__).parent.parent
OWNER = REPO / "phenobert_spark" / "ontology.py"


def _memo_accesses():
    """(file:line, attribute) of every ``__dict__`` or ``_derived``
    attribute access outside ``ontology.py``."""
    out = []
    for path in sorted(REPO.rglob("*.py")):
        rel = path.relative_to(REPO)
        if path == OWNER or rel.parts[0] == "tests":
            continue
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Attribute) and node.attr in ("__dict__", "_derived"):
                out.append(f"{rel}:{node.lineno} .{node.attr}")
    return out


def test_only_ontology_touches_its_memo():
    hits = _memo_accesses()
    assert not hits, "ontology-derived values cached outside Ontology.derived:\n" + "\n".join(hits)


def test_derived_values_are_memoized(onto):
    assert onto.ancestors() is onto.ancestors()
    assert onto.prune_vocab(10) is onto.prune_vocab(syn_min_count=10)
    assert onto.mined_substitutions() is onto.mined_substitutions(10, None)
    assert onto.linker(10, None, False) is onto.linker(
        syn_min_count=10, syn_phrase_min_count=None, drop_one=False
    )

"""Code-corpus KG extraction: import-dependency edges and
identifier-subtoken vocabulary.

The production input is the Iceberg documents table
``(repo, path, commit, lang, content)`` of source-code files
(sources/tables.py). Besides the flagship phenotype-mention triples,
a code-corpus KG wants *structural* triples mined from the code
itself — ``(file, imports, module)`` dependency edges (the backbone
of a repo-level dependency graph: license contamination reach,
build-order layering via kg_metrics.topo layers, PageRank over
modules) and the identifier vocabulary (the code analog of the text
pipeline's token stats: subtoken frequencies feed BPE merges
(q146-style), quality filters, and model vocab construction).

Everything is JVM-side Column algebra — ``regexp_extract_all`` /
``regexp_replace`` / ``split`` / ``explode`` — a map-only stage until
the final keyed count, so the 10^12-file pass is embarrassingly
parallel with map-side-combined aggregation and zero Python in the
hot path. Language gating happens per-row on the ``lang`` column
(one ``when`` chain, no per-lang scans).

Regex dialect note: the extraction patterns avoid lookarounds and
backreferences, so they run identically under java.util.regex
(Spark) and RE2 (DuckDB); the q194/q195 contracts nevertheless
verify against an INDEPENDENT arithmetic derivation of the expected
edges/tokens, not a second regex pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: capture-group-1 import patterns per language. Multiline anchors via
#: inline (?m); statements must start a line (comments that mention
#: "import" mid-line don't match).
IMPORT_PATTERNS: dict[str, list[str]] = {
    "python": [
        r"(?m)^[ \t]*import[ \t]+([A-Za-z_][A-Za-z0-9_.]*)",
        r"(?m)^[ \t]*from[ \t]+([A-Za-z_][A-Za-z0-9_.]*)[ \t]+import",
    ],
    "javascript": [
        r"""require\(['"]([^'"]+)['"]\)""",
        r"""(?m)^[ \t]*import\b[^\n]*?from[ \t]+['"]([^'"]+)['"]""",
    ],
    "java": [
        r"(?m)^[ \t]*import[ \t]+(?:static[ \t]+)?([A-Za-z_][A-Za-z0-9_.]*)[ \t]*;",
    ],
    "go": [
        r'(?m)^[ \t]*import[ \t]+"([^"]+)"',
    ],
}
#: lang-column aliases that share a pattern set
LANG_ALIASES = {"typescript": "javascript", "jsx": "javascript", "tsx": "javascript"}


def _patterns_for(lang_col: Column, content_col: Column) -> Column:
    """Array of imported module strings for one row, gated on lang."""
    expr = None
    for lang, pats in IMPORT_PATTERNS.items():
        langs = [lang] + [a for a, t in LANG_ALIASES.items() if t == lang]
        arrays = [
            F.regexp_extract_all(content_col, F.lit(p), 1) for p in pats
        ]
        arr = arrays[0] if len(arrays) == 1 else F.concat(*arrays)
        cond = F.lower(lang_col).isin(langs)
        expr = F.when(cond, arr) if expr is None else expr.when(cond, arr)
    return expr.otherwise(F.array().cast("array<string>"))


def extract_import_edges(
    df: DataFrame,
) -> DataFrame:
    """(repo, path, lang, module) — one row per distinct import edge
    per file. Map-only until the final distinct (keyed on the edge
    itself, map-side combinable); unsupported languages contribute
    zero rows rather than erroring, so a mixed 10^12-file corpus
    needs no pre-filter pass."""
    mods = _patterns_for(F.col("lang"), F.col("content"))
    return (
        df.select(
            F.col("repo").alias("repo"),
            F.col("path").alias("path"),
            F.lower(F.col("lang")).alias("lang"),
            F.explode(mods).alias("module"),
        )
        .distinct()
    )


def module_root(module_col: Column) -> Column:
    """First segment of a module path — ``org.dep2.Cls`` → ``org``,
    ``github.com/org/dep`` → ``github``, ``./local`` → ``.`` is
    normalized to the bare relative marker ``.``."""
    root = F.split(module_col, r"[./]").getItem(0)
    return F.when(root == "", F.lit(".")).otherwise(root)


def import_rollup(edges: DataFrame) -> DataFrame:
    """Repo-level dependency rollup: (repo, root, n_files, n_imports)
    — the node table of the repo→dependency KG layer. Two map-side
    combinable aggregates over the already-distinct edge table."""
    return (
        edges.withColumn("root", module_root(F.col("module")))
        .groupBy("repo", "root")
        .agg(
            F.countDistinct("path").alias("n_files"),
            F.count("*").alias("n_imports"),
        )
    )


# ---------------------------------------------------------------------------
# identifier vocabulary
# ---------------------------------------------------------------------------

IDENTIFIER_RE = r"[A-Za-z_][A-Za-z0-9_]*"


def identifier_subtokens(content_col: Column) -> Column:
    """Array of lowercase subtokens for every identifier in the
    content: camelCase, PascalCase, SCREAMING_SNAKE, snake_case and
    acronym runs (``HTTPServer`` → ``http``, ``server``) all split;
    pure-digit fragments (the ``2`` of ``parse_json_2``) are dropped.
    Pure Column algebra — evaluated per row inside codegen, no UDF."""
    ids = F.regexp_extract_all(content_col, F.lit(IDENTIFIER_RE), 0)
    split_one = lambda s: F.filter(  # noqa: E731
        F.split(
            F.lower(
                F.regexp_replace(
                    F.regexp_replace(s, r"([a-z0-9])([A-Z])", r"$1 $2"),
                    r"([A-Z]+)([A-Z][a-z])",
                    r"$1 $2",
                )
            ),
            r"[_ ]+",
        ),
        lambda t: t.rlike("[a-z]"),
    )
    return F.flatten(F.transform(ids, split_one))


def identifier_vocab(df: DataFrame) -> DataFrame:
    """Corpus-wide identifier-subtoken vocabulary: (token, n) counts.
    The shuffle is keyed on the token with full map-side combine —
    the same shape as word-count, the canonical linear-scale
    aggregation."""
    return (
        df.select(
            F.explode(identifier_subtokens(F.col("content"))).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


def path_stats(df: DataFrame) -> DataFrame:
    """Per-(repo, extension) file-tree profile: file count, mean
    directory depth (segments below the repo root), and max depth —
    the corpus-shape dashboard of a code ingest (vendored-tree
    detection: deep node_modules-style subtrees; generated-code
    piles: one extension dominating a repo). Extension = lowercase
    text after the last '.' of the last path segment ('' when none);
    depth = number of '/' separators. Pure Column algebra on the
    path string; one (repo, ext)-keyed combinable aggregate —
    content is never touched, so the scan prunes to two columns."""
    last_seg = F.element_at(F.split(F.col("path"), "/"), -1)
    ext = F.when(
        last_seg.contains("."),
        F.lower(F.element_at(F.split(last_seg, r"\."), -1)),
    ).otherwise(F.lit(""))
    depth = F.size(F.split(F.col("path"), "/")) - 1
    return (
        df.select(
            F.col("repo").alias("repo"),
            ext.alias("ext"),
            depth.alias("_d"),
        )
        .groupBy("repo", "ext")
        .agg(
            F.count("*").alias("n_files"),
            F.round(F.avg("_d"), 6).alias("avg_depth"),
            F.max("_d").alias("max_depth"),
        )
    )


def repo_fork_candidates(
    df: DataFrame,
    threshold: float = 0.5,
    max_path_df: int | None = None,
) -> DataFrame:
    """Repo-level fork/mirror detection by file-path-set Jaccard —
    The Stack's repo-dedup step: forks share most of their tree, and
    deduplicating at the REPO level removes them wholesale where
    doc-level near-dup would pay per file. Returns one row per
    unordered repo pair with ``jaccard >= threshold``:
    (repo_a, repo_b, n_common, n_a, n_b, jaccard).

    Plan: inverted-index equi-join on the path (pairs materialize
    only for repos that actually share a path — never the repo cross
    product), per-pair common count, broadcast-sized size join.
    ``max_path_df`` drops paths present in more than that many repos
    BEFORE the join — the boilerplate cut (README.md, LICENSE live in
    every repo and alone would fan out |repos|² pair rows), same
    discipline as dedup.decontaminate's max_train_df."""
    sets = df.select(
        F.col("repo").alias("_r"), F.col("path").alias("_p")
    ).distinct()
    if max_path_df is not None:
        dfreq = sets.groupBy("_p").agg(F.count("*").alias("_df"))
        sets = sets.join(
            dfreq.filter(F.col("_df") <= max_path_df).select("_p"),
            on="_p",
            how="inner",
        )
    sizes = sets.groupBy("_r").agg(F.count("*").alias("_n"))
    a = sets.select(F.col("_r").alias("repo_a"), "_p")
    b = sets.select(F.col("_r").alias("repo_b"), "_p")
    common = (
        a.join(b, on="_p")
        .filter(F.col("repo_a") < F.col("repo_b"))
        .groupBy("repo_a", "repo_b")
        .agg(F.count("*").alias("n_common"))
    )
    out = (
        common.join(
            F.broadcast(sizes.withColumnRenamed("_r", "repo_a")), on="repo_a"
        )
        .withColumnRenamed("_n", "n_a")
        .join(
            F.broadcast(sizes.withColumnRenamed("_r", "repo_b")), on="repo_b"
        )
        .withColumnRenamed("_n", "n_b")
    )
    jac = F.col("n_common") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return out.filter(jac >= threshold).select(
        "repo_a", "repo_b", "n_common", "n_a", "n_b",
        F.round(jac, 6).alias("jaccard"),
    )

"""Option surface of the annotation pipeline."""

import ast
import dataclasses
import pathlib

import phenobert_spark
from phenobert_spark.config import PipelineConfig


def test_every_config_field_is_read():
    """Each PipelineConfig field is read (``cfg.<field>``) by engine code
    outside config.py: a knob nothing reads is a dead option."""
    root = pathlib.Path(phenobert_spark.__file__).parent
    read = set()
    for path in root.rglob("*.py"):
        if path == root / "config.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Attribute):
                read.add(node.attr)
    fields = {f.name for f in dataclasses.fields(PipelineConfig)}
    assert fields - read == set()

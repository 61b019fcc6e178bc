"""Knob inventory: the SPARK_GRAFT_* environment variables the engine
reads must equal the README's Environment table, so a new knob has to
be listed there, with the reason it exists, before it can land."""

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _env_reads(path: str) -> set[str]:
    """SPARK_GRAFT_* names read via os.environ.get / os.environ[...] /
    os.getenv / `in os.environ` in one Python file (comments and prose
    that merely mention a name do not count)."""
    names = set()
    for node in ast.walk(ast.parse(open(path).read(), path)):
        key = None
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and (
                f.attr == "getenv"
                or (f.attr == "get" and isinstance(f.value, ast.Attribute) and f.value.attr == "environ")
            ):
                key = node.args[0]
        elif isinstance(node, ast.Subscript):
            if isinstance(node.value, ast.Attribute) and node.value.attr == "environ":
                key = node.slice
        elif isinstance(node, ast.Compare) and len(node.comparators) == 1:
            c = node.comparators[0]
            if isinstance(c, ast.Attribute) and c.attr == "environ":
                key = node.left
        if isinstance(key, ast.Constant) and str(key.value).startswith("SPARK_GRAFT_"):
            names.add(key.value)
    return names


def _engine_files() -> list[str]:
    files = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _dirs, names in os.walk(os.path.join(REPO, "simhash_spark")):
        files += [os.path.join(root, n) for n in names if n.endswith(".py")]
    return files


def _readme_table() -> set[str]:
    text = open(os.path.join(REPO, "README.md")).read()
    section = text.split("## Environment", 1)[1].split("\n## ", 1)[0]
    return set(re.findall(r"^\| `(SPARK_GRAFT_[A-Z0-9_]+)` \|", section, re.M))


def test_env_knobs_match_readme_table():
    read = set().union(*(_env_reads(p) for p in _engine_files()))
    assert read, "no SPARK_GRAFT_* reads found: the scanner is broken"
    assert read == _readme_table()

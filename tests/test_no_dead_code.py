"""Every public top-level ``def``/``class`` in ``cloudbrush_spark/`` is used
in code by some non-test module: the package itself, ``__spark_entry__.py``,
``bench.py``, ``perfbench/`` or ``scripts/``.  A use is an AST ``Name`` or
``Attribute`` node, so docstrings, comments and the definition itself do
not count.  A name that only its own test reaches is dead code and goes,
unless ``ALLOWED`` lists it with the reason it stays."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "cloudbrush_spark"
USERS = [PKG, ROOT / "__spark_entry__.py", ROOT / "bench.py",
         ROOT / "perfbench", ROOT / "scripts"]

# (module path under cloudbrush_spark/, name) -> why it stays
ALLOWED = {
    ("functions/dna.py", "str_concat"):
        "G7/G8 two-node sequence merge of the reference (Node.java:842-854)",
    ("sources/fasta.py", "write_sfa_expanded"):
        "SFA sink that expands contracted nodes back to member reads",
}


def _files(paths):
    for p in paths:
        yield from (sorted(p.rglob("*.py")) if p.is_dir() else [p])


def _public_defs():
    for path in _files([PKG]):
        for node in ast.parse(path.read_text()).body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))
                    and not node.name.startswith("_")):
                yield path.relative_to(PKG).as_posix(), node.name


def _used_names():
    used = set()
    for path in _files(USERS):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
    return used


def test_every_public_name_has_a_non_test_user():
    used = _used_names()
    dead = [f"cloudbrush_spark/{mod}: {name}"
            for mod, name in _public_defs()
            if name not in used and (mod, name) not in ALLOWED]
    assert not dead, ("public names no non-test module uses (delete them "
                      "or add them to ALLOWED with a reason):\n"
                      + "\n".join(dead))


def test_allowlist_is_not_stale():
    defs = set(_public_defs())
    used = _used_names()
    stale = [f"{mod}: {name}" for mod, name in ALLOWED
             if (mod, name) not in defs or name in used]
    assert not stale, "ALLOWED entries that are gone or now used:\n" + \
        "\n".join(stale)

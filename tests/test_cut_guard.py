"""Every stage boundary materializes through ``plans.cut``: the choice
between a reliable and a local checkpoint, and the origin-plan sever,
live in ``cloudbrush_spark/plans/`` alone.  A direct ``.checkpoint(`` or
``.localCheckpoint(`` call anywhere else in the package would bypass
``spark.checkpoint.dir`` on a cluster."""

import io
import tokenize
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "cloudbrush_spark"
ALLOWED = set()


def _checkpoint_calls(path: Path):
    """(line number, source line) of each ``.checkpoint(`` /
    ``.localCheckpoint(`` call; comments and strings do not count."""
    src = path.read_text()
    lines = src.splitlines()
    toks = [t for t in tokenize.generate_tokens(io.StringIO(src).readline)
            if t.type in (tokenize.OP, tokenize.NAME)]
    for dot, name, paren in zip(toks, toks[1:], toks[2:]):
        if (dot.string == "." and paren.string == "("
                and name.string in ("checkpoint", "localCheckpoint")):
            yield name.start[0], lines[name.start[0] - 1]


def test_checkpoint_calls_only_in_plans():
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel.startswith("plans/"):
            continue
        for lineno, line in _checkpoint_calls(path):
            if not any(rel == f and pat in line for f, pat in ALLOWED):
                stray.append(f"cloudbrush_spark/{rel}:{lineno}: {line.strip()}")
    assert not stray, "checkpoint outside plans.cut:\n" + "\n".join(stray)


def test_guard_sees_calls():
    # the scan must find the helper's own calls, or it would pass vacuously
    lines = [line for _, line in _checkpoint_calls(PKG / "plans" / "sever.py")]
    assert any(".checkpoint(" in line for line in lines)
    assert any(".localCheckpoint(" in line for line in lines)

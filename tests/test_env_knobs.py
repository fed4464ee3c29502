"""Inventory of the EBP_* environment variables the package reads.

Every knob doubles the configurations tests and benchmarks must cover, so
adding or removing one is a deliberate edit to ``EXPECTED`` below."""

import ast
import pathlib

import elasticsearch_batch_percolator_spark as pkg

EXPECTED = {
    "EBP_SIMPLE_JOIN_VERIFY",
    "EBP_JV_MAX_RATIO",
    "EBP_BT_PRUNE",
    "EBP_BT_PRUNE_MAX_TERMS",
    "EBP_BT_PRUNE_MAX_PATS",
    "EBP_STATS_REFRESH",
    "EBP_DIST_COMPILE_MIN",
    "EBP_IO_CODEC",
    "EBP_INDEX_ENCODER",
}


def _read_knobs() -> set[str]:
    """EBP_* names as string literals in the package source: the names
    passed to os.environ / os.getenv (docstrings and comments never form
    such a literal)."""
    found: set[str] = set()
    for path in pathlib.Path(pkg.__file__).parent.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.startswith("EBP_")
                and node.value.replace("_", "").isalnum()
            ):
                found.add(node.value)
    return found


def test_env_knob_inventory():
    found = _read_knobs()
    assert found == EXPECTED, {
        "added": sorted(found - EXPECTED),
        "removed": sorted(EXPECTED - found),
    }

"""Import guard for the scripts no test runs.

``bench.py``, ``bench_extra.py``, ``__spark_entry__.py``, ``BENCH/*.py``,
``scripts/*.py`` and ``perfbench/*.py`` import package names, some of them
inside subprocess code strings, and ``perfbench/workloads.py`` patches
package functions by name. None of these run under pytest, so a package
deletion that breaks one would pass the suite. This test reads their text
(it imports none of them) and asserts that every imported or patched
package name resolves."""

import importlib
import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PKG = "graphsetintersection_spark"
HARNESS = sorted(
    [ROOT / "bench.py", ROOT / "bench_extra.py", ROOT / "__spark_entry__.py"]
    + [p for d in ("BENCH", "scripts", "perfbench") for p in (ROOT / d).glob("*.py")]
)
FROM_RE = re.compile(
    rf"^\s*from\s+({PKG}(?:\.\w+)*)\s+import\s+(\([^)]*\)|[^\n]*)", re.M
)
IMPORT_AS_RE = re.compile(rf"^\s*import\s+({PKG}(?:\.\w+)*)\s+as\s+(\w+)", re.M)
# the perfbench span patches: (owner, "attribute", "span name")
PATCH_RE = re.compile(r'\(\s*(\w+)\s*,\s*"(\w+)"\s*,\s*"[\w.]+"\s*\)')


def _resolve(module: str, name: str):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")  # a submodule


def _imports(text: str):
    """(module, name, bound alias) for every package import in ``text``."""
    for module, names in FROM_RE.findall(text):
        names = re.sub(r"#[^\n]*", "", names).strip("()\\ \n")
        for item in names.split(","):
            parts = item.split()
            if parts:
                yield module, parts[0], parts[-1]
    for dotted, alias in IMPORT_AS_RE.findall(text):
        module, _, name = dotted.rpartition(".")
        yield module, name, alias


def _dangling(path: Path) -> list[str]:
    text = path.read_text()
    bound, missing = {}, []
    for module, name, alias in _imports(text):
        try:
            bound[alias] = _resolve(module, name)
        except (ImportError, AttributeError):
            missing.append(f"{module}.{name}")
    for owner, attr in PATCH_RE.findall(text):
        if owner in bound and not hasattr(bound[owner], attr):
            missing.append(f"{owner}.{attr} (patched by name)")
    return missing


@pytest.mark.parametrize("path", HARNESS, ids=lambda p: str(p.relative_to(ROOT)))
def test_harness_imports_resolve(path):
    assert _dangling(path) == []


def test_perfbench_patch_targets_are_checked():
    """The patch scan must see the four PageRank names perfbench times, so
    a pattern that stops matching cannot pass silently."""
    text = (ROOT / "perfbench" / "workloads.py").read_text()
    patched = {attr for _, attr in PATCH_RE.findall(text)}
    assert {
        "pagerank_df_prepare",
        "pagerank_df_iterate",
        "pagerank_kernel_prepare",
        "pagerank_kernel_iterate",
    } <= patched
    bound = {alias for _, _, alias in _imports(text)}
    assert "pr_mod" in bound

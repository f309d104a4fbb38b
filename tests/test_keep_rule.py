"""Keep rule: an engine module stays only if something that ships needs it.

The users are a registered query (``__spark_entry__.py``), the CLI
benchmark (``bench.py``), the perfbench workloads (``perfbench/*.py``,
read only) and the modules an OPERATIONS.md step imports. Every package
module must be reached from those by imports -- including the imports
inside function bodies -- or be named in ``SURVEY_KEPT`` with the
SURVEY.md §2 row or the reason that keeps it.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "talknet_segmentation_batchprocessing_spark"

SURVEY_KEPT = {
    f"{PKG}.operators.checkpoint_convert": "M4 checkpoint load with key remap",
    f"{PKG}.operators.parity": "M1/M3 weights-parity harness for released checkpoints",
    f"{PKG}.operators.talknet_train": "M5 training step (losses, Adam, StepLR)",
    f"{PKG}.sources.csv_io": "S8 CSV source, S9 CSV sink",
    f"{PKG}.sources.overlay_sink": "S15 visualization overlay sink",
    f"{PKG}.sources.datasource": "S2 streaming dataset source",
    f"{PKG}.sources.bootstrap": "S13 dataset bootstrap",
    f"{PKG}.sources.checkpoints": "S7 pickle -> parquet stage checkpoints",
    f"{PKG}.plans.inspect": (
        "SURVEY §4 plan posture: the physical-plan assertions "
        "tests/test_plans.py pins (pushed filters, exchanges, codegen)"
    ),
    f"{PKG}.functions.phash": (
        "real-pixel pHash front end for image_dedup's shared "
        "hamming_cluster_bands tail (tests/test_image_phash.py)"
    ),
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path, module: str) -> set[str]:
    """Every dotted module name an ``import`` in *path* may load."""
    is_pkg = path.name == "__init__.py"
    package = module if is_pkg else module.rpartition(".")[0]
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")
                base = base[: len(base) - node.level + 1]
                base = ".".join(base + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def _reached(mods: dict[str, Path]) -> set[str]:
    ops = (ROOT / "OPERATIONS.md").read_text()
    todo = set(re.findall(rf"\b{PKG}(?:\.\w+)+", ops)) & set(mods)
    assert todo, "OPERATIONS.md names no engine module"
    roots = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    roots += sorted((ROOT / "perfbench").glob("*.py"))
    for path in roots:
        todo |= _imported_names(path, path.stem) & set(mods)
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        parents = {mod.rsplit(".", i)[0] for i in range(1, mod.count(".") + 1)}
        todo |= (_imported_names(mods[mod], mod) | parents) & set(mods)
    return seen


def test_every_module_has_a_user():
    mods = _package_modules()
    orphans = sorted(set(mods) - _reached(mods) - set(SURVEY_KEPT))
    assert not orphans, f"modules no user imports: {orphans}"


def test_survey_kept_names_live_unreached_modules():
    mods = _package_modules()
    assert all(reason.strip() for reason in SURVEY_KEPT.values())
    assert set(SURVEY_KEPT) <= set(mods), set(SURVEY_KEPT) - set(mods)
    # an entry a user already reaches is dead weight in the exception list
    assert not set(SURVEY_KEPT) & _reached(mods)

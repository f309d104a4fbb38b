"""Keep rule: engine code stays only if something that ships needs it.

The users are a registered query (``__spark_entry__.py``), the CLI
benchmark (``bench.py``), the perfbench workloads (``perfbench/*.py``,
read only) and the OPERATIONS.md code blocks. ``scripts/`` is not a
user: a script drives the engine by hand and its helpers must have a
user of their own. Tests are not users either.

Two levels:

- module: every package module must be reached from the users by
  imports, including the imports inside function bodies;
- function: every top-level function and class of the package must be
  named from live code. Live code is a root file, the
  OPERATIONS.md code blocks, the module-level statements of a reached
  module and the body of a live definition, so the walk runs to a
  fixpoint. A name used only inside its own body, or only by a
  definition nothing live names, is dead. ``@query`` functions are
  live: the decorator registers them. An attribute ``x.name`` names a
  definition only when ``x`` resolves, through the file's imports, to
  the module that defines ``name``: ``spark.udtf.register`` names no
  package function called ``register``.

Anything else is named in ``KEPT`` (a dotted module or function path)
with the SURVEY.md §2 row or the reason that keeps it. A kept entry is
live code itself, so what it calls is kept with it.
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "talknet_segmentation_batchprocessing_spark"
P = f"{PKG}."

KEPT = {
    # SURVEY §2 rows that no stage of the batch calls yet
    P + "sources.datasource.VideoCorpusDataSource": "S2 streaming dataset source",
    P + "sources.checkpoints.has_stage": "S7 resume check",
    P + "sources.csv_io.read_ava_csv": "S8 CSV source (AVA annotations)",
    P + "sources.csv_io.read_trial_list": "S8 CSV source (training trial list)",
    P + "sources.csv_io.read_talkset_list": "S8 CSV source (TalkSet list)",
    P + "sources.csv_io.write_predictions_csv": "S9 CSV sink",
    P + "sources.bootstrap.bootstrap": "S13 dataset bootstrap (driver side)",
    P + "sources.bootstrap.bootstrap_distributed": "S13 dataset bootstrap (executors)",
    P + "sources.bootstrap.ava_layout": "S13 AVA download layout",
    P + "sources.bootstrap.ava_manifest": "S13 AVA download manifest",
    P + "sources.corpus.write_if_absent": "S14 video copy-if-absent",
    P + "sources.overlay_sink.smooth_scores": "S15 visualization: W2 score smoothing",
    P + "sources.overlay_sink.overlay_frames": "S15 visualization overlay sink",
    P + "sources.overlay_sink.write_overlay_video": "S15 overlay sink tail",
    P + "operators.parity.run_s3fd_parity": "M1 weights parity, released checkpoint",
    P + "operators.parity.run_talknet_parity": "M3 weights parity, released checkpoint",
    P + "operators.checkpoint_convert.convert_s3fd": "M4 S3FD checkpoint key remap",
    P + "operators.checkpoint_convert.convert_talknet": "M4 TalkNet checkpoint key remap",
    P + "operators.talknet_train.train_heads_adam": "M5 training step (Adam + StepLR)",
    P + "operators.windows.pack_batches_exact": (
        "W7 exact greedy batch packing; w7_batch_packing registers the "
        "relational relaxation"
    ),
    P + "operators.multimodal.extract_image_features": (
        "X4 decode + resize feature shell over binary image columns"
    ),
    P + "functions.augment.snr_mix": "X8 SNR noise mixing",
    # plug-ins and sinks a caller passes or starts by hand
    P + "sources.media_ingest.pyav_decoder": (
        "S3/S5 decoder for real containers (PyAV), passed as "
        "explode_frames/extract_audio's decoder="
    ),
    P + "operators.multimodal.jpeg_image_decoder": "image decoder (pure numpy JPEG)",
    P + "operators.multimodal.cv2_image_decoder": "image decoder (cv2)",
    P + "operators.multimodal.pil_image_decoder": "image decoder (Pillow)",
    P + "functions.phash.image_phash_bands": (
        "real-pixel pHash front end for image_dedup's shared "
        "hamming_cluster_bands tail"
    ),
    P + "streaming.ann_ingest.ann_pq_index_sink": (
        "OPERATIONS.md §2: the compressed index's streaming sink"
    ),
}


@functools.cache
def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


@functools.cache
def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _package(path: Path, module: str) -> str:
    return module if path.name == "__init__.py" else module.rpartition(".")[0]


def _from_base(node: ast.ImportFrom, package: str) -> str:
    """The absolute module a ``from ... import`` reads from."""
    if not node.level:
        return node.module or ""
    base = package.split(".")
    base = base[: len(base) - node.level + 1]
    return ".".join(base + ([node.module] if node.module else []))


@functools.cache
def _imported_names(path: Path, module: str) -> frozenset[str]:
    """Every dotted module name an ``import`` in *path* may load."""
    names = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = _from_base(node, _package(path, module))
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return frozenset(names)


@functools.cache
def _module_aliases(tree: ast.AST, package: str = "") -> frozenset[tuple[str, str]]:
    """(local name, package module bound to it) over every import in *tree*."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update((a.asname, a.name) if a.asname else (a.name.split(".")[0],) * 2
                       for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = _from_base(node, package)
            out.update((a.asname or a.name, f"{base}.{a.name}") for a in node.names)
    return frozenset(b for b in out if b[1] in _package_modules())


def _roots() -> list[Path]:
    roots = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    return roots + sorted((ROOT / "perfbench").glob("*.py"))


def _operations_code() -> str:
    ops = (ROOT / "OPERATIONS.md").read_text()
    return "\n".join(re.findall(r"```python\n(.*?)```", ops, re.S))


def _reached(mods: dict[str, Path], kept=()) -> set[str]:
    todo = set(re.findall(rf"\b{PKG}(?:\.\w+)+", _operations_code())) & set(mods)
    assert todo, "OPERATIONS.md names no engine module"
    for path in _roots():
        todo |= _imported_names(path, path.stem) & set(mods)
    for key in kept:
        todo |= {m for m in (key, key.rpartition(".")[0]) if m in mods}
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


@functools.cache
def _names(node: ast.AST, aliases: frozenset[tuple[str, str]]) -> frozenset[str]:
    """The identifiers *node* mentions (names, imports) and the dotted
    ``module.attr`` of each attribute on a package module, the module
    resolved through *aliases* (``_module_aliases``)."""
    mods, bound = _package_modules(), dict(aliases)

    def module_of(expr: ast.AST) -> str | None:
        if isinstance(expr, ast.Attribute):
            dotted = f"{module_of(expr.value)}.{expr.attr}"
            return dotted if dotted in mods else None
        return bound.get(getattr(expr, "id", None))

    out = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            out.add(sub.id)
        elif isinstance(sub, ast.Attribute) and (base := module_of(sub.value)):
            out.add(f"{base}.{sub.attr}")
        elif isinstance(sub, ast.alias):
            out.add(sub.name.rpartition(".")[2])
    return frozenset(out)


def _is_query(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        target = dec.func if isinstance(dec, ast.Call) else dec
        if (getattr(target, "id", None) or getattr(target, "attr", None)) == "query":
            return True
    return False


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _live(mods: dict[str, Path], kept=()) -> tuple[dict[str, ast.AST], set[str]]:
    """(every top-level definition of a reached module, the live ones)."""
    defs: dict[str, ast.AST] = {}
    ops = ast.parse(_operations_code())
    live_names = set(_names(ops, _module_aliases(ops)))
    for path in _roots():
        live_names |= _names(_parse(path), _module_aliases(_parse(path)))
    aliases = {}
    for mod in sorted(_reached(mods, kept)):
        tree = _parse(mods[mod])
        aliases[mod] = _module_aliases(tree, _package(mods[mod], mod))
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs[f"{mod}.{stmt.name}"] = stmt
            else:
                live_names |= _names(stmt, aliases[mod])
    kept_mods = {k for k in kept if k in mods}
    live = {
        d for d, node in defs.items()
        if d in kept or d.rpartition(".")[0] in kept_mods or _is_query(node)
    }
    for d in live:
        live_names |= _names(defs[d], aliases[d.rpartition(".")[0]])
    grew = True
    while grew:
        grew = False
        for d, node in defs.items():
            if d not in live and (d in live_names or d.rpartition(".")[2] in live_names):
                live.add(d)
                live_names |= _names(node, aliases[d.rpartition(".")[0]])
                grew = True
    return defs, live


def test_every_module_has_a_user():
    mods = _package_modules()
    orphans = sorted(set(mods) - _reached(mods, KEPT))
    assert not orphans, f"modules no user imports: {orphans}"


def test_every_function_has_a_user():
    defs, live = _live(_package_modules(), KEPT)
    orphans = sorted(set(defs) - live)
    assert not orphans, f"functions no live code names: {orphans}"


def test_survey_kept_names_live_unreached_modules():
    """Every ``KEPT`` entry gives its SURVEY row or reason, names a module
    or definition of the package, and names code that no user and no
    other entry reaches."""
    mods = _package_modules()
    assert all(reason.strip() for reason in KEPT.values())
    defs, _ = _live(mods, KEPT)
    unknown = set(KEPT) - set(mods) - set(defs)
    assert not unknown, f"KEPT names nothing in the package: {sorted(unknown)}"
    # an entry that live code (the other entries included) already
    # reaches is dead weight in the exception list
    needless = []
    for key in KEPT:
        others = set(KEPT) - {key}
        if key in _reached(mods, others) or key in _live(mods, others)[1]:
            needless.append(key)
    assert not needless, f"KEPT entries that live code already reaches: {needless}"


def test_attribute_names_a_definition_only_through_its_module():
    """A definition named like a method called on another object, as
    ``spark.udtf.register``, is not live; ``module.name`` is."""
    tree = ast.parse(
        f"from {PKG}.sources import checkpoints as c\nspark.udtf.register(f)\nc.restore()"
    )
    names = _names(tree, _module_aliases(tree))
    assert "register" not in names and P + "sources.checkpoints.restore" in names

"""Registry lifecycle: persisted frames from one query are released
when the next registry query starts, so a long sweep (the driver's
70-query correctness gate, repeated entry() calls) holds at most one
query's caches instead of accumulating all of them."""

from __future__ import annotations

from talknet_segmentation_batchprocessing_spark import registry

from .conftest import SF_SMOKE


def test_sweep_releases_prior_query_caches(spark):
    qs = registry.all_queries()

    # minhash LSH persists its shingle + signature frames
    qs["dedup_minhash_lsh"](spark, SF_SMOKE).count()
    assert len(registry._PERSISTED) > 0

    # the next wrapped query releases them before running; uid concat
    # itself persists nothing, so the tracked list must drain to empty
    qs["x12_uid_concat"](spark, SF_SMOKE).count()
    assert registry._PERSISTED == []


def test_entry_releases_prior_caches(spark, monkeypatch):
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod

    qs = registry.all_queries()
    qs["dedup_minhash_lsh"](spark, SF_SMOKE).count()
    assert len(registry._PERSISTED) > 0
    entrymod.entry(spark).count()
    assert registry._PERSISTED == []


def test_driver_window_occupies_first_50_slots():
    """The driver verifies the FIRST 50 registered queries; the curated
    window must occupy exactly those slots, in order."""
    from talknet_segmentation_batchprocessing_spark import registry

    registry._ensure_loaded()
    names = list(registry.REGISTRY)
    assert len(registry._DRIVER_WINDOW) == 50
    assert names[:50] == registry._DRIVER_WINDOW
    # every registered query has an oracle except the one by-design
    # sequential kernel
    no_oracle = [n for n, s in registry.REGISTRY.items() if s.oracle is None]
    assert no_oracle == ["j6_greedy_tracking"]


def test_registered_fn_names_match_query_names():
    """Guard against the decorator-slip class of bug: inserting a
    helper between @query(...) and its intended function silently
    registers the helper (which then receives (spark, sf_dir) and
    explodes at run time). Every registered fn must be the function
    the name says it is."""
    from talknet_segmentation_batchprocessing_spark import registry

    registry._ensure_loaded()
    mismatched = {
        name: spec.fn.__name__
        for name, spec in registry.REGISTRY.items()
        if spec.fn.__name__ != name
    }
    assert not mismatched, f"@query decorator attached to the wrong def: {mismatched}"


def test_oracles_are_bound_in_the_decorator():
    """Every oracle is passed in its own ``@query(oracle=...)``: no
    module under ``queries/`` assigns to a ``.oracle`` attribute after
    registration, so a query is never registered without its oracle
    while an import is still running."""
    import ast
    from pathlib import Path

    from talknet_segmentation_batchprocessing_spark import queries

    hits = []
    for path in sorted(Path(queries.__file__).parent.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                targets = [node.target]
            else:
                continue
            hits += [
                f"{path.name}:{node.lineno}"
                for t in targets
                if isinstance(t, ast.Attribute) and t.attr == "oracle"
            ]
    assert not hits, f"late .oracle assignments: {hits}"

"""One memo for the shared corpus artifacts.

The reference builds each intermediate once and lets every downstream
task read it (the staged CSVs feed every Glue convert). The catalog
does the same with its data-sized intermediates — the MinHash index
(shingles + signatures), the MinHash pair graph, CC labels, k-means
cells, exact top-k ground truth, scratch CSV landings, bucketed
catalog tables, ... — through one decorator:

    @artifact("minhash_pair_graph")
    def _lsh_pairs(spark, sf_dir): ...

A builder may read other artifacts: the pair graph and the MinHash
estimator-quality report both read `minhash_index`, so the corpus is
tokenized and signed once per (session, corpus).

Every artifact is keyed by (applicationId, absolute corpus path), so a
fresh session never sees another application's frames and path
spelling does not matter. Each artifact keeps at most `MAX_ENTRIES`
entries; past that the OLDEST insertion is dropped, so a long-lived
process that walks many (session, corpus) pairs does not pin
checkpointed frames or driver-side lists without bound. 8 covers every
harness in this repo (one session x three corpora) with room.

Artifacts that own scratch data (a path, catalog tables to DROP)
declare it with `owns=`. An evicted entry whose owning application is
dead is reclaimed at once. One owned by the LIVE application is parked
instead: a lazy frame handed out earlier in that application may still
scan the files/tables. Parked entries are swept the next time a
DIFFERENT application touches the registry — by then the owner (and
every frame it handed out) is gone. Interpreter exit is covered
independently: scratch paths come from `util.scratch_dir`, which
registers an atexit rmtree.

Determinism makes the memo safe: every builder is a pure function of
the corpus, so a query graded in a fresh session produces identical
results with or without a warm memo.
"""

from __future__ import annotations

import functools
import os
import shutil
from typing import Callable

#: per-artifact entry bound (oldest insertion evicted first)
MAX_ENTRIES = 8

_MEMOS: dict[str, dict[tuple[str, str], object]] = {}
_BUILDERS: dict[str, Callable] = {}
#: parked scratch: (owner applicationId, path, catalog tables to DROP)
_ORPHANS: list[tuple[str, str, tuple[str, ...]]] = []


def artifact(name: str, owns: Callable | None = None):
    """Memoize a `(spark, sf_dir)` builder as the artifact `name`.
    `owns(value)` returns the (scratch path, catalog tables) a built
    value owns, reclaimed on eviction per the module rule."""
    def wrap(build):
        memo = _MEMOS[name] = {}

        @functools.wraps(build)
        def get(spark, sf_dir: str):
            app = spark.sparkContext.applicationId
            key = (app, os.path.abspath(sf_dir))
            if key not in memo:
                value = build(spark, sf_dir)
                if len(memo) >= MAX_ENTRIES:
                    old_key = next(iter(memo))
                    old = memo.pop(old_key)
                    if owns is not None:
                        _ORPHANS.append((old_key[0], *owns(old)))
                memo[key] = value
            _sweep(spark, app)
            return memo[key]

        _BUILDERS[f"artifact:{name}"] = get
        return get
    return wrap


def _sweep(spark, live_app: str) -> None:
    """Reclaim parked scratch whose owning application is not the
    live one; keep the rest parked."""
    keep = []
    for app, path, tables in _ORPHANS:
        if app == live_app:
            keep.append((app, path, tables))
            continue
        for t in tables:
            try:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            except Exception:
                pass  # catalog of the dead app may be gone entirely
        shutil.rmtree(path, ignore_errors=True)
    _ORPHANS[:] = keep


def builders() -> dict[str, Callable]:
    """Every registered artifact getter as `{"artifact:<name>": get}`,
    in definition order (the catalog's plan modules register them on
    import)."""
    from . import plans  # noqa: F401  (registers every artifact)
    return dict(_BUILDERS)

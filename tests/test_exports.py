"""The public surface: every exported name resolves, and names removed
from it stay removed (each has a one-line replacement through
``IndexHandle``, listed in CHANGES.md)."""

from __future__ import annotations

import importlib

import pytest

#: module -> names deleted from it; none may be exported or defined again
REMOVED = {
    "fastbloom_spark.sources": ("prune_index", "pruned_read_files",
                                "pruned_read_row_groups",
                                "read_table_index"),
    "fastbloom_spark.sources.index": ("prune_index", "pruned_read_files",
                                      "pruned_read_row_groups", "read_index",
                                      "read_table_index"),
}


@pytest.mark.parametrize("module", ["fastbloom_spark",
                                    "fastbloom_spark.sources"])
def test_every_exported_name_resolves(module):
    mod = importlib.import_module(module)
    assert [n for n in mod.__all__ if not hasattr(mod, n)] == []
    assert len(set(mod.__all__)) == len(mod.__all__)


@pytest.mark.parametrize("module", sorted(REMOVED))
def test_removed_names_stay_removed(module):
    mod = importlib.import_module(module)
    names = REMOVED[module]
    assert [n for n in names if n in getattr(mod, "__all__", ())] == []
    assert [n for n in names if hasattr(mod, n)] == []

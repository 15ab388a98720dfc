"""Gate-window integrity (VERDICT r5 #2).

The driver's correctness gate checks only the FIRST 50 names that
``all_queries()`` yields, and the window composition is a per-round
promise documented in ``plans/registry.py``. These tests make the
promise mechanical: every registered query must hold an explicit,
deliberate position in ``_GATE_PRIORITY`` — a forgotten pin can never
silently reorder the window.
"""

from __future__ import annotations

from storm_bench_spark.plans import registry as R


def _loaded_registry() -> set[str]:
    R._ensure_loaded()
    return set(R._REGISTRY)


def test_gate_priority_is_set_equal_to_registry():
    names = _loaded_registry()
    listed = set(R._GATE_PRIORITY)
    missing = names - listed
    extra = listed - names
    assert not missing, (
        f"queries registered but not pinned in _GATE_PRIORITY (pin them "
        f"explicitly — in the window if touched this round, else below "
        f"with a rotation promise): {sorted(missing)}"
    )
    assert not extra, f"_GATE_PRIORITY names with no registered query: {sorted(extra)}"


def test_gate_priority_has_no_duplicates():
    gp = R._GATE_PRIORITY
    assert len(gp) == len(set(gp)), (
        f"duplicate names in _GATE_PRIORITY: "
        f"{sorted(n for n in set(gp) if gp.count(n) > 1)}"
    )


def test_all_queries_order_matches_gate_priority():
    # all_queries() is what __spark_entry__ hands the driver; its
    # iteration order IS the gate order. Pin the correspondence.
    assert tuple(R.all_queries()) == R._GATE_PRIORITY


def test_unlisted_names_sort_last_not_first():
    # Fail-safe semantics: even if the set-equality test were skipped,
    # an unlisted query lands BELOW the window, never inside it.
    spec = R.QuerySpec(name="zz_unlisted_probe", fn=lambda s, d: None, oracle="SELECT 1 AS x")
    R._ensure_loaded()
    R._REGISTRY[spec.name] = spec
    try:
        ordered = [s.name for s in R._gate_ordered()]
        assert ordered[-1] == spec.name
        assert spec.name not in ordered[:50]
    finally:
        del R._REGISTRY[spec.name]


def test_every_query_has_an_oracle():
    # oracles are mandatory: every query gets the driver's full row-hash
    # check, and the bench times every row against its DuckDB twin with
    # no rows-only branch
    assert set(R.all_oracles()) == set(R.all_queries())


def test_registry_binds_the_decorated_function():
    # register returns fn itself: no wrapper sits between the driver and
    # a query, and the module name and the registry entry are one object
    import importlib

    for name, fn in R.all_queries().items():
        assert not hasattr(fn, "__wrapped__"), name
        assert getattr(importlib.import_module(fn.__module__), fn.__name__) is fn, name

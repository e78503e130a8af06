"""The driver's correctness gate checks only the FIRST 50 registry entries —
a 51st query would silently fall outside the checked window. Pin the invariant
structurally so a future addition fails loudly here instead."""

DRIVER_WINDOW = 50


def test_registry_fits_driver_window():
    import __spark_entry__ as E

    q = E.queries()
    assert len(q) <= DRIVER_WINDOW, (
        f"{len(q)} registry entries exceed the driver's {DRIVER_WINDOW}-entry "
        f"correctness window — fold a demo variant into a combined row "
        f"(see queries() docstring) instead of pushing a query out of the "
        f"checked window")


def test_every_query_has_oracle():
    """Every registry entry is fully oracled (rows+schema+hash) — zero
    rows-only exemptions since round 3; keep it that way."""
    import __spark_entry__ as E

    q = set(E.queries())
    o = set(E.oracle_sql())
    assert q == o, (f"queries without oracle: {sorted(q - o)}; "
                    f"orphan oracles: {sorted(o - q)}")

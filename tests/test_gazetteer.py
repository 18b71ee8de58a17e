"""AdministrativeArea resolution (reference: datamart-geo +
profile_types.py:199-203, core.py:486-499) over the vendored
offline gazetteer."""

from datamart_spark.profiler.gazetteer import resolve


def test_resolve_countries_and_aliases():
    assert resolve("FRANCE")[0] == 0
    assert resolve("  United  Kingdom ")[0] == 0
    assert resolve("russian federation") == resolve("RUSSIA")
    assert resolve("VIET NAM") == resolve("vietnam")
    assert resolve("atlantis") is None
    assert resolve("AFRICA") is None  # continents are not admin areas


def test_all_tpch_nations_resolve_level0():
    nations = [
        "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
        "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
        "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
        "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
        "UNITED STATES",
    ]
    for n in nations:
        r = resolve(n)
        assert r is not None and r[0] == 0, n


def test_level_collision_prefers_lowest_level():
    # "Georgia" is a U.S. state here (no country Georgia in the vendored
    # subset), but "Washington" state vs no-collision sanity:
    assert resolve("georgia")[0] == 1
    # a level-0 name shadowing nothing stays level 0
    assert resolve("germany")[0] == 0

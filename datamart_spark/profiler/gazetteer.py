"""Offline administrative-area gazetteer (reference: datamart-geo).

The reference resolves TEXT columns against the ``datamart_geo.GeoData``
sqlite database (Wikidata-derived place names + bounds); the suite's
``admin_area_profile`` applies its AdministrativeArea rule (more than
70% of a column resolves, level guessed at max(3, 90%) —
profile_types.py:199-203, core.py:486-499) over ``NAMES_BY_LEVEL``.

The package ships without the datamart-geo data files, so this module
vendors a COMPACT public-knowledge table: ~55 countries
(level 0 — includes every TPC-H nation name), the 50 U.S. states and
the 16 German Länder (level 1), each with a coarse lat/lon bounding
box.  Same contract, smaller world: ``resolve(name)`` -> (level,
bounds) or None.  Swap ``AREAS`` for the full datamart-geo extract on a
real deployment.

Name collisions across levels (e.g. "Georgia" the U.S. state vs the
country) resolve to the LOWEST level present — matching datamart_geo's
preference for the most prominent (lowest-level) entity.
"""

from __future__ import annotations

# (canonical name, aliases, level, (min_lat, max_lat, min_lon, max_lon))
# Bounds are coarse public-knowledge envelopes (degrees, rounded) — the
# reference merges them into a search envelope, never uses them exactly.
AREAS: list[tuple[str, tuple[str, ...], int, tuple[float, float, float, float]]] = [
    ("algeria", (), 0, (19, 37, -9, 12)),
    ("argentina", (), 0, (-55, -22, -73, -53)),
    ("australia", (), 0, (-44, -10, 113, 154)),
    ("austria", (), 0, (46, 49, 9, 17)),
    ("belgium", (), 0, (49, 52, 2, 6)),
    ("brazil", (), 0, (-34, 5, -74, -34)),
    ("canada", (), 0, (41, 83, -141, -52)),
    ("chile", (), 0, (-56, -17, -76, -66)),
    ("china", (), 0, (18, 53, 73, 135)),
    ("colombia", (), 0, (-4, 13, -79, -66)),
    ("czechia", ("czech republic",), 0, (48, 51, 12, 19)),
    ("denmark", (), 0, (54, 58, 8, 13)),
    ("egypt", (), 0, (22, 32, 25, 37)),
    ("ethiopia", (), 0, (3, 15, 33, 48)),
    ("finland", (), 0, (60, 70, 20, 32)),
    ("france", (), 0, (41, 51, -5, 10)),
    ("germany", ("deutschland",), 0, (47, 55, 6, 15)),
    ("greece", (), 0, (35, 42, 20, 28)),
    ("hungary", (), 0, (46, 49, 16, 23)),
    ("india", (), 0, (8, 36, 68, 97)),
    ("indonesia", (), 0, (-11, 6, 95, 141)),
    ("iran", ("islamic republic of iran",), 0, (25, 40, 44, 64)),
    ("iraq", (), 0, (29, 37, 39, 49)),
    ("ireland", (), 0, (51, 55, -10, -6)),
    ("israel", (), 0, (29, 33, 34, 36)),
    ("italy", (), 0, (36, 47, 7, 19)),
    ("japan", (), 0, (24, 46, 123, 146)),
    ("jordan", (), 0, (29, 33, 35, 39)),
    ("kenya", (), 0, (-5, 5, 34, 42)),
    ("mexico", (), 0, (14, 33, -118, -86)),
    ("morocco", (), 0, (27, 36, -13, -1)),
    ("mozambique", (), 0, (-27, -10, 30, 41)),
    ("netherlands", ("holland",), 0, (50, 54, 3, 7)),
    ("new zealand", (), 0, (-47, -34, 166, 179)),
    ("nigeria", (), 0, (4, 14, 3, 15)),
    ("norway", (), 0, (58, 71, 4, 31)),
    ("pakistan", (), 0, (23, 37, 61, 77)),
    ("peru", (), 0, (-18, 0, -81, -69)),
    ("philippines", (), 0, (5, 21, 117, 127)),
    ("poland", (), 0, (49, 55, 14, 24)),
    ("portugal", (), 0, (37, 42, -10, -6)),
    ("romania", (), 0, (43, 48, 20, 30)),
    ("russia", ("russian federation",), 0, (41, 82, 19, 180)),
    ("saudi arabia", (), 0, (16, 32, 34, 56)),
    ("south africa", (), 0, (-35, -22, 16, 33)),
    ("south korea", ("republic of korea",), 0, (33, 39, 125, 130)),
    ("spain", (), 0, (36, 44, -9, 4)),
    ("sweden", (), 0, (55, 69, 11, 24)),
    ("switzerland", (), 0, (45, 48, 6, 11)),
    ("thailand", (), 0, (5, 21, 97, 106)),
    ("turkey", ("turkiye",), 0, (36, 42, 26, 45)),
    ("ukraine", (), 0, (44, 52, 22, 40)),
    ("united kingdom", ("uk", "great britain"), 0, (50, 61, -8, 2)),
    ("united states", ("usa", "united states of america", "us"), 0,
     (24, 49, -125, -66)),
    ("vietnam", ("viet nam",), 0, (8, 24, 102, 110)),
    # --- U.S. states (level 1) ---------------------------------------
    ("alabama", (), 1, (30, 35, -88, -85)),
    ("alaska", (), 1, (51, 72, -180, -130)),
    ("arizona", (), 1, (31, 37, -115, -109)),
    ("arkansas", (), 1, (33, 36, -95, -89)),
    ("california", (), 1, (32, 42, -124, -114)),
    ("colorado", (), 1, (37, 41, -109, -102)),
    ("connecticut", (), 1, (41, 42, -74, -72)),
    ("delaware", (), 1, (38, 40, -76, -75)),
    ("florida", (), 1, (24, 31, -88, -80)),
    ("georgia", (), 1, (30, 35, -86, -81)),
    ("hawaii", (), 1, (19, 22, -160, -155)),
    ("idaho", (), 1, (42, 49, -117, -111)),
    ("illinois", (), 1, (37, 43, -91, -87)),
    ("indiana", (), 1, (38, 42, -88, -85)),
    ("iowa", (), 1, (40, 43, -96, -90)),
    ("kansas", (), 1, (37, 40, -102, -95)),
    ("kentucky", (), 1, (36, 39, -89, -82)),
    ("louisiana", (), 1, (29, 33, -94, -89)),
    ("maine", (), 1, (43, 47, -71, -67)),
    ("maryland", (), 1, (38, 40, -79, -75)),
    ("massachusetts", (), 1, (41, 43, -73, -70)),
    ("michigan", (), 1, (42, 48, -90, -82)),
    ("minnesota", (), 1, (43, 49, -97, -90)),
    ("mississippi", (), 1, (30, 35, -92, -88)),
    ("missouri", (), 1, (36, 41, -96, -89)),
    ("montana", (), 1, (44, 49, -116, -104)),
    ("nebraska", (), 1, (40, 43, -104, -95)),
    ("nevada", (), 1, (35, 42, -120, -114)),
    ("new hampshire", (), 1, (43, 45, -72, -71)),
    ("new jersey", (), 1, (39, 41, -75, -74)),
    ("new mexico", (), 1, (31, 37, -109, -103)),
    ("new york", (), 1, (40, 45, -80, -72)),
    ("north carolina", (), 1, (34, 37, -84, -75)),
    ("north dakota", (), 1, (46, 49, -104, -97)),
    ("ohio", (), 1, (38, 42, -85, -80)),
    ("oklahoma", (), 1, (34, 37, -103, -94)),
    ("oregon", (), 1, (42, 46, -125, -117)),
    ("pennsylvania", (), 1, (40, 42, -81, -75)),
    ("rhode island", (), 1, (41, 42, -72, -71)),
    ("south carolina", (), 1, (32, 35, -83, -79)),
    ("south dakota", (), 1, (43, 46, -104, -96)),
    ("tennessee", (), 1, (35, 37, -90, -82)),
    ("texas", (), 1, (26, 37, -107, -93)),
    ("utah", (), 1, (37, 42, -114, -109)),
    ("vermont", (), 1, (43, 45, -73, -71)),
    ("virginia", (), 1, (36, 39, -84, -75)),
    ("washington", (), 1, (45, 49, -125, -117)),
    ("west virginia", (), 1, (37, 41, -83, -78)),
    ("wisconsin", (), 1, (42, 47, -93, -87)),
    ("wyoming", (), 1, (41, 45, -111, -104)),
    # --- German Länder (level 1) -------------------------------------
    ("baden-wurttemberg", ("baden-württemberg",), 1, (47, 50, 7, 11)),
    ("bavaria", ("bayern",), 1, (47, 51, 9, 14)),
    ("berlin", (), 1, (52, 53, 13, 14)),
    ("brandenburg", (), 1, (51, 53, 11, 15)),
    ("bremen", (), 1, (53, 54, 8, 9)),
    ("hamburg", (), 1, (53, 54, 9, 11)),
    ("hesse", ("hessen",), 1, (49, 52, 7, 10)),
    ("lower saxony", ("niedersachsen",), 1, (51, 54, 6, 12)),
    ("mecklenburg-vorpommern", (), 1, (53, 55, 10, 15)),
    ("north rhine-westphalia", ("nordrhein-westfalen",), 1, (50, 53, 5, 9)),
    ("rhineland-palatinate", ("rheinland-pfalz",), 1, (49, 51, 6, 9)),
    ("saarland", (), 1, (49, 50, 6, 8)),
    ("saxony", ("sachsen",), 1, (50, 52, 12, 15)),
    ("saxony-anhalt", ("sachsen-anhalt",), 1, (51, 53, 11, 13)),
    ("schleswig-holstein", (), 1, (53, 55, 8, 11)),
    ("thuringia", ("thüringen",), 1, (50, 52, 9, 13)),
]


def normalize(name: str) -> str:
    """Match key: lowercase, trimmed, inner whitespace collapsed."""
    return " ".join(name.lower().split())


def _build() -> dict[str, tuple[int, tuple[float, float, float, float]]]:
    out: dict[str, tuple[int, tuple[float, float, float, float]]] = {}
    for canonical, aliases, level, bounds in AREAS:
        for nm in (canonical, *aliases):
            key = normalize(nm)
            if key not in out or level < out[key][0]:  # lowest level wins
                out[key] = (level, bounds)
    return out


_LOOKUP = _build()

#: normalized names by resolved level — the flat lists
#: ``suite/star.admin_area_profile`` embeds as JVM-side ``isin``
#: literals (a few hundred strings: negligible against any scan)
NAMES_BY_LEVEL: dict[int, list[str]] = {}
for _k, (_lvl, _b) in _LOOKUP.items():
    NAMES_BY_LEVEL.setdefault(_lvl, []).append(_k)


def resolve(name: str) -> tuple[int, tuple[float, float, float, float]] | None:
    """(level, (min_lat, max_lat, min_lon, max_lon)) or None."""
    return _LOOKUP.get(normalize(name))

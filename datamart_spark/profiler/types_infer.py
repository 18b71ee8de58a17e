"""Column profiling: structural + semantic type inference, Spark-first.

Port of the reference's rules (lib_profiler/datamart_profiler/
profile_types.py), which receive every column as strings and vote by
regex ratios.  Constants preserved:

- MAX_UNCLEAN = 0.02 — a column is Integer/Float if ≥98% of non-empty
  values match (profile_types.py:58,148)
- Integer regex ``^[+-]?[0-9]+(\\.0*)?$`` (profile_types.py:12-16)
- Float regex (profile_types.py:17-24)
- Boolean value set {0,1,true,false,y,n,yes,no} (profile_types.py:86-87)
- MAX_CATEGORICAL_RATIO = 0.10 — Enumeration if distinct ≤ 10% of
  non-empty (profile_types.py:62,209-218)
- identifier: column name starts/ends with id/identifier/index
  (profile_types.py:219-229)
- integer column named "year" → DateTime (profile_types.py:236-248)
- MISSING_DATA when the whole column is empty (profile_types.py:122-123)
- free text: ≥98% of non-empty values have ≥3 whitespace runs (and are
  not WKT/geo strings) → semantic Text, suppressing Enumeration
  (profile_types.py:84-85,196-218)
- AdministrativeArea: >70% resolve against the offline gazetteer, with
  level guess + merged envelope (profile_types.py:199-203,
  core.py:486-499,640-668; see gazetteer.py)

Execution shape: ONE aggregation pass computes every counter for every
column simultaneously (a single select over the scan → one reduce), so
profiling an N-column 100 TB table costs one full scan, not N.  A
second, typed pass collects numeric/temporal stats (mean, population
stddev, min/max, quantile ranges) only for the columns that won a
numeric/temporal type.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from . import gazetteer

MAX_UNCLEAN = 0.02
MAX_CATEGORICAL_RATIO = 0.10

# reference regexes (profile_types.py:12-53), RE2/Java-compatible
_INT_RE = r"^[+-]?[0-9]+(\.0*)?$"
_FLOAT_RE = r"^[+-]?([0-9]+\.[0-9]*|\.[0-9]+|[0-9]+)([eE][+-]?[0-9]+)?$"
_BOOL_SET = ["0", "1", "true", "false", "y", "n", "yes", "no"]
# WKT point "POINT (x y)" / "POINT(x, y)" / "Name (lat, long)" combined,
# and WKT polygon (profile_types.py:25-53)
_WKT_POINT_RE = r"^POINT ?\(-?[0-9]{1,3}\.[0-9]{1,15} -?[0-9]{1,3}\.[0-9]{1,15}\)$"
_OTHER_POINT_RE = r"^POINT ?\(-?[0-9]{1,3}\.[0-9]{1,15}, ?-?[0-9]{1,3}\.[0-9]{1,15}\)$"
_GEO_COMBINED_RE = (
    r"^[\p{Lu}\p{Po}0-9 ]+ \(-?[0-9]{1,3}\.[0-9]{1,15}, ?-?[0-9]{1,3}\.[0-9]{1,15}\)$"
)
_WKT_POLYGON_RE = r"^POLYGON ?\((\([0-9 .]+\), ?)*\([0-9 .]+\)\)$"
# lat/long column-name substrings (spatial.py:33-34)
LATITUDE_NAMES = ("latitude", "lat", "ycoord", "y_coord")
LONGITUDE_NAMES = ("longitude", "long", "lon", "lng", "xcoord", "x_coord")

# structural / semantic type URIs (types.py:1-51 keeps these stable)
TYPE_MISSING = "https://metadata.datadrivendiscovery.org/types/MissingData"
TYPE_INTEGER = "http://schema.org/Integer"
TYPE_FLOAT = "http://schema.org/Float"
TYPE_TEXT = "http://schema.org/Text"
TYPE_GEO_POINT = "http://schema.org/GeoCoordinates"
TYPE_GEO_POLYGON = "http://schema.org/GeoShape"
SEM_BOOLEAN = "http://schema.org/Boolean"
SEM_ENUMERATION = "http://schema.org/Enumeration"
SEM_DATETIME = "http://schema.org/DateTime"
SEM_IDENTIFIER = "http://schema.org/identifier"
SEM_LATITUDE = "http://schema.org/latitude"
SEM_LONGITUDE = "http://schema.org/longitude"


@dataclass
class ColumnProfile:
    name: str
    structural_type: str
    semantic_types: list[str] = field(default_factory=list)
    nb_rows: int = 0
    nb_empty: int = 0
    nb_distinct: int = 0
    mean: float | None = None
    stddev: float | None = None
    ranges: list[tuple[float, float]] | None = None
    temporal_resolution: str | None = None
    admin_area_level: int | None = None
    admin_bounds: tuple[float, float, float, float] | None = None
    address_bounds: tuple[float, float, float, float] | None = None


def _is_id_name(name: str) -> bool:
    n = name.strip().lower().replace(" ", "").replace("-", "").replace("_", "")
    return n.startswith(("id", "identifier", "index")) or n.endswith(
        ("id", "identifier", "index")
    )


def profile_dataframe(
    df: DataFrame,
    compute_ranges: bool = True,
    range_method: str = "kmeans",
    sample_cap: int = 100_000,
    nominatim: str | None = None,
    nominatim_fetch=None,
) -> list[ColumnProfile]:
    """Profile every column.  Input columns are treated as strings
    (reference ingests everything as str, core.py:210-217).

    ``range_method``:
    - "kmeans" (default, reference-faithful): A8 K-Means compression
      (numerical.py:36-84) over a seeded row sample (the reference
      itself profiles a seeded ≤50 MB sample, core.py:28-30,199-213;
      seed 89, ``sample_cap`` values per column here);
    - "quantile": fully-distributed percentile_approx zone map — the
      100 TB path when even a sample collect is unwanted.
    """
    cols = df.columns
    s = {c: F.col(c).cast("string") for c in cols}
    aggs = []
    for c in cols:
        v = s[c]
        nonempty = v.isNotNull() & (v != "")
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.when(~nonempty, 1).otherwise(0)).alias(f"{c}__empty"),
            F.count_distinct(F.when(nonempty, v)).alias(f"{c}__distinct"),
            F.sum(F.when(nonempty & v.rlike(_INT_RE), 1).otherwise(0)).alias(f"{c}__int"),
            F.sum(F.when(nonempty & v.rlike(_FLOAT_RE), 1).otherwise(0)).alias(f"{c}__float"),
            F.sum(
                F.when(nonempty & F.lower(v).isin(_BOOL_SET), 1).otherwise(0)
            ).alias(f"{c}__bool"),
            F.sum(
                F.when(nonempty & F.try_to_timestamp(v).isNotNull(), 1).otherwise(0)
            ).alias(f"{c}__ts"),
            F.sum(
                F.when(
                    nonempty
                    & (v.rlike(_WKT_POINT_RE) | v.rlike(_OTHER_POINT_RE)
                       | v.rlike(_GEO_COMBINED_RE)),
                    1,
                ).otherwise(0)
            ).alias(f"{c}__geopt"),
            F.sum(F.when(nonempty & v.rlike(_WKT_POLYGON_RE), 1).otherwise(0)).alias(
                f"{c}__geopoly"
            ),
            F.sum(
                F.when(
                    nonempty & F.abs(v.try_cast("double")).between(0.0, 90.0), 1
                ).otherwise(0)
            ).alias(f"{c}__lat"),
            F.sum(
                F.when(
                    nonempty & F.abs(v.try_cast("double")).between(0.0, 180.0), 1
                ).otherwise(0)
            ).alias(f"{c}__long"),
        ]
        # free-text counter (profile_types.py:84-85): values with ≥3
        # whitespace runs (≥4 words) that are not WKT/geo strings — the
        # reference's elif chain reaches the text bucket only after the
        # geo regexes; int/float literals cannot contain whitespace
        aggs.append(
            F.sum(
                F.when(
                    nonempty
                    & v.rlike(r"\s+\S+\s+\S+\s+")
                    & ~v.rlike(_WKT_POINT_RE)
                    & ~v.rlike(_OTHER_POINT_RE)
                    & ~v.rlike(_GEO_COMBINED_RE)
                    & ~v.rlike(_WKT_POLYGON_RE),
                    1,
                ).otherwise(0)
            ).alias(f"{c}__text")
        )
        # AdministrativeArea resolution counters (gazetteer.py): the
        # vendored name lists ride the SAME single pass as JVM-side
        # `isin` literals — no extra scan, no UDF (reference resolves
        # via datamart-geo sqlite per value, profile_types.py:199-203)
        nm = F.regexp_replace(F.trim(F.lower(v)), r"\s+", " ")
        for lvl, names in sorted(gazetteer.NAMES_BY_LEVEL.items()):
            aggs.append(
                F.sum(
                    F.when(nonempty & nm.isin(names), 1).otherwise(0)
                ).alias(f"{c}__adm{lvl}")
            )
    row = df.agg(*aggs).collect()[0]

    profiles: list[ColumnProfile] = []
    numeric_cols: list[str] = []
    temporal_cols: list[str] = []
    admin_cols: list[str] = []
    text_cols: list[str] = []
    for c in cols:
        rows = row[f"{c}__rows"]
        empty = row[f"{c}__empty"]
        n = rows - empty
        p = ColumnProfile(name=c, structural_type=TYPE_TEXT, nb_rows=rows,
                          nb_empty=empty, nb_distinct=row[f"{c}__distinct"])
        if n == 0:
            p.structural_type = TYPE_MISSING
            profiles.append(p)
            continue
        unclean_int = (n - row[f"{c}__int"]) / n
        unclean_float = (n - row[f"{c}__float"]) / n
        unclean_ts = (n - row[f"{c}__ts"]) / n
        if unclean_int <= MAX_UNCLEAN:
            p.structural_type = TYPE_INTEGER
        elif unclean_float <= MAX_UNCLEAN:
            p.structural_type = TYPE_FLOAT
        # geo structural types, precedence after numeric exactly as the
        # reference orders its branches (profile_types.py:124-135)
        elif (n - row[f"{c}__geopt"]) / n <= MAX_UNCLEAN:
            p.structural_type = TYPE_GEO_POINT
        elif (n - row[f"{c}__geopoly"]) / n <= MAX_UNCLEAN:
            p.structural_type = TYPE_GEO_POLYGON

        if (n - row[f"{c}__bool"]) / n <= MAX_UNCLEAN:
            p.semantic_types.append(SEM_BOOLEAN)
        # reference precedence inside the TEXT branch
        # (profile_types.py:196-218): AdministrativeArea forces
        # categorical; otherwise ≥98%-of-non-empty free-text values win
        # over the distinct-ratio Enumeration rule (a column of
        # sentences is free text even when sentences repeat)
        is_text = p.structural_type == TYPE_TEXT
        admin_counts = (
            {lvl: int(row[f"{c}__adm{lvl}"]) for lvl in gazetteer.NAMES_BY_LEVEL}
            if is_text
            else {}
        )
        is_admin = is_text and (
            sum(admin_counts.values())
            > gazetteer.ADMIN_RESOLUTION_THRESHOLD * rows
        )
        free_text = (
            is_text
            and not is_admin
            and row[f"{c}__text"] >= max(1.0, (1.0 - MAX_UNCLEAN) * n)
        )
        if (
            p.nb_distinct <= MAX_CATEGORICAL_RATIO * n
            and SEM_BOOLEAN not in p.semantic_types
            and not free_text
        ):
            p.semantic_types.append(SEM_ENUMERATION)
        if free_text:
            p.semantic_types.append(TYPE_TEXT)  # schema.org/Text semantic
            text_cols.append(c)
        if _is_id_name(c) and p.structural_type == TYPE_INTEGER:
            p.semantic_types.append(SEM_IDENTIFIER)
        # lat/long: value range AND column-name substring must both match
        # (profile_types.py:250-266; names spatial.py:33-34)
        if p.structural_type == TYPE_FLOAT:
            lname = c.lower()
            if (n - row[f"{c}__lat"]) / n <= MAX_UNCLEAN and any(
                nm in lname for nm in LATITUDE_NAMES
            ):
                p.semantic_types.append(SEM_LATITUDE)
            if (n - row[f"{c}__long"]) / n <= MAX_UNCLEAN and any(
                nm in lname for nm in LONGITUDE_NAMES
            ):
                p.semantic_types.append(SEM_LONGITUDE)
        # integer column named year → DateTime (profile_types.py:236-248)
        if p.structural_type == TYPE_INTEGER and c.strip().lower() == "year":
            p.semantic_types.append(SEM_DATETIME)
        elif p.structural_type == TYPE_TEXT and unclean_ts <= MAX_UNCLEAN:
            p.semantic_types.append(SEM_DATETIME)
            temporal_cols.append(c)
        # AdministrativeArea: >70% of the column resolves against the
        # gazetteer (profile_types.py:199-203; denominator is the WHOLE
        # column incl. empties, matching the reference's len(array));
        # an admin column is categorical regardless of distinct ratio
        if is_admin:
            p.semantic_types.append(gazetteer.SEM_ADMIN)
            if SEM_ENUMERATION not in p.semantic_types:
                p.semantic_types.append(SEM_ENUMERATION)
            p.admin_area_level = gazetteer.admin_level_for(admin_counts, rows)
            admin_cols.append(c)
        if p.structural_type in (TYPE_INTEGER, TYPE_FLOAT):
            numeric_cols.append(c)
        profiles.append(p)

    if admin_cols:
        # merged coverage envelope per admin column (core.py:640-668):
        # one broadcast join of the tiny area table against each admin
        # column's normalized values — admin columns are rare, the scan
        # is a single narrow column, and the join side is ~200 rows
        spark = df.sparkSession
        adf = F.broadcast(spark.createDataFrame(
            [(nm, mn_lat, mx_lat, mn_lon, mx_lon)
             for nm, _lvl, mn_lat, mx_lat, mn_lon, mx_lon
             in gazetteer.AREA_ROWS],
            "nm string, mn_lat double, mx_lat double, "
            "mn_lon double, mx_lon double",
        ))
        by_name_adm = {p.name: p for p in profiles}
        for c in admin_cols:
            nmc = F.regexp_replace(
                F.trim(F.lower(F.col(c).cast("string"))), r"\s+", " "
            ).alias("nm")
            r = (
                df.select(nmc).join(adf, "nm")
                .agg(F.min("mn_lat"), F.max("mx_lat"),
                     F.min("mn_lon"), F.max("mx_lon"))
                .collect()[0]
            )
            if r[0] is not None:
                b = (float(r[0]), float(r[1]), float(r[2]), float(r[3]))
                # the reference keeps only non-degenerate envelopes
                if b[1] - b[0] > 0.01 and b[3] - b[2] > 0.01:
                    by_name_adm[c].admin_bounds = b

    if nominatim is not None and text_cols:
        # Resolve free-text columns' values against Nominatim and mark
        # ADDRESS when ≥80% of the non-empty values resolve (reference
        # core.py:469-484; gate = structural TEXT + semantic TEXT, the
        # same columns as text_cols here).  Resolution happens over a
        # seeded driver-side sample — the reference itself profiles a
        # seeded ≤50 MB sample (core.py:199-213) and caps distinct
        # lookups at 200 per column; deviation: spatial coverage is the
        # resolved points' envelope, not get_spatial_ranges' 2-D KMeans
        # clusters (same deterministic-Lloyd's trade-off as A8).
        from .nominatim import SEM_ADDRESS, is_address_column, nominatim_resolve_all

        by_name_txt = {p.name: p for p in profiles}
        nb_rows_t = profiles[0].nb_rows if profiles else 0
        for c in text_cols:
            vals_df = df.select(F.col(c).cast("string").alias("v"))
            if nb_rows_t > sample_cap:
                vals_df = vals_df.sample(
                    fraction=min(1.0, 1.1 * sample_cap / nb_rows_t), seed=89
                ).limit(sample_cap)
            vals = [r["v"] for r in vals_df.collect()]
            locations, non_empty = nominatim_resolve_all(
                nominatim, vals, fetch=nominatim_fetch
            )
            if non_empty > 0 and is_address_column(locations, non_empty):
                p = by_name_txt[c]
                p.semantic_types.append(SEM_ADDRESS)
                lats = [pt[0] for pt in locations]
                lons = [pt[1] for pt in locations]
                if lats:
                    p.address_bounds = (
                        min(lats), max(lats), min(lons), max(lons)
                    )

    if numeric_cols:
        stat_aggs = []
        for c in numeric_cols:
            d = F.col(c).try_cast("double")  # tolerate the ≤2% unclean tail
            stat_aggs += [
                F.avg(d).alias(f"{c}__mean"),
                F.stddev_pop(d).alias(f"{c}__std"),  # population ÷n (numerical.py:17-33)
            ]
            if compute_ranges and range_method == "quantile":
                stat_aggs.append(
                    F.percentile_approx(
                        d, [0.0, 0.05, 0.33, 0.38, 0.66, 0.71, 0.95, 1.0], 10000
                    ).alias(f"{c}__q")
                )
        srow = df.agg(*stat_aggs).collect()[0]
        by_name = {p.name: p for p in profiles}
        for c in numeric_cols:
            p = by_name[c]
            p.mean = srow[f"{c}__mean"]
            p.stddev = srow[f"{c}__std"]
            if compute_ranges and range_method == "quantile":
                q = srow[f"{c}__q"]
                if q:
                    # ≤3 coarse coverage ranges — quantile zone-map analog of
                    # the reference's k=3 KMeans compression (numerical.py:36-84)
                    p.ranges = [
                        (q[1], q[2]),
                        (q[3], q[4]),
                        (q[5], q[6]),
                    ]
        if compute_ranges and range_method == "kmeans":
            # A8 reference-faithful path: seeded sample → K-Means ranges
            from .ranges import kmeans_ranges

            nb_rows = profiles[0].nb_rows if profiles else 0
            sample = df.select(
                *[F.col(c).try_cast("double").alias(c) for c in numeric_cols]
            )
            if nb_rows > sample_cap:
                sample = sample.sample(
                    fraction=min(1.0, 1.1 * sample_cap / nb_rows), seed=89
                ).limit(sample_cap)
            pdf = sample.toPandas()
            for c in numeric_cols:
                by_name[c].ranges = kmeans_ranges(pdf[c].to_numpy()) or None
    return profiles

"""Geospatial operators: grid-cell-blocked radius join over deterministic
synthetic coordinates.

Extension surface (SURVEY §2.C): spatial predicates are a standard
analytics-engine surface (Sedona/PostGIS-style). The engine-relevant part
is the JOIN SHAPE: a distance predicate is a theta join, and the naive
form is a cross join — O(|probes|·|points|) comparisons. The scalable
form blocks both sides into fixed grid cells sized so radius <= one cell,
expands each probe to its 3×3 neighbor ring (9 rows per probe — probes
are the small side), and equi-joins on the cell id. Catalyst then plans a
plain broadcast hash join; haversine runs only on ring-local candidates.

Coordinates are derived deterministically from keys via the portable
md5-bucket idiom (same construction as mlprep's hash splits), latitude
clamped to [-45, 45] so a 20° cell is >= the 1500 km radius in km at
every latitude in range — the containment proof the 3×3 ring needs.
Longitude cells WRAP at the antimeridian ((i + di) mod 18): a probe at
lon 179° must see candidates at -179°.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hw_kafka_flink_health_spark.queries._registry import register
from hw_kafka_flink_health_spark.sources.files import load_table, materialize

RADIUS_KM = 1500.0
CELL_DEG = 20.0
N_LON_CELLS = 18  # 360 / CELL_DEG
EARTH_KM = 6371.0088


def _hash_unit(col: Column, salt: str) -> Column:
    """Portable uniform draw in [0, 1) from md5(key || salt) — identical
    digits to the DuckDB oracle's concat('0x', substr(md5(..), 1, 8))."""
    h = F.conv(
        F.substring(F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 8), 16, 10
    ).cast("bigint")
    return h / F.lit(4294967296.0)


def _lat(col: Column, salt: str) -> Column:
    return _hash_unit(col, salt + "lat") * 90.0 - 45.0


def _lon(col: Column, salt: str) -> Column:
    return _hash_unit(col, salt + "lon") * 360.0 - 180.0


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance, double precision, identical operand order to
    the oracle's SQL so both engines agree to float rounding."""
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) * F.sin(dlat) + F.cos(F.radians(lat1)) * F.cos(
        F.radians(lat2)
    ) * F.sin(dlon) * F.sin(dlon)
    return F.lit(2.0 * EARTH_KM) * F.asin(F.sqrt(a))


_HAVERSINE_SQL = """
    2.0 * 6371.0088 * asin(sqrt(
      sin(radians(({plat}) - ({clat})) / 2) * sin(radians(({plat}) - ({clat})) / 2)
      + cos(radians({clat})) * cos(radians({plat}))
        * sin(radians(({plon}) - ({clon})) / 2) * sin(radians(({plon}) - ({clon})) / 2)
    ))
"""

_COORD_SQL = """
      CAST(concat('0x', substr(md5(concat(CAST({key} AS VARCHAR), '{salt}lat')), 1, 8))
           AS BIGINT) / 4294967296.0 * 90.0 - 45.0 AS lat,
      CAST(concat('0x', substr(md5(concat(CAST({key} AS VARCHAR), '{salt}lon')), 1, 8))
           AS BIGINT) / 4294967296.0 * 360.0 - 180.0 AS lon
"""


@register(
    "geo_grid_radius_join",
    oracle=f"""
    WITH probes AS (
      SELECT n_nationkey AS probe_id, {_COORD_SQL.format(key="n_nationkey", salt="nation")}
      FROM nation WHERE n_nationkey < 5
    ), pts AS (
      SELECT c_custkey, {_COORD_SQL.format(key="c_custkey", salt="cust")}
      FROM customer
    )
    SELECT p.probe_id, c.c_custkey,
           round({_HAVERSINE_SQL.format(plat="p.lat", plon="p.lon", clat="c.lat", clon="c.lon")}, 3) AS dist_km
    FROM probes p, pts c
    WHERE {_HAVERSINE_SQL.format(plat="p.lat", plon="p.lon", clat="c.lat", clon="c.lon")} <= 1500.0
    """,
)
def geo_grid_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customers within 1500 km of each of 5 probe points, via grid
    blocking: points bucket into 20° cells; each probe explodes into its
    3×3 neighbor ring (longitude WRAPPING mod 18 across the
    antimeridian); the equi-join on cell id broadcasts the ≤45-row probe
    ring, so the fact side never shuffles and haversine evaluates only on
    ring-local candidates. The oracle is the brute-force cross join —
    value-hash equality IS the proof the ring contains every true match
    (radius <= min cell dimension at |lat| <= 45, lon: 20°·111.32·cos45°
    = 1574 km)."""
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")

    probes = nation.filter(F.col("n_nationkey") < 5).select(
        F.col("n_nationkey").alias("probe_id"),
        _lat(F.col("n_nationkey"), "nation").alias("plat"),
        _lon(F.col("n_nationkey"), "nation").alias("plon"),
    )
    pts = cust.select(
        "c_custkey",
        _lat(F.col("c_custkey"), "cust").alias("clat"),
        _lon(F.col("c_custkey"), "cust").alias("clon"),
    )
    lat_cell = F.floor((F.col("clat") + 90.0) / CELL_DEG).cast("int")
    lon_cell = F.floor((F.col("clon") + 180.0) / CELL_DEG).cast("int")
    pts = pts.withColumn("cell", lat_cell * 100 + lon_cell)

    ring = F.array(
        *[
            (
                (F.floor((F.col("plat") + 90.0) / CELL_DEG).cast("int") + dlat) * 100
                + (
                    F.floor((F.col("plon") + 180.0) / CELL_DEG).cast("int")
                    + dlon
                    + N_LON_CELLS
                )
                % N_LON_CELLS
            )
            for dlat in (-1, 0, 1)
            for dlon in (-1, 0, 1)
        ]
    )
    probe_ring = probes.select(
        "probe_id", "plat", "plon", F.explode(ring).alias("cell")
    )

    dist = haversine_km(F.col("plat"), F.col("plon"), F.col("clat"), F.col("clon"))
    return (
        pts.join(F.broadcast(probe_ring), "cell")
        .withColumn("dist_km_raw", dist)
        .filter(F.col("dist_km_raw") <= RADIUS_KM)
        .select(
            "probe_id",
            "c_custkey",
            F.round("dist_km_raw", 3).alias("dist_km"),
        )
    )


@register(
    "geo_cell_density",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey, {_COORD_SQL.format(key="c_custkey", salt="cust")}
      FROM customer
    )
    SELECT CAST(floor((lat + 90.0) / 20.0) * 100
                + floor((lon + 180.0) / 20.0) AS BIGINT) AS cell,
           count(*)::BIGINT AS n_points,
           round(avg(lat), 4) AS avg_lat,
           round(avg(lon), 4) AS avg_lon
    FROM pts
    GROUP BY 1
    """,
)
def geo_cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial density summary per grid cell (the build side of any
    tile-based spatial index): one map-side-combined aggregate, no joins.
    At 100 TB this is the cheap first pass that sizes per-cell work and
    exposes spatial skew before the radius join runs."""
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        "c_custkey",
        _lat(F.col("c_custkey"), "cust").alias("lat"),
        _lon(F.col("c_custkey"), "cust").alias("lon"),
    )
    cell = (
        F.floor((F.col("lat") + 90.0) / CELL_DEG) * 100
        + F.floor((F.col("lon") + 180.0) / CELL_DEG)
    ).cast("long")
    return pts.groupBy(cell.alias("cell")).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.round(F.avg("lat"), 4).alias("avg_lat"),
        F.round(F.avg("lon"), 4).alias("avg_lon"),
    )


@register(
    "geo_knn_suppliers",
    oracle=f"""
    WITH probes AS (
      SELECT n_nationkey AS probe_id, {_COORD_SQL.format(key="n_nationkey", salt="nation")}
      FROM nation WHERE n_nationkey < 5
    ), pts AS (
      SELECT s_suppkey, {_COORD_SQL.format(key="s_suppkey", salt="supp")}
      FROM supplier
    ), dists AS (
      SELECT p.probe_id, c.s_suppkey,
             {_HAVERSINE_SQL.format(plat="p.lat", plon="p.lon", clat="c.lat", clon="c.lon")} AS d
      FROM probes p, pts c
    ), ranked AS (
      SELECT probe_id, s_suppkey, d,
             row_number() OVER (PARTITION BY probe_id ORDER BY d, s_suppkey) AS rk
      FROM dists
    )
    SELECT probe_id, rk AS rank, s_suppkey, round(d, 3) AS dist_km
    FROM ranked WHERE rk <= 3
    """,
)
def geo_knn_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 nearest suppliers to each of 5 probe points, exact, via
    distributed two-phase top-k.

    KNN has no a-priori radius to grid-prune with, so the scalable exact
    shape is: broadcast the tiny probe side, compute candidate distances
    in the scan's map stage, then take top-k TWICE — first within salt
    buckets (pmod(suppkey, 32): each bucket's window sees ~1/32 of the
    candidates, all map-side parallel), then over the ≤ probes·32·k
    survivors. The second window touches 480 rows regardless of supplier
    count, so no single reducer ever sees the full candidate set — the
    classic salted top-k that survives 100 TB where a bare
    row_number()-over-probe_id window funnels everything into 5
    partitions. Ties break on (distance, suppkey); the distance algebra
    is operand-order-identical to the oracle, so doubles compare equal
    cross-engine."""
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")

    probes = nation.filter(F.col("n_nationkey") < 5).select(
        F.col("n_nationkey").alias("probe_id"),
        _lat(F.col("n_nationkey"), "nation").alias("plat"),
        _lon(F.col("n_nationkey"), "nation").alias("plon"),
    )
    pts = supp.select(
        "s_suppkey",
        _lat(F.col("s_suppkey"), "supp").alias("slat"),
        _lon(F.col("s_suppkey"), "supp").alias("slon"),
    )
    dists = pts.join(F.broadcast(probes)).select(
        "probe_id",
        "s_suppkey",
        haversine_km(
            F.col("plat"), F.col("plon"), F.col("slat"), F.col("slon")
        ).alias("d"),
        F.pmod(F.col("s_suppkey"), F.lit(32)).alias("salt"),
    )
    w_local = Window.partitionBy("probe_id", "salt").orderBy("d", "s_suppkey")
    survivors = dists.withColumn("lrk", F.row_number().over(w_local)).filter(
        F.col("lrk") <= 3
    )
    w_final = Window.partitionBy("probe_id").orderBy("d", "s_suppkey")
    return (
        survivors.withColumn("rk", F.row_number().over(w_final))
        .filter(F.col("rk") <= 3)
        .select(
            "probe_id",
            F.col("rk").cast("long").alias("rank"),
            "s_suppkey",
            F.round("d", 3).alias("dist_km"),
        )
    )


_DBSCAN_ROUNDS = 5
_DBSCAN_CELL = 5.0  # finer than the join grid: clustering wants resolution
_DBSCAN_COLS = 72  # 360 / 5


def _dbscan_oracle() -> str:
    """Unrolled min-label propagation twin (kcore's MATERIALIZED-CTE
    pattern: every l{k} feeds two consumers)."""
    pre = f"""
    WITH pts AS (
      SELECT c_custkey,
             (CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR) || 'custlat'), 1, 8))
                   AS BIGINT) / 4294967296.0) * 90.0 - 45.0 AS lat,
             (CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR) || 'custlon'), 1, 8))
                   AS BIGINT) / 4294967296.0) * 360.0 - 180.0 AS lon
      FROM customer
    ), cells AS MATERIALIZED (
      SELECT CAST(floor((lat + 90.0) / {_DBSCAN_CELL}) AS BIGINT) AS i,
             CAST(floor((lon + 180.0) / {_DBSCAN_CELL}) AS BIGINT) AS j,
             CAST(count(*) AS BIGINT) AS n
      FROM pts GROUP BY 1, 2
    ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells),
    dense AS MATERIALIZED (
      SELECT i, j, n, i * {_DBSCAN_COLS} + j AS cid
      FROM cells, tot WHERE n >= 1 + (nn // 1296)
                 + 2 * CAST(floor(sqrt(CAST(nn // 1296 AS DOUBLE))) AS BIGINT)
    ), e0 AS MATERIALIZED (
      SELECT a.cid AS src, b.cid AS dst
      FROM dense a JOIN dense b
        ON abs(a.i - b.i) <= 1
       AND (abs(a.j - b.j) <= 1 OR abs(a.j - b.j) = {_DBSCAN_COLS - 1})
       AND a.cid <> b.cid
    ),
    l0 AS MATERIALIZED (SELECT cid, cid AS lbl, n FROM dense)"""
    its = []
    for k in range(1, _DBSCAN_ROUNDS + 1):
        its.append(f"""
    m{k} AS MATERIALIZED (
      SELECT e.dst AS cid, CAST(min(l.lbl) AS BIGINT) AS mn
      FROM e0 e JOIN l{k - 1} l ON e.src = l.cid GROUP BY e.dst
    ),
    l{k} AS MATERIALIZED (
      SELECT l.cid, least(l.lbl, coalesce(m{k}.mn, l.lbl)) AS lbl, l.n
      FROM l{k - 1} l LEFT JOIN m{k} ON l.cid = m{k}.cid
    )""")
    return (
        pre
        + ","
        + ",".join(its)
        + f"""
    SELECT lbl AS cluster_id, CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(n) AS BIGINT) AS n_points
    FROM l{_DBSCAN_ROUNDS} GROUP BY lbl
    """
    )


@register("geo_dbscan_cells", oracle=_dbscan_oracle())
def geo_dbscan_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering (cell-level DBSCAN): cells of a 5° grid
    holding at least mean + 2*sqrt(mean) points are 'dense' (a Poisson
    ~2-sigma tail, so the dense fraction stays stable as N grows —
    a fixed multiple of the mean empties under Poisson concentration); density-
    connected dense cells (8-neighborhood, longitude wrapping at the
    antimeridian) merge into clusters via bounded-round min-label
    propagation — the scalable skeleton of DBSCAN, where the quadratic
    point-pair eps-scan is replaced by a cell aggregate plus a
    cell-graph connected components whose size is the DENSE-CELL count,
    not the point count.

    Shape: one map-side-combined cell aggregate over the points, a tiny
    dense-cell self-join for adjacency (≤9 candidates per cell by
    construction), then 5 label-propagation rounds over the cell graph
    (each one join + one min-agg, localCheckpoint lineage truncation —
    dedup_clusters' pattern at cell granularity). The density threshold
    is exact integer arithmetic over N DIV 1296 plus a floor(sqrt) of
    that integer (one correctly-rounded IEEE op), so both engines pick
    the identical dense set; coordinates are the module's deterministic
    md5 draws. Bounded rounds: both engines run the same 5 (grid
    diameter may exceed it; the twin matches exactly either way)."""
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        _lat(F.col("c_custkey"), "cust").alias("lat"),
        _lon(F.col("c_custkey"), "cust").alias("lon"),
    )
    cells = pts.groupBy(
        F.floor((F.col("lat") + 90.0) / _DBSCAN_CELL).cast("long").alias("i"),
        F.floor((F.col("lon") + 180.0) / _DBSCAN_CELL).cast("long").alias("j"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = cells.agg(F.sum("n").cast("long").alias("nn"))
    dense = materialize(
        cells.crossJoin(F.broadcast(tot))
        .filter(
            F.col("n")
            >= 1
            + F.expr("nn DIV 1296")
            + 2 * F.floor(F.sqrt(F.expr("CAST(nn DIV 1296 AS DOUBLE)"))).cast("long")
        )
        .select(
            "i", "j", "n", (F.col("i") * _DBSCAN_COLS + F.col("j")).alias("cid")
        )
    )
    a, b = dense.alias("a"), dense.alias("b")
    edges = materialize(
        a.join(
            b,
            (F.abs(F.col("a.i") - F.col("b.i")) <= 1)
            & (
                (F.abs(F.col("a.j") - F.col("b.j")) <= 1)
                | (F.abs(F.col("a.j") - F.col("b.j")) == _DBSCAN_COLS - 1)
            )
            & (F.col("a.cid") != F.col("b.cid")),
        )
        .select(F.col("a.cid").alias("src"), F.col("b.cid").alias("dst"))
    )
    labels = dense.select("cid", F.col("cid").alias("lbl"), "n")
    for _ in range(_DBSCAN_ROUNDS):
        m = (
            edges.join(labels.select(F.col("cid").alias("src"), "lbl"), "src")
            .groupBy(F.col("dst").alias("cid"))
            .agg(F.min("lbl").cast("long").alias("mn"))
        )
        labels = materialize(
            labels.join(m, "cid", "left")
            .select(
                "cid",
                F.least(F.col("lbl"), F.coalesce(F.col("mn"), F.col("lbl"))).alias(
                    "lbl"
                ),
                "n",
            )
        )
    return labels.groupBy(F.col("lbl").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("n").cast("long").alias("n_points"),
    )


# --- geohash encoding as pure bit-interleave expressions -----------------
#
# Standard geohash: quantize lon to 13 bits and lat to 12, interleave
# starting with lon (MSB first), then emit 25 bits as five base-32
# characters. Same shift/and/or construction as the Z-order committer
# (`operators/versioned.py:_zvalue_expr`) — whole-stage codegen'd, no UDF
# — but with the geohash alphabet and the lon-first bit order so the
# output is the REAL interoperable geohash a downstream GIS tool accepts.
# Both engines quantize the SAME hash-derived doubles with the same
# literal arithmetic, so floor() lands identically; everything after is
# integer.

_GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_bits_sql(lat: str, lon: str) -> str:
    lon_q = f"least(greatest(CAST(floor(({lon} + 180.0) / 360.0 * 8192.0) AS BIGINT), 0), 8191)"
    lat_q = f"least(greatest(CAST(floor(({lat} + 90.0) / 180.0 * 4096.0) AS BIGINT), 0), 4095)"
    terms = []
    for p in range(25):
        if p % 2 == 0:
            terms.append(f"((({lon_q} >> {12 - p // 2}) & 1) << {24 - p})")
        else:
            terms.append(f"((({lat_q} >> {11 - (p - 1) // 2}) & 1) << {24 - p})")
    return " | ".join(terms)


def _geohash_expr(lat: Column, lon: Column) -> Column:
    lon_q = F.least(
        F.greatest(
            F.floor((lon + 180.0) / 360.0 * 8192.0).cast("bigint"), F.lit(0)
        ),
        F.lit(8191),
    )
    lat_q = F.least(
        F.greatest(
            F.floor((lat + 90.0) / 180.0 * 4096.0).cast("bigint"), F.lit(0)
        ),
        F.lit(4095),
    )
    z = F.lit(0).cast("bigint")
    for p in range(25):
        if p % 2 == 0:
            bit = F.shiftright(lon_q, 12 - p // 2).bitwiseAND(F.lit(1))
        else:
            bit = F.shiftright(lat_q, 11 - (p - 1) // 2).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(bit, 24 - p))
    chars = [
        F.substring(
            F.lit(_GEOHASH_BASE32),
            F.shiftright(z, 5 * (4 - k)).bitwiseAND(F.lit(31)).cast("int") + 1,
            F.lit(1),
        )
        for k in range(5)
    ]
    return F.concat(*chars)


_GEOHASH_CHARS_SQL = " || ".join(
    f"substr('{_GEOHASH_BASE32}', CAST((z >> {5 * (4 - k)}) & 31 AS INTEGER) + 1, 1)"
    for k in range(5)
)


@register(
    "geo_geohash_rollup",
    oracle=f"""
    WITH pts AS (
      SELECT s_suppkey, s_acctbal, {_COORD_SQL.format(key="s_suppkey", salt="supp")}
      FROM supplier
    ),
    hashed AS (
      SELECT s_suppkey, s_acctbal,
             {_geohash_bits_sql("lat", "lon")} AS z
      FROM pts
    ),
    encoded AS (
      SELECT s_suppkey, s_acctbal, {_GEOHASH_CHARS_SQL} AS geohash
      FROM hashed
    )
    SELECT substr(geohash, 1, 2) AS cell2, geohash,
           count(*)::BIGINT AS n_suppliers,
           CAST(sum(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM encoded
    GROUP BY 1, 2
    """,
)
def geo_geohash_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interoperable GEOHASH encoding + hierarchical density rollup: each
    supplier's (hash-derived) coordinates encode to a real 5-character
    geohash via pure bit-interleave Catalyst expressions (lon-first 25-bit
    Morton code, base-32 alphabet — the exact format Elasticsearch/
    BigQuery/Redis accept), then roll up supplier count and exact
    account-balance cents per cell with the 2-character parent carried
    for coarse-grain drill-up. Geohash prefixes ARE the spatial
    hierarchy, so one encode pass gives every zoom level by substring —
    at 100 TB that replaces repeated spatial binning with ordinary
    group-bys, and the string sorts by locality (Z-order) for free.

    The quantization floors identical hash-derived doubles with identical
    literal arithmetic, so every downstream value is exact integer/string
    algebra — no rounding anywhere."""
    supp = load_table(spark, sf_dir, "supplier")
    pts = supp.select(
        "s_suppkey",
        "s_acctbal",
        _lat(F.col("s_suppkey"), "supp").alias("lat"),
        _lon(F.col("s_suppkey"), "supp").alias("lon"),
    )
    encoded = pts.select(
        "s_suppkey",
        "s_acctbal",
        _geohash_expr(F.col("lat"), F.col("lon")).alias("geohash"),
    )
    return encoded.groupBy(
        F.substring("geohash", 1, 2).alias("cell2"), "geohash"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum(F.floor(F.col("s_acctbal") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("acctbal_cents"),
    )

"""DuckDB oracles for the benchmark's workloads.

- ``pip_stats``: the doc->tile job's expected output, recomputed from the
  coordinates the generator wrote into the WKT text: row count plus the
  sums of ``offset``, ``region_id`` and ``tile`` over every (text span,
  region) pair whose point lies strictly inside the region. Regions are unions of axis-aligned
  rectangles minus hole rectangles (rects.parquet), so containment is a
  range join; ``tile`` is the engine's zoom-12 geodetic Morton cell id.
- ``committed_stats``: the same four numbers read back from a committed
  stage's parquet files.
- ``mix_counts``: each query's row count from its DuckDB oracle SQL.
"""
import glob
import os

import duckdb

# Morton interleave of the low 29 bits of x into the even bit positions
# (graft.core.ZCell.part1by1), written as DuckDB macros.
_MASKS = [(16, 0x0000ffff0000ffff), (8, 0x00ff00ff00ff00ff), (4, 0x0f0f0f0f0f0f0f0f),
          (2, 0x3333333333333333), (1, 0x5555555555555555)]
TILE_ZOOM = 12


def _morton_macros(con):
    prev = "(x & 536870911)"
    for i, (sh, mask) in enumerate(_MASKS):
        con.execute(f"CREATE OR REPLACE MACRO bench_p{i}(x) AS "
                    f"(({prev} | ({prev} << {sh})) & {mask})")
        prev = f"bench_p{i}(x)"
    z, nx, ny = TILE_ZOOM, 1 << (TILE_ZOOM + 1), 1 << TILE_ZOOM
    con.execute(f"""CREATE OR REPLACE MACRO bench_tile(lon, lat) AS
        (CAST({z} AS BIGINT) << 58)
        | (bench_p4(CAST(least(greatest(floor((lon + 180.0) / 360.0 * {nx}), 0), {nx - 1}) AS BIGINT)) << 1)
        | bench_p4(CAST(least(greatest(floor((90.0 - lat) / 180.0 * {ny}), 0), {ny - 1}) AS BIGINT))""")


def connect(threads=4):
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute("SET enable_progress_bar TO false")
    _morton_macros(con)
    return con


def pip_stats(con, points, in_dir):
    """points: the generated text spans (off, lon, lat)."""
    con.register("bench_pts", points)
    rects = os.path.join(in_dir, "rects.parquet")
    row = con.execute(f"""
        WITH r0 AS (SELECT * FROM read_parquet('{rects}')),
        -- bucket rectangles by the 1-degree cells they overlap so the
        -- containment test is an equi-join plus a range filter
        rx AS (SELECT *, unnest(range(CAST(floor(xmin) AS BIGINT), CAST(floor(xmax) AS BIGINT) + 1)) AS gx
               FROM r0),
        r AS (SELECT *, unnest(range(CAST(floor(ymin) AS BIGINT), CAST(floor(ymax) AS BIGINT) + 1)) AS gy
              FROM rx),
        pts AS (SELECT row_number() OVER () AS pid, off, lon, lat FROM bench_pts),
        hits AS (SELECT p.pid, p.off, p.lon, p.lat, r.region_id FROM pts p JOIN r
                 ON CAST(floor(p.lon) AS BIGINT) = r.gx AND CAST(floor(p.lat) AS BIGINT) = r.gy
                 AND NOT r.neg AND p.lon > r.xmin AND p.lon < r.xmax
                 AND p.lat > r.ymin AND p.lat < r.ymax),
        holed AS (SELECT h.pid, h.region_id FROM hits h JOIN r0 r
                  ON r.neg AND r.region_id = h.region_id AND h.lon >= r.xmin
                  AND h.lon <= r.xmax AND h.lat >= r.ymin AND h.lat <= r.ymax),
        out AS (SELECT * FROM hits ANTI JOIN holed USING (pid, region_id))
        SELECT count(*), sum(off), sum(region_id), sum(CAST(bench_tile(lon, lat) AS HUGEINT))
        FROM out""").fetchone()
    con.unregister("bench_pts")
    return [int(v or 0) for v in row]


def committed_stats(con, stage_dir):
    files = glob.glob(os.path.join(stage_dir, "data", "*.parquet"))
    if not files:
        return [0, 0, 0, 0]
    row = con.execute(
        "SELECT count(*), sum(\"offset\"), sum(region_id), sum(CAST(tile AS HUGEINT)) "
        f"FROM read_parquet('{os.path.join(stage_dir, 'data', '*.parquet')}')").fetchone()
    return [int(v or 0) for v in row]


def mix_counts(con, tables_dir, oracle_sql, names):
    for f in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return {n: int(con.execute(f"SELECT count(*) FROM ({oracle_sql[n]})").fetchone()[0])
            for n in names}

"""Seeded input generators for the benchmark.

Every table is drawn from numpy's PCG64 stream seeded by the caller, then
shaped and written to parquet by DuckDB with an explicit ORDER BY, so the
same seed gives byte-identical files and the engine only ever sees the
generated parquet.

- ``write_docs``: the interleaved-docs table (``doc_id``, ``spans``) with
  POINT-WKT text spans and ``tile://`` media spans, optionally with 10% of
  the docs inside a 0.5-degree hot disc, plus the region polygons it is
  joined against. Point coordinates are multiples of 1/1024 degree and
  polygon vertices sit at k/8 + 1/4096, so no point lies on a polygon edge
  and both the engine and the oracle parse every coordinate exactly.
- ``write_mix_tables``: the ten TPC-H-ish tables the engine's queries read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings) at the sf0.01 sizes and value domains.
"""
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HOT_RADIUS = 0.25  # degrees: the hot disc is 0.5 degree across
EDGE = 1.0 / 4096.0  # polygon vertex offset: never a multiple of 1/1024


def _con():
    con = duckdb.connect()
    # at most two threads, and insertion order kept: row order, row groups
    # and therefore file bytes are fixed
    con.execute("SET threads TO 2")
    con.execute("SET preserve_insertion_order TO true")
    con.execute("SET enable_progress_bar TO false")
    return con


def _copy(con, rel_sql, path):
    con.execute(f"COPY ({rel_sql}) TO '{path}' (FORMAT PARQUET, COMPRESSION SNAPPY)")


def hot_center(seed):
    rng = np.random.default_rng([seed, 1])
    return (np.floor(rng.uniform(-150, 150) * 8) / 8,
            np.floor(rng.uniform(-60, 60) * 8) / 8)


def _regions(seed, n_regions):
    """Region polygons (region_id, wkt) and their oracle rectangles
    (region_id, xmin, ymin, xmax, ymax, neg): a point is inside a region iff
    it lies strictly inside one of its positive rectangles and in none of
    its negative (hole) rectangles."""
    rng = np.random.default_rng([seed, 2])
    cx, cy = hot_center(seed)
    wkts, rects = [], []

    def box_wkt(x0, y0, x1, y1):
        return f"({x0!r} {y0!r}, {x1!r} {y0!r}, {x1!r} {y1!r}, {x0!r} {y1!r}, {x0!r} {y0!r})"

    def snap(v):
        return float(np.floor(v * 8) / 8 + EDGE)

    def add(rid, kind, x0, y0, x1, y1):
        if kind == "box":
            wkts.append((rid, f"POLYGON ({box_wkt(x0, y0, x1, y1)})"))
            rects.append((rid, x0, y0, x1, y1, False))
        elif kind == "lshape":
            # lower bar over the full width, upper bar over the left half
            xm, ym = snap((x0 + x1) / 2), snap((y0 + y1) / 2)
            ring = (f"({x0!r} {y0!r}, {x1!r} {y0!r}, {x1!r} {ym!r}, {xm!r} {ym!r}, "
                    f"{xm!r} {y1!r}, {x0!r} {y1!r}, {x0!r} {y0!r})")
            wkts.append((rid, f"POLYGON ({ring})"))
            rects.append((rid, x0, y0, x1, ym, False))
            rects.append((rid, x0, ym, xm, y1, False))
        else:  # box with a hole in its middle third
            hx0, hx1 = snap(x0 + (x1 - x0) / 3), snap(x1 - (x1 - x0) / 3)
            hy0, hy1 = snap(y0 + (y1 - y0) / 3), snap(y1 - (y1 - y0) / 3)
            wkts.append((rid, f"POLYGON ({box_wkt(x0, y0, x1, y1)}, {box_wkt(hx0, hy0, hx1, hy1)})"))
            rects.append((rid, x0, y0, x1, y1, False))
            rects.append((rid, hx0, hy0, hx1, hy1, True))

    rid = 1
    # regions over the hot disc: one giant that contains it, two that cut it
    for (dx0, dy0, dx1, dy1), kind in [((-9, -7, 8, 6), "box"),
                                       ((-0.5, -0.5, 0.125, 0.5), "box"),
                                       ((0.0, -0.375, 1.0, 0.25), "hole")]:
        add(rid, kind, snap(cx + dx0), snap(cy + dy0), snap(cx + dx1), snap(cy + dy1))
        rid += 1
    while rid <= n_regions:
        u = rng.random()
        if u < 0.02:  # giant: 10 to 20 degrees
            w, h = rng.uniform(10, 20, 2)
        else:  # 0.05 to 3 degrees, log-uniform
            w, h = np.exp(rng.uniform(np.log(0.05), np.log(3.0), 2))
        x0 = snap(rng.uniform(-180, 180 - w - 0.25))
        y0 = snap(rng.uniform(-85, 85 - h - 0.25))
        x1, y1 = snap(x0 + max(w, 0.25)), snap(y0 + max(h, 0.25))
        kind = rng.choice(["box", "lshape", "hole"], p=[0.9, 0.05, 0.05])
        add(rid, kind, x0, y0, x1, y1)
        rid += 1
    return (pd.DataFrame(wkts, columns=["region_id", "wkt"]),
            pd.DataFrame(rects, columns=["region_id", "xmin", "ymin", "xmax", "ymax", "neg"]))


def write_docs(out_dir, seed, n_docs, hot, n_regions):
    """Write docs.parquet and regions.parquet (the engine's inputs) and
    rects.parquet (the oracle's exact region geometry) into out_dir, and
    return the text spans' (offset, lon, lat) as generated: the values the
    WKT text encodes, so the oracle does not depend on the engine's parse."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    per_doc = rng.integers(1, 9, n_docs)
    n = int(per_doc.sum())
    doc = np.repeat(np.arange(n_docs, dtype=np.int64), per_doc)
    first = np.repeat(np.cumsum(per_doc) - per_doc, per_doc)
    offset = (np.arange(n) - first).astype(np.int32)
    media = rng.random(n) < 0.25
    kx = rng.integers(0, 368640, n)  # lon = kx/1024 - 180
    ky = rng.integers(0, 174080, n)  # lat = ky/1024 - 85
    if hot:
        cx, cy = hot_center(seed)
        hot_doc = rng.random(n_docs) < 0.10
        in_hot = hot_doc[doc]
        m = int(in_hot.sum())
        # rejection-sample the disc on the 1/1024 grid
        r = int(HOT_RADIUS * 1024)
        dx = np.empty(0, np.int64)
        dy = np.empty(0, np.int64)
        while dx.size < m:
            ax = rng.integers(-r, r + 1, 2 * m)
            ay = rng.integers(-r, r + 1, 2 * m)
            keep = ax * ax + ay * ay <= r * r
            dx, dy = np.concatenate([dx, ax[keep]]), np.concatenate([dy, ay[keep]])
        kx[in_hot] = int((cx + 180) * 1024) + dx[:m]
        ky[in_hot] = int((cy + 85) * 1024) + dy[:m]
    band = rng.integers(1, 4, n)
    spans = pd.DataFrame({"doc": doc, "off": offset, "media": media,
                          "kx": kx, "ky": ky, "band": band})
    wkts, rects = _regions(seed, n_regions)
    con = _con()
    con.register("spans_np", spans)
    con.register("wkts_np", wkts)
    con.register("rects_np", rects)
    flat = con.execute("""
        SELECT CASE WHEN media THEN 'media' ELSE 'text' END AS kind,
               CASE WHEN media THEN ''
                    ELSE 'POINT (' || CAST(kx / 1024.0 - 180.0 AS VARCHAR) || ' '
                         || CAST(ky / 1024.0 - 85.0 AS VARCHAR) || ')' END AS text,
               CASE WHEN media THEN printf('tile://12/%d/%d/%d', kx // 45, ky // 45, band)
                    ELSE '' END AS media_ref,
               CAST(off AS INTEGER) AS "offset"
        FROM spans_np""").arrow()
    ids = con.execute(
        "SELECT printf('doc-%09d', i) AS doc_id FROM range(?) t(i)", [n_docs]).arrow()
    # spans are generated doc-major, so the list offsets are the running
    # span counts; building the list column directly avoids a GROUP BY
    offsets = pa.array(np.concatenate([[0], np.cumsum(per_doc)]).astype(np.int32))
    structs = pa.StructArray.from_arrays(
        [flat.column(c).combine_chunks() for c in ("kind", "text", "media_ref", "offset")],
        names=["kind", "text", "media_ref", "offset"])
    docs = pa.table({"doc_id": ids.column("doc_id").combine_chunks(),
                     "spans": pa.ListArray.from_arrays(offsets, structs)})
    # 16 row groups: a scan splits across the cluster's cores, as a large
    # docs table would
    pq.write_table(docs, os.path.join(out_dir, "docs.parquet"), compression="snappy",
                   row_group_size=-(-n_docs // 16))
    _copy(con, "SELECT CAST(region_id AS BIGINT) AS region_id, wkt FROM wkts_np ORDER BY region_id",
          os.path.join(out_dir, "regions.parquet"))
    _copy(con, "SELECT CAST(region_id AS BIGINT) AS region_id, xmin, ymin, xmax, ymax, neg "
               "FROM rects_np ORDER BY region_id, neg, xmin, ymin",
          os.path.join(out_dir, "rects.parquet"))
    con.close()
    text = ~media
    return pd.DataFrame({"off": offset[text], "lon": kx[text] / 1024.0 - 180.0,
                         "lat": ky[text] / 1024.0 - 85.0})


# ---- query-mix tables -------------------------------------------------

WORDS = ("row the query stream fast spark line small customer group value hash batch sort "
         "data big filter dup key agg scan slow table part a merge window order column "
         "join vector").split()
ADJ = "blue hot small old red new cold large".split()
NOUN = "bolt gear anvil ring widget rod plate gizmo".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_mix_tables(out_dir, seed):
    """Write the ten sf0.01-sized tables as single parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_line, n_ev, n_doc = 15000, 60000, 10000, 500
    day = np.datetime64("1995-01-01", "us")
    t = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                                "n_name": [f"NATION_{i}" for i in range(25)],
                                "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": day + rng.integers(0, 2404, n_ord) * np.timedelta64(1, "D"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": day + rng.integers(1, 2499, n_line) * np.timedelta64(1, "D")})
    gaps = np.maximum(rng.exponential(259.0e6 * 10000 / n_ev, n_ev), 1000).astype(np.int64)
    gaps[0] = rng.integers(0, 60_000_000)
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps) * np.timedelta64(1, "us"),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = [list(rng.choice(WORDS, k)) for k in rng.integers(10, 100, n_doc)]
    # plant near-duplicates for the dedup and n-gram queries: the last
    # tenth of the docs copy one of the first fifth with 0 to 3 words replaced
    for i in range(n_doc - n_doc // 10, n_doc):
        w = list(words[int(rng.integers(0, n_doc // 5))])
        for _ in range(int(rng.integers(0, 4))):
            w[int(rng.integers(0, len(w)))] = str(rng.choice(WORDS))
        words[i] = w
    texts = [" ".join(w) for w in words]
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "es", "fr"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_doc, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": list(emb.astype(np.float32)),
        "label": rng.integers(0, 10, n_doc).astype(np.int32)})
    con = _con()
    for name, df in t.items():
        con.register(f"{name}_np", df)
        cols = ", ".join(
            f'CAST("{c}" AS FLOAT[]) AS "{c}"' if c == "embedding" else f'"{c}"' for c in df.columns)
        _copy(con, f"SELECT {cols} FROM {name}_np", os.path.join(out_dir, f"{name}.parquet"))
    con.close()

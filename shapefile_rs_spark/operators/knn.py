"""kNN operators (K1): brute-force window top-k and expanding-ring search.

* :func:`knn_bruteforce` — exact top-k via broadcast cross join + window
  rank.  The right tool when the query side is small (the usual "snap pages
  to the nearest N city centers" shape): the big point side is scanned once,
  never shuffled beyond the final per-query rank.
* :func:`knn_cells` — the north_star "expanding ring search": points are
  indexed once at a cell resolution; each round joins the still-unsatisfied
  queries against a k-ring of cells, doubling the radius until the k-th
  neighbor distance is provably inside the explored ring
  (``kth_dist <= r * min_cell_dim`` ⇒ no unexplored cell can hold a closer
  point).  Data-dependent iteration is a bounded DRIVER loop over whole
  DataFrames — no per-row Python (input_hint).

Distance metric: planar squared euclidean on (lon, lat) — consistent with
the cell metric (FIXTURES.md §4).
"""

from __future__ import annotations


import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from .. import cells as C


def dist2_col(lon1, lat1, lon2, lat2):
    """Squared planar distance as a Catalyst expression (codegen'd JVM-side);
    the SQL oracle spells the identical arithmetic."""
    return (lon1 - lon2) * (lon1 - lon2) + (lat1 - lat2) * (lat1 - lat2)


def knn_bruteforce(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    point_id: str = "point_id",
    query_id: str = "query_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    q_lon: str = "q_lon",
    q_lat: str = "q_lat",
) -> DataFrame:
    """(query_id, point_id, dist2, rank) — exact; queries side broadcast.

    Ties break on point id so results are deterministic (and match the SQL
    oracle's ORDER BY dist2, point_id)."""
    pairs = points.crossJoin(F.broadcast(queries))
    with_d = pairs.withColumn(
        "dist2", dist2_col(F.col(lon_col), F.col(lat_col), F.col(q_lon), F.col(q_lat))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("dist2").asc(), F.col(point_id).asc())
    return (
        with_d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, point_id, "dist2", "rank")
    )


def _sql_lit(v) -> str:
    """SQL literal for VALUES row rebuilds (int/float/str/None)."""
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"CAST({v!r} AS DOUBLE)"  # repr round-trips finite IEEE doubles
    if isinstance(v, int):
        return str(v)
    # Spark SQL string literals process backslash escapes — double them
    # BEFORE quote-doubling so '\n' stays two characters
    return "'" + str(v).replace("\\", "\\\\").replace("'", "''") + "'"


def _values_df(spark, rows, colnames, casts=None) -> DataFrame:
    """Small driver-side row set → DataFrame via a VALUES literal (measured
    orders faster than createDataFrame on this stack, CLAUDE.md)."""
    body = ",\n".join("(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in rows)
    df = spark.sql(f"SELECT * FROM VALUES {body} AS t({', '.join(colnames)})")
    if casts:
        df = df.select(
            *[F.col(c).cast(t).alias(c) if t else F.col(c) for c, t in zip(colnames, casts)]
        )
    return df


def knn_cells(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    res: int = 8,
    point_id: str = "point_id",
    query_id: str = "query_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    q_lon: str = "q_lon",
    q_lat: str = "q_lat",
    max_rounds: int = 8,
    est_res: int = None,
) -> DataFrame:
    """Expanding-ring kNN: exact results, ≤2 Spark jobs in the common case.

    The point side is cell-indexed once (codegen'd Morton twin) and cached;
    ONE aggregation builds a coarse occupancy histogram (≤ 4^est_res rows,
    est_res = min(res, 7) so it always collects) whose driver-side
    summed-area table prices each query's starting radius exactly: the
    smallest coarse ring holding ≥ k points, converted conservatively to
    fine-res cells, so round 1 is guaranteed ≥ k candidates.  Each round is
    a single job — ring join + window top-k — whose result (≤ k·n_queries
    rows, small by the same contract that makes the query side
    broadcast-small) is collected for loop control; a query finishes when
    its k-th distance fits inside the covered radius (kth ≤ r·min_dim ⇒ no
    unexplored cell holds a closer point), otherwise its next radius is
    ceil(kth/min_dim), which terminates it the following round.  Queries
    still pending after ``max_rounds`` fall back to brute force
    (correctness is never sacrificed).

    Resource hygiene (r1 verdict item 7): the only persisted frame is the
    cell index, unpersisted before return; loop state lives driver-side so
    no per-round persists/checkpoints accumulate and no ``isin`` chains
    bloat the plan.  The returned frame is rebuilt from the collected rows
    via a VALUES literal — result size is k·n_queries by contract.
    """
    spark = points.sparkSession
    n_side = 1 << res
    cell_w = 360.0 / n_side
    cell_h = 180.0 / n_side
    min_dim = min(cell_w, cell_h)
    e_res = min(res, 7) if est_res is None else est_res
    shift = res - e_res

    q_rows = queries.select(query_id, q_lon, q_lat).collect()
    out_schema = (
        f"{query_id} {queries.schema[query_id].dataType.simpleString()}, "
        f"{point_id} {points.schema[point_id].dataType.simpleString()}, "
        "dist2 double, rank int"
    )
    if not q_rows:
        return spark.createDataFrame([], out_schema)

    pts = points.withColumn(
        "_pcell", C.cell_id_col(F.col(lon_col), F.col(lat_col), res)
    ).persist()

    # --- job 1: coarse occupancy histogram (also warms the cell index) ---
    hist = (
        pts.groupBy(C.cell_id_col(F.col(lon_col), F.col(lat_col), e_res).alias("_ec"))
        .count()
        .collect()
    )
    n_e = 1 << e_res
    grid = np.zeros((n_e, n_e), dtype=np.int64)
    _, hix, hiy = C.decode_cell(np.array([r["_ec"] for r in hist], dtype=np.int64))
    grid[hix, hiy] = [r["count"] for r in hist]
    total = int(grid.sum())
    # summed-area table: ring population queries in O(1)
    sat = np.zeros((n_e + 1, n_e + 1), dtype=np.int64)
    sat[1:, 1:] = grid.cumsum(0).cumsum(1)

    def ring_pop(ix: int, iy: int, r: int) -> int:
        x0, x1 = max(ix - r, 0), min(ix + r, n_e - 1)
        y0, y1 = max(iy - r, 0), min(iy + r, n_e - 1)
        return int(sat[x1 + 1, y1 + 1] - sat[x0, y1 + 1] - sat[x1 + 1, y0] + sat[x0, y0])

    def r0_fine(lon: float, lat: float) -> int:
        ix, iy = C.lonlat_to_ixiy(np.array([lon]), np.array([lat]), e_res)
        ix, iy = int(ix[0]), int(iy[0])
        r_e = 0
        while ring_pop(ix, iy, r_e) < k and r_e < n_e:
            r_e += 1
        # the fine ring of radius (r_e+1)<<shift fully contains the coarse
        # ring of radius r_e around any point of the query's coarse cell
        return max(1, (r_e + 1) << shift)

    @F.pandas_udf(ArrayType(LongType()))
    def ring_cells(lon: pd.Series, lat: pd.Series, radius: pd.Series) -> pd.Series:
        out = []
        lon_v = lon.to_numpy(np.float64)
        lat_v = lat.to_numpy(np.float64)
        rad_v = radius.to_numpy()
        base = C.cell_id(lon_v, lat_v, res)
        for i in range(len(lon_v)):
            out.append(C.k_ring(int(base[i]), int(rad_v[i])).tolist())
        return pd.Series(out)

    out_rows: list = []
    # fewer points than k: ring search degenerates, brute is exact + cheap
    pend = (
        []
        if total < k
        else [[r[0], float(r[1]), float(r[2]), r0_fine(float(r[1]), float(r[2]))] for r in q_rows]
    )
    fallback_ids = [] if total >= k else [r[0] for r in q_rows]

    for _ in range(max_rounds):
        if not pend:
            break
        pend_df = _values_df(
            spark,
            pend,
            [query_id, q_lon, q_lat, "_r"],
            casts=[queries.schema[query_id].dataType.simpleString(), "double", "double", "int"],
        )
        cand_cells = pend_df.withColumn(
            "_qcell", F.explode(ring_cells(F.col(q_lon), F.col(q_lat), F.col("_r")))
        )
        cands = cand_cells.join(
            pts, cand_cells["_qcell"] == pts["_pcell"], "inner"
        ).withColumn(
            "dist2", dist2_col(F.col(lon_col), F.col(lat_col), F.col(q_lon), F.col(q_lat))
        )
        w = Window.partitionBy(query_id).orderBy(F.col("dist2").asc(), F.col(point_id).asc())
        got = (
            cands.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, point_id, "dist2", "rank")
            .collect()  # the round's ONE job; ≤ k·n_pending rows
        )
        by_q: dict = {}
        for row in got:
            by_q.setdefault(row[0], []).append(row)
        nxt = []
        for qid, qlon, qlat, r in pend:
            rows = by_q.get(qid, [])
            kth = max((row["dist2"] for row in rows), default=float("inf"))
            if len(rows) >= k and kth <= (r * min_dim) ** 2:
                out_rows.extend(tuple(row) for row in rows)
            elif len(rows) >= k:
                # kth is an upper bound on the true k-th distance: a ring of
                # ceil(kth/min_dim) provably covers it -> terminates next round
                nxt.append([qid, qlon, qlat, int(np.ceil(np.sqrt(kth) / min_dim))])
            else:
                nxt.append([qid, qlon, qlat, min(r * 2, n_side)])
        pend = nxt

    if pend:
        fallback_ids.extend(p[0] for p in pend)
    pts.unpersist()

    if fallback_ids:
        fb_q = queries.join(
            F.broadcast(_values_df(spark, [[i] for i in fallback_ids], [query_id])),
            query_id,
            "left_semi",
        )
        out_rows.extend(
            tuple(row)
            for row in knn_bruteforce(
                points, fb_q, k, point_id, query_id, lon_col, lat_col, q_lon, q_lat
            ).collect()
        )

    if not out_rows:
        return spark.createDataFrame([], out_schema)
    return _values_df(
        spark,
        out_rows,
        [query_id, point_id, "dist2", "rank"],
        casts=[
            queries.schema[query_id].dataType.simpleString(),
            points.schema[point_id].dataType.simpleString(),
            "double",
            "int",
        ],
    )


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    res: int = 6,
    point_id: str = "point_id",
    query_id: str = "query_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    q_lon: str = "q_lon",
    q_lat: str = "q_lat",
) -> DataFrame:
    """Distributed kNN JOIN — both sides big (the variant
    :func:`knn_bruteforce` (small-query broadcast) and :func:`knn_cells`
    (driver loop over a small query set) don't cover): every query row gets
    its exact k nearest points, with no driver-side per-query state.

    Exactly TWO distributed passes:

    1. One aggregation builds the cell occupancy histogram (≤ 4^res rows —
       collectable by construction for res ≤ 8); a driver-side summed-area
       table prices, for every DISTINCT QUERY CELL (a second ≤ 4^res-row
       aggregation), the minimal Chebyshev radius whose ring holds ≥ k
       points.  Points are then REPLICATED to the query cells whose priced
       ring reaches them (a broadcast equi-join of the points with a
       driver-built (point cell → query cell) pair table) and a
       cogrouped per-cell numpy kernel computes every resident query's
       exact top-k — candidate PAIRS are enumerated inside vectorized
       numpy, never as Spark rows, so the shuffle carries
       O(Σ ring populations) point rows instead of O(n_queries × ring
       population) pair rows (the r6 plan shuffled 60M pair rows through a
       window sort at sf1.0; this shape shuffles ~0.3M).  Dense (hot)
       cells cost m·n numpy FLOPs but only m+n shuffled rows.
    2. Rows whose top-k is not yet PROVEN (kth > r·min_dim coverage bound)
       re-run once with r = ceil(kth/min_dim) — sufficient by construction
       (the round-1 kth is an upper bound on the true kth distance), so
       pass 2 terminates every query.  Typically a small minority of
       queries (those near cell boundaries/sparse regions) reach pass 2.

    dist2 is bit-identical to the expression plan: the numpy kernel spells
    the same IEEE operand tree ((lon-q_lon)·(lon-q_lon)+(lat-q_lat)·
    (lat-q_lat), elementwise float64) and ties break on point_id exactly
    like the ORDER BY.

    Output: (query_id, point_id, dist2, rank).  The only non-DataFrame
    state is the ≤4^res histogram — everything else shuffles on cell keys.
    """
    if res > 8:
        raise ValueError("knn_join histogram is exact up to res 8 (4^res cells)")
    spark = points.sparkSession
    n_side = 1 << res
    min_dim = min(360.0 / n_side, 180.0 / n_side)

    pts = points.select(point_id, lon_col, lat_col).withColumn(
        "_pcell", C.cell_id_col(F.col(lon_col), F.col(lat_col), res)
    ).persist()

    qx = queries.select(query_id, q_lon, q_lat).withColumn(
        "_qcell", C.cell_id_col(F.col(q_lon), F.col(q_lat), res)
    ).persist()

    # pass-0: ONE job computes the point histogram AND the distinct
    # query cells (both ≤ 4^res rows by construction) while filling both
    # caches — a union of the two cell projections tagged by side (the
    # domain_rank one-action materialization move; separate collects
    # cost a scheduling round-trip each)
    def cell_or_null(cell, lon, lat):
        # cell_id_col's clamp (greatest/least) skips nulls, so a row with a
        # null coordinate still gets a cell: report it as a null cell
        return F.when(F.col(lon).isNotNull() & F.col(lat).isNotNull(), F.col(cell))

    both = (
        pts.select(cell_or_null("_pcell", lon_col, lat_col).alias("_c"), F.lit(1).alias("_side"))
        .unionByName(
            qx.select(cell_or_null("_qcell", q_lon, q_lat).alias("_c"), F.lit(0).alias("_side"))
        )
        .groupBy("_c", "_side")
        .count()
        .collect()
    )
    # a row with a null coordinate has no true cell and no distance: fail
    # loudly instead of returning wrong or missing neighbours
    null_sides = {r["_side"] for r in both if r["_c"] is None}
    if null_sides:
        pts.unpersist()
        qx.unpersist()
        side = " and ".join(
            name for s, name in ((0, "query"), (1, "point")) if s in null_sides
        )
        raise ValueError(f"knn_join: {side} rows with null lon/lat")
    hist = [r for r in both if r["_side"] == 1]
    grid = np.zeros((n_side, n_side), dtype=np.int64)
    _, hix, hiy = C.decode_cell(np.array([r["_c"] for r in hist], dtype=np.int64))
    grid[hix, hiy] = [r["count"] for r in hist]
    sat = np.zeros((n_side + 1, n_side + 1), dtype=np.int64)
    sat[1:, 1:] = grid.cumsum(0).cumsum(1)
    total = int(grid.sum())

    qcells = np.array(
        sorted(r["_c"] for r in both if r["_side"] == 0),
        dtype=np.int64,
    )
    _, qix, qiy = C.decode_cell(qcells)

    if total < k:
        # degenerate: fewer points than k — single global ring covers all
        r1_of = {int(c): n_side for c in qcells}
    else:
        # price ONLY the query cells: one vectorized SAT pass per radius,
        # assigning each query cell the first r whose ring holds >= k
        # points (loop exits when every query cell is priced)
        r_q = np.full(len(qcells), -1, dtype=np.int64)
        for r in range(n_side + 1):
            x0 = np.clip(qix - r, 0, n_side - 1)
            x1 = np.clip(qix + r, 0, n_side - 1)
            y0 = np.clip(qiy - r, 0, n_side - 1)
            y1 = np.clip(qiy + r, 0, n_side - 1)
            pop = sat[x1 + 1, y1 + 1] - sat[x0, y1 + 1] - sat[x1 + 1, y0] + sat[x0, y0]
            newly = (r_q < 0) & (pop >= k)
            r_q[newly] = r
            if (r_q >= 0).all():
                break
        r_q[r_q < 0] = n_side
        r1_of = {int(c): max(1, int(r)) for c, r in zip(qcells, r_q)}

    q_type = queries.schema[query_id].dataType.simpleString()
    p_type = points.schema[point_id].dataType.simpleString()
    pass_schema = (
        f"{query_id} {q_type}, {point_id} {p_type}, dist2 double, rank int, "
        f"{q_lon} double, {q_lat} double, _rm int, _n int, _kth double"
    )

    def cell_pass(q_side: DataFrame, cell_r: dict) -> DataFrame:
        """q_side carries (query_id, q_lon, q_lat, _qcell); cell_r maps
        query cell → Chebyshev radius.  Exact top-k per query via point
        replication + cogrouped numpy (see the operator docstring)."""
        # (point cell → query cell) pairs: every cell of each query cell's
        # priced ring; a broadcast equi-join replicates the points in the JVM
        qc = np.fromiter(cell_r.keys(), dtype=np.int64, count=len(cell_r))
        rings = [C.k_ring(int(c), int(r)) for c, r in cell_r.items()]
        pairs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "_pcell": np.concatenate(rings) if rings else np.empty(0, dtype=np.int64),
                    "_tcell": np.repeat(qc, [len(g) for g in rings]),
                }
            )
        )
        repl = pts.join(F.broadcast(pairs), "_pcell").select(
            "_tcell", point_id, lon_col, lat_col
        )

        def group_fn(key, qg: pd.DataFrame, cg: pd.DataFrame) -> pd.DataFrame:
            if not len(qg) or not len(cg):
                # explicit dtypes: a bare empty dict column defaults to
                # float64 and Arrow refuses float64→string/long casts
                # (the assign_centroids carry_vec lesson)
                return pd.DataFrame(
                    {
                        query_id: pd.Series([], dtype=object),
                        point_id: pd.Series([], dtype=object),
                        "dist2": pd.Series([], dtype=np.float64),
                        "rank": pd.Series([], dtype=np.int32),
                        q_lon: pd.Series([], dtype=np.float64),
                        q_lat: pd.Series([], dtype=np.float64),
                        "_rm": pd.Series([], dtype=np.int32),
                        "_n": pd.Series([], dtype=np.int32),
                        "_kth": pd.Series([], dtype=np.float64),
                    }
                )
            qid = qg[query_id].to_numpy()
            qlo = qg[q_lon].to_numpy(np.float64)
            qla = qg[q_lat].to_numpy(np.float64)
            pid = cg[point_id].to_numpy()
            plo = cg[lon_col].to_numpy(np.float64)
            pla = cg[lat_col].to_numpy(np.float64)
            n_c = len(pid)
            kk = min(n_c, k)
            m = min(n_c, k + 64)
            r_here = int(cell_r[int(key[0])])
            out_q, out_p, out_d, out_kth = [], [], [], []
            # chunk the query dimension so the B×C distance block stays
            # ~16M elements (the assign_centroids memory-ceiling pattern)
            chunk = max(1, 4_000_000 // n_c)
            for s in range(0, len(qid), chunk):
                # EXACT same IEEE operand tree as dist2_col / the oracle:
                # (lon−q_lon)·(lon−q_lon)+(lat−q_lat)·(lat−q_lat), f64
                dlon = plo[None, :] - qlo[s : s + chunk, None]
                dlat = pla[None, :] - qla[s : s + chunk, None]
                d2 = dlon * dlon + dlat * dlat
                if m < n_c:
                    part = np.argpartition(d2, m - 1, axis=1)[:, :m]
                    sel_d = np.take_along_axis(d2, part, axis=1)
                    sel_p = pid[part]
                else:
                    sel_d = d2
                    sel_p = np.broadcast_to(pid, d2.shape)
                # lexsort by (dist2, point_id): two stable argsorts compose
                o1 = np.argsort(sel_p, axis=1, kind="stable")
                sd = np.take_along_axis(sel_d, o1, axis=1)
                sp = np.take_along_axis(
                    sel_p if m < n_c else np.ascontiguousarray(sel_p), o1, axis=1
                )
                o2 = np.argsort(sd, axis=1, kind="stable")
                sd = np.take_along_axis(sd, o2, axis=1)
                sp = np.take_along_axis(sp, o2, axis=1)
                top_d = sd[:, :kk].copy()
                top_p = sp[:, :kk].copy()
                if m < n_c:
                    # boundary-tie guard: if the kth dist equals the m-th
                    # smallest, an excluded candidate may tie with a
                    # smaller id — full exact sort for those (rare) rows
                    unsafe = np.nonzero(top_d[:, kk - 1] >= sd[:, m - 1])[0]
                    for i in unsafe:
                        o = np.lexsort((pid, d2[i]))[:kk]
                        top_p[i] = pid[o]
                        top_d[i] = d2[i][o]
                out_q.append(np.repeat(qid[s : s + chunk], kk))
                out_p.append(top_p.ravel())
                out_d.append(top_d.ravel())
                out_kth.append(np.repeat(top_d[:, kk - 1], kk))
            n_q = len(qid)
            return pd.DataFrame(
                {
                    query_id: np.concatenate(out_q),
                    point_id: np.concatenate(out_p),
                    "dist2": np.concatenate(out_d),
                    "rank": np.tile(np.arange(1, kk + 1, dtype=np.int32), n_q),
                    q_lon: np.repeat(qlo, kk),
                    q_lat: np.repeat(qla, kk),
                    "_rm": np.full(n_q * kk, r_here, dtype=np.int32),
                    "_n": np.full(n_q * kk, kk, dtype=np.int32),
                    "_kth": np.concatenate(out_kth),
                }
            )

        return (
            q_side.groupBy("_qcell")
            .cogroup(repl.groupBy("_tcell"))
            .applyInPandas(group_fn, schema=pass_schema)
        )

    pass1 = cell_pass(qx, r1_of).localCheckpoint(eager=True)  # output-sized
    if total < k:
        # degenerate: pass 1 ran at r = n_side and saw EVERY point — the
        # _n >= k guarantee can never hold, and a pass 2 at ceil(kth/dim)
        # would SHRINK the ring and drop rows.  pass 1 is already complete.
        pts.unpersist()
        qx.unpersist()
        return pass1.select(query_id, point_id, "dist2", "rank")
    proven = (F.col("_n") >= k) & (
        F.col("_kth") <= (F.col("_rm") * F.lit(min_dim)) * (F.col("_rm") * F.lit(min_dim))
    )
    done1 = pass1.filter(proven)

    # pass 2: re-run ONLY the unproven queries at the radius their own
    # round-1 kth bounds — sufficient, so no further passes are needed.
    # The per-cell radius is the MAX over the cell's unproven queries
    # (a superset ring changes nothing: the kernel is exact top-k).
    redo = (
        pass1.filter(~proven)
        .select(query_id, q_lon, q_lat, "_kth")
        .distinct()
        .withColumn(
            "_r",
            F.greatest(
                F.lit(1), F.ceil(F.sqrt(F.col("_kth")) / F.lit(min_dim)).cast("int")
            ),
        )
        .withColumn("_qcell", C.cell_id_col(F.col(q_lon), F.col(q_lat), res))
    )
    cellmax = redo.groupBy("_qcell").agg(F.max("_r").alias("_r")).collect()
    r2_of = {int(r["_qcell"]): min(int(r["_r"]), n_side) for r in cellmax}

    out_cols = [query_id, point_id, "dist2", "rank"]
    if r2_of:
        done2 = cell_pass(redo.select(query_id, q_lon, q_lat, "_qcell"), r2_of)
        result = (
            done1.select(*out_cols)
            .unionByName(done2.select(*out_cols))
            .localCheckpoint(eager=True)  # output-sized; frees the index
        )
    else:
        # every query proven in pass 1: done1 is a lazy filter over the
        # ALREADY-checkpointed pass-1 frame — no second materialization
        result = done1.select(*out_cols)
    pts.unpersist()
    qx.unpersist()
    return result

"""B5 — kNN via hex k-ring expansion (SURVEY §2.2).

Queries are a DataFrame end to end (round-3 rewrite: round 2 collected the
query set, enumerated candidate k-ring cells in driver numpy and shipped
them back via createDataFrame — a driver ceiling at ~10^5 queries; round-2
VERDICT item 4).  Now candidate cells are generated by an Arrow pandas UDF
ON the queries DataFrame, active/done state lives in (local-checkpointed)
DataFrames, and there is no query-count cap.

Round bookkeeping costs no job of its own: `Observation`s ride on the
checkpoints that run anyway.  The prep checkpoint counts the hopeless
queries and the active queries per ring value; each round's top-k
checkpoint counts, per ring value, the queries that finished (doneness is
flagged inside the ranking window, so no groupBy or join decides it).
From these counts the driver keeps a ring histogram, which gives the exact
active count, the candidate-row estimate, the ring-overflow count and the
brute-force leftover count — when to stop, which join regime to use and
whether a fallback is needed, without collecting from the query state.
One `osmspark.knn` DEBUG log record per call carries these counts.

Scale design (unchanged where it was already right):
  * occupancy-adaptive prefilter resolution — under hot-city skew a coarse
    cell holds thousands of points and sits in thousands of co-located
    queries' rings, degenerating the candidate join into a local
    all-pairs; the grid is refined until the hottest cell holds O(k)
    points.  Round 6: the refine decision reads the EXACT max of a
    base-res count pass (the same pass that feeds the density estimate)
    instead of a separate sampled probe job, and the fine-res table is
    assigned exactly once (no per-call fine-res count shuffle).
  * per-query start rings from local density — ring-1 occupancy is
    estimated from the query's base-res cell count scaled by 7^-steps
    (one broadcast map join; round 6 — previously a ring-1 explode +
    shuffle join against fine-res counts), then a uniform-density solve
    for the ring holding >= 2k points; a bad estimate costs one doubling
    round, never correctness.
  * queries whose PRE-snap ring estimate exceeds BRUTE_RING_CAP skip the
    join loop entirely and go straight to the single-pass brute fallback
    (round-2 ADVICE: the post-snap comparison was dead code — snapping
    clamped to max_ring == the cap, so 'hopeless' could never trigger and
    sparse-territory queries paid one giant-ring join round first).
  * candidate rings are NOT pre-intersected with the non-empty cell set
    anymore: that intersection only ever paid for itself when rings moved
    through the driver — in the distributed join, empty cells simply match
    nothing.

Termination guarantee: a query is done when its k-th candidate distance
<= the uv-exact coverage claim of its current ring (`hexgrid.claim_m` —
what kring(r) provably covers, exact at face edges; this replaced the
round-2 measured-local-R heuristic in round 5), or when the points table
is exhausted.  The candidate rings are SEAM-EXACT
(round 5): `hexgrid.kring_spill` adds re-projected anchor rings on every
cube face the home ring spills onto, so the bound holds for points across
a face seam as well; the claim is clamped to hexgrid.MAX_COVER_M (the
ring bound's validity cap), which at worst delays doneness to the brute
fallback, never correctness.

`knn_bruteforce` is the O(P*Q) reference path (crossJoin + window) — used
as the oracle and for tiny point sets.
"""

from __future__ import annotations

import logging
import math

import numpy as np
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions import hexgrid
from ..functions.geo import haversine_m, sq_deg_dist

# a query whose ESTIMATED ring exceeds this is cheaper as one brute-force
# pass than as a join against thousands of candidate cells
BRUTE_RING_CAP = 32
# broadcast the candidate (query x ring-cell) side while its estimated row
# count stays under this; beyond it, let the shuffle join handle it
BROADCAST_CAND_ROWS = 4_000_000
# broadcast a key table — the base-res density counts, a round's done
# query ids — into its join while it has at most this many rows (both
# counts are known on the driver before the join); beyond it, a shuffle join
BROADCAST_KEY_ROWS = 1_000_000
# `active` is checkpointed every round above this many active queries, and
# at least every ACTIVE_CHAIN_DEPTH rounds below it
LAZY_ACTIVE_MAX = 5000
ACTIVE_CHAIN_DEPTH = 4

_log = logging.getLogger("osmspark.knn")


def _dist_col(metric: str, qlat, qlon, plat, plon):
    if metric == "haversine":
        return haversine_m(qlat, qlon, plat, plon)
    if metric == "sq_deg":
        return sq_deg_dist(qlat, qlon, plat, plon)
    raise ValueError(metric)


def knn_bruteforce(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "haversine",
    point_id: str = "id",
) -> DataFrame:
    """(query_id, rank, point_id, dist) — exact top-k by crossJoin.

    The broadcast side is the queries; the points side streams through one
    pass; ranking is a window partitioned by query (TakeOrdered per group).
    Ties break on point id for determinism."""
    q = queries.select(
        F.col("query_id"),
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
    )
    p = points.select(
        F.col(point_id).alias("point_id"),
        F.col("lat").alias("plat"),
        F.col("lon").alias("plon"),
    )
    joined = p.crossJoin(F.broadcast(q)).withColumn(
        "dist",
        _dist_col(metric, F.col("qlat"), F.col("qlon"), F.col("plat"), F.col("plon")),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("point_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "point_id", "dist")
    )


def knn_auto(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    brute_cost_cap: float = 2e8,
    metric: str = "haversine",
    point_id: str = "id",
    n_points: int | None = None,
    n_queries: int | None = None,
    **kring_kwargs,
) -> DataFrame:
    """Cost-based path selection (the planner-style choice Catalyst cannot
    make for a custom operator): below `brute_cost_cap` candidate pairs
    (n_points * n_queries), the brute crossJoin+window path runs ONE stage
    with zero fixed per-round cost and wins — measured at sf0.1, 50 queries
    x 2.4M points (120M pairs) brute-forces in a few seconds while the
    k-ring loop pays ~13 s of per-round fixed cost (checkpoints + counts).
    Above the cap the k-ring path's ~0.3 ms/query marginal cost wins by
    orders of magnitude (100k queries: 31 s vs an unrunnable 1.2*10^11-pair
    crossJoin).  Both paths are exact and oracle-gated; without hints the
    counts are one count-star each — metadata-cheap for parquet scans
    (answered from footers) but a full upstream execution for derived
    inputs, so pass `n_points`/`n_queries` there (estimates are fine;
    only the dispatch decision depends on them) and the dispatcher runs
    ZERO jobs before the real one."""
    n_q = n_queries if n_queries is not None else queries.count()
    n_p = n_points if n_points is not None else points.count()
    if n_q * n_p <= brute_cost_cap:
        return knn_bruteforce(points, queries, k, metric=metric,
                              point_id=point_id)
    return knn_kring(points, queries, k, metric=metric, point_id=point_id,
                     **kring_kwargs)


def occupancy_res(
    points: DataFrame,
    res: int = 8,
    k: int = 10,
    point_id: str = "id",
    lat: str = "lat",
    lon: str = "lon",
    probe_mod: int = 16,
) -> int:
    """The resolution the occupancy-adaptive prefilter picks: refine from
    `res` until the hottest cell holds O(k) points (estimated on a
    1/probe_mod hash-sample; the driver sees ONE max-occupancy scalar).

    Public because the STORAGE LAYOUT must use the same rule: a
    cell-bucketed table written at a coarser res than the data density
    demands turns every kNN ring join into a hot-cell scan (measured:
    res 8 on the dense bench city holds 3*10^5 points in one cell — the
    pinned-layout path wedged on it; res 12, which this rule picks, holds
    ~10^2).  `knn_kring`'s self-assigning path applies the same refine
    formula, but from the EXACT base-res cell counts it now builds anyway
    (round 6) rather than this sampled probe."""
    target_occ = max(32, 2 * k)
    pts = hexgrid.with_hex_cell(
        points.select(F.col(point_id).alias("__pid"),
                      F.col(lat).alias("__lat"), F.col(lon).alias("__lon")),
        res, lat="__lat", lon="__lon", out_col="__cell",
    )
    probe_max = (
        pts.filter(F.pmod(F.xxhash64("__pid"), F.lit(probe_mod)) == 0)
        .groupBy("__cell").agg(F.count("*").alias("cnt"))
        .agg(F.max("cnt")).collect()[0][0] or 0
    )
    max_occ_est = probe_max * probe_mod
    if max_occ_est > 4 * target_occ:
        steps = min(int(math.ceil(math.log(max_occ_est / target_occ, 7))),
                    15 - res)
        res = res + max(steps, 0)
    return res


def knn_kring(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    res: int = 8,
    metric: str = "haversine",
    point_id: str = "id",
    start_ring: int = 1,
    max_rounds: int = 14,
    max_ring: int = 64,
    points_cell_col: str | None = None,
) -> DataFrame:
    """k-ring kNN: equivalent to knn_bruteforce, without the crossJoin.

    points: distributed (point_id, lat, lon, ...); queries: distributed
    (query_id, lat, lon) — no size cap.

    points_cell_col: name of a PRE-COMPUTED hex cell column on `points`
    assigned at exactly `res` (the 100 TB path: the cell is part of the
    storage layout — plans/layout cell-bucketing — so repeated kNN batches
    skip the per-call assignment scan entirely; occupancy-adaptive
    resolution is skipped too, since the layout pins the resolution).

    Per round: candidate cells are the active queries' k-rings (pandas UDF
    + explode), joined to the cell-indexed points (broadcast while the
    candidate side is small), top-k per query by window, done-ness flagged
    in the same window by comparing the k-th distance against the
    ring-coverage bound.  Done queries' top-k rows stay in
    local-checkpointed DataFrames unioned at the end — results never visit
    the driver; only the Observation counts do (module docstring)."""
    from functools import reduce

    spark = points.sparkSession

    def _pts(res_: int):
        pp = points.select(
            F.col(point_id).alias("point_id"),
            F.col("lat").alias("plat"),
            F.col("lon").alias("plon"),
        )
        return hexgrid.with_hex_cell(pp, res_, lat="plat", lon="plon",
                                     out_col="pcell")

    # occupancy-adaptive prefilter resolution: refine until the hottest
    # cell holds O(k) points.  Round-6 restructure (guide §1.2, measured:
    # the fixed assign phase was ~4 s of a 7.5 s 50-query call): ONE
    # base-res assignment pass feeds an EXACT per-cell count table (the
    # base-res cover of a city is tiny), whose max drives the refine
    # formula — replacing the separate 1/16-sampled probe job AND the
    # full fine-res cellcnt shuffle (1.2M groups at res 13) the old path
    # paid per call.  The fine-res table is then assigned once.  The
    # ring-1 density estimate now comes from the query's BASE cell count
    # scaled by 7^-steps (a map join) instead of a ring-1 explode +
    # shuffle join — estimator-only: a worse estimate costs a doubling
    # round, never correctness.
    target_occ = max(32, 2 * k)
    if points_cell_col is not None:
        # validate the pinned layout cell column cheaply (round-3 ADVICE):
        # a column assigned at a DIFFERENT resolution would match nothing
        # in every candidate join round and silently degrade ALL queries
        # to the O(P*Q) brute-force fallback.  The check reads the res
        # BITS packed into the sampled cell id (exact — zero false
        # positives), NOT a fresh lat/lon assignment: JVM and numpy trig
        # can differ by 1 ulp on cell boundaries, so re-assignment could
        # reject a perfectly valid layout (round-4 review finding).
        probe = points.select(points_cell_col).first()
        if probe is not None:
            got_res = int(hexgrid.unpack(
                np.array([int(probe[points_cell_col])], dtype=np.int64)
            )[0][0])
            if got_res != res:
                raise ValueError(
                    f"points_cell_col '{points_cell_col}' carries res="
                    f"{got_res} cells, but this query runs at res={res}; "
                    f"was the layout written at a different resolution?"
                )
        p = points.select(
            F.col(point_id).alias("point_id"),
            F.col("lat").alias("plat"),
            F.col("lon").alias("plon"),
            F.col(points_cell_col).alias("pcell"),
        ).persist()
        # density table at a COARSE base res even on the pinned layout
        # (round 6): grouping the layout's fine cells directly was a
        # 10^6-group shuffle per call (res 13 holds ~2 points/cell); one
        # codegen re-assign of the CACHED p at res 8 plus a tiny groupBy
        # is cheaper and feeds the same have1 estimate.  At res <= 8 the
        # pinned cells are already coarse — group them as-is.
        if res <= 8:
            base_res, steps = res, 0
            base = p.withColumn("__pc8", F.col("pcell"))
        else:
            base_res, steps = 8, res - 8
            base = hexgrid.with_hex_cell(p, base_res, lat="plat",
                                         lon="plon", out_col="__pc8")
        cnt_base = (
            base.groupBy(F.col("__pc8").alias("pcell"))
            .agg(F.count("*").alias("cnt")).persist()
        )
    else:
        base_res, steps = res, 0
        cnt_base = (
            _pts(base_res).groupBy("pcell")
            .agg(F.count("*").alias("cnt")).persist()
        )
    # one job: the max drives the refine, the row count guards the
    # density broadcast below
    max_occ, n_base_cells = cnt_base.agg(
        F.max("cnt"), F.count("*")).collect()[0]
    if points_cell_col is None:
        if (max_occ or 0) > 4 * target_occ:
            steps = max(0, min(
                int(math.ceil(math.log(max_occ / target_occ, 7))),
                15 - base_res,
            ))
        res = base_res + steps
        p = _pts(res).persist()
    to_unpersist = [p, cnt_base]

    # query prep: cell, density-estimated start ring — staged selects, all
    # distributed and pure codegen
    try:
        _nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        _nparts = spark.sparkContext.defaultParallelism
    q0 = hexgrid.with_hex_cell(
        queries.select("query_id", F.col("lat").alias("qlat"),
                       F.col("lon").alias("qlon")),
        res, lat="qlat", lon="qlon", out_col="qcell",
    )

    # uniform-density solve for the ring holding >= 2k points
    # (1 + 3r(r+1) cells at ring r), then snap UP to the doubling schedule
    # plus one extra step so the k-th distance usually clears the
    # 1.5*R*r - R coverage bound in the first round
    ring_schedule = []
    r = start_ring
    while r <= max_ring:
        ring_schedule.append(r)
        r *= 2
    sched = F.array(*[F.lit(s) for s in ring_schedule])
    # ring-1 density estimate (both paths): the query's BASE-res cell
    # count scaled to 7 final-res cells (map join — no explode); a missing
    # base cell means locally empty territory.  The count table is
    # broadcast only while it is small: a continental point table holds
    # 10^7+ base cells, which go through a sort-merge join instead.
    c8 = cnt_base.select(F.col("pcell").alias("__qc8"),
                         F.col("cnt").alias("__c8"))
    density_bcast = n_base_cells <= BROADCAST_KEY_ROWS
    c8 = F.broadcast(c8) if density_bcast else c8.hint("MERGE")
    if base_res == res:
        q8 = q0.withColumn("__qc8", F.col("qcell"))
    else:
        q8 = hexgrid.with_hex_cell(q0, base_res, lat="qlat", lon="qlon",
                                   out_col="__qc8")
    qe = q8.join(c8, "__qc8", "left").select(
        "*",
        (F.lit(7.0 * 2 * k)
         / F.greatest(
             F.coalesce(F.col("__c8").cast("double"), F.lit(0.0))
             * F.lit(7.0 ** (1 - steps)),
             F.lit(1.0))).alias("__need"),
    )
    empty1 = F.col("__c8").isNull()
    r_est = F.ceil(
        (F.lit(-3.0)
         + F.sqrt(F.lit(9.0)
                  + F.lit(12.0) * F.greatest(F.col("__need") - 1, F.lit(0.0))))
        / F.lit(6.0)
    )
    qe = qe.select(
        "*",
        F.greatest(
            F.when(empty1, F.lit(8)).otherwise(r_est),
            F.lit(start_ring),
        ).cast("int").alias("__rest"),
    ).drop("__qc8", "__c8")
    # pre-snap cap check (ADVICE fix: compare the ESTIMATE, not the
    # schedule-clamped value) — hopeless queries go straight to brute force
    n_before = F.aggregate(
        sched, F.lit(0),
        lambda acc, s: acc + F.when(s < F.col("__rest"), 1).otherwise(0),
    )
    qe = qe.select(
        "*",
        F.element_at(
            sched, F.least(n_before + F.lit(2), F.lit(len(ring_schedule)))
        ).alias("ring"),
        (F.col("__rest") > F.lit(BRUTE_RING_CAP)).alias("__hopeless"),
    ).drop("__need", "__rest")

    # checkpoint the PREP RESULT once, then split: both the active set and
    # the hopeless brute route filter the same materialized frame, so the
    # hex-assign + density-join prep chain runs exactly once.  Its
    # Observation seeds the ring histogram.
    hopeless = F.col("__hopeless")
    prep_obs = Observation()
    qe = qe.observe(
        prep_obs,
        F.count(F.when(hopeless, True)).alias("hopeless"),
        *[F.count(F.when(~hopeless & (F.col("ring") == s), True)).alias(
            f"r{s}") for s in ring_schedule],
    ).localCheckpoint(eager=True)
    prep = prep_obs.get
    hist = {s: prep[f"r{s}"] for s in ring_schedule if prep[f"r{s}"]}
    stats = {"res": res,
             "density_join": "broadcast" if density_bcast else "merge",
             "hopeless": prep["hopeless"], "rounds": [], "overflow": 0}
    brute_parts: list[DataFrame] = []
    if prep["hopeless"]:
        brute_parts.append(qe.filter(hopeless).drop("__hopeless"))
    active = qe.filter(~hopeless).drop("__hopeless")

    kring_sp = hexgrid.kring_spill_udf(res)
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"),
                                               F.asc("point_id"))
    # the k-th distance (null below k candidates) -> conservative meters
    # for the coverage-bound comparison.  A second, unordered window over
    # the <= k kept rows: a frame-wide function in the ranking window
    # itself would disable Spark's partial top-k below the shuffle
    # (WindowGroupLimit), shipping every candidate pair instead of k
    kth = F.max(F.when(F.col("rank") == k, F.col("dist"))).over(
        Window.partitionBy("query_id"))
    kth_m = F.sqrt(kth) * F.lit(111_320.0) if metric == "sq_deg" else kth
    result_dfs: list[DataFrame] = []
    depth = 0  # anti-joins stacked on `active` since its last checkpoint
    for _ in range(max_rounds):
        if not hist:
            break
        n_active = sum(hist.values())
        est_cand = sum(n * (1 + 3 * r * (r + 1)) for r, n in hist.items())
        shuffle = est_cand > BROADCAST_CAND_ROWS
        stats["rounds"].append({
            "active": n_active, "est_cand": est_cand,
            "regime": "shuffle" if shuffle else "broadcast",
        })
        # covered_m is the DONENESS CLAIM — hexgrid.claim_m, the uv-exact
        # bound on what kring(ring) provably covers (the old measured-R
        # formula 1.5*R*ring - R over-claimed near face edges where the
        # gnomonic scale shrinks across the ring).  Clamped to the disk
        # operating-envelope cap so giant rings at coarse res keep anchor
        # fanout bounded (a clamped claim only delays doneness, never
        # correctness).  The spill UDF adds neighbor-face anchor rings
        # wherever the home ring crosses a cube-face seam (round-5
        # seam-exactness lift).
        covered = F.least(
            hexgrid.claim_m_udf(res)(F.col("qlat"), F.col("qlon"),
                                     F.col("ring")),
            F.lit(hexgrid.MAX_COVER_M),
        )
        # In the shuffle-join regime the candidate generation MUST be
        # spread first: a LIMIT-derived query frame arrives as ONE
        # partition and the prep checkpoint preserves that, so the ring
        # UDF + explode would serialize through one task (measured at
        # 100k queries: round 1 went 40.7 s -> 13.6 s).  In the
        # broadcast regime the query batch is small and a single-task
        # UDF beats 64 near-empty tasks — repartition only when the
        # estimate crosses the broadcast threshold, to the session's
        # shuffle-partition count (scale-adaptive, not a local constant).
        if shuffle:
            active = active.repartition(
                _nparts, "query_id").localCheckpoint(eager=True)
            depth = 0
        cand = active.select(
            "query_id", "qlat", "qlon", "ring",
            covered.alias("covered_m"),
            F.explode(
                kring_sp(F.col("qcell"), F.col("qlat"), F.col("qlon"),
                         F.col("ring"), covered)
            ).alias("pcell"),
        )
        if not shuffle:
            cand = F.broadcast(cand)
            src_p = p
        else:
            # shuffle regime (guide §3.1): hint shuffled-hash with the
            # cell-indexed points as the per-partition build side — the
            # sort-merge alternative sorts both sides on the cell key,
            # which the downstream window (sorted by query/dist) never
            # reuses.  A/B on the isolated 100k-query round-1 join shape:
            # SMJ 16.5 s vs SHJ 7.7 s; inside the full operator the
            # difference measured within noise on a loaded host, so this
            # is kept as the structurally-right strategy (r5 precedent:
            # the triangle wedge joins won 2x the same way).  Build-side
            # memory is bounded: the points partition is AQE-sized, and
            # the candidate side is the larger stream.
            src_p = p.hint("SHUFFLE_HASH")
        joined = src_p.join(cand, "pcell").withColumn(
            "dist",
            _dist_col(metric, F.col("qlat"), F.col("qlon"),
                      F.col("plat"), F.col("plon")),
        )
        # materialize this round's top-k ONCE (n_active*k rows,
        # distributed) with a per-row done flag: the query has a rank-k
        # row and its k-th distance is within the ring's claim.  The
        # round's results and the next active set both filter the
        # checkpoint; its Observation counts the finished queries per ring
        done_obs = Observation()
        first_done = F.col("done") & (F.col("rank") == 1)
        topk = (
            joined.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "query_id", "rank", "point_id", "dist", "ring",
                F.coalesce(kth_m <= F.col("covered_m"),
                           F.lit(False)).alias("done"),
            )
            .observe(done_obs, *[
                F.count(F.when(first_done & (F.col("ring") == s), True))
                .alias(f"r{s}") for s in hist])
            .localCheckpoint(eager=True)
        )
        n_done = done_obs.get
        result_dfs.append(topk.filter("done").select(
            "query_id", "rank", "point_id", "dist"))
        # queries with no candidates this round simply stay active (left
        # anti join keeps them); ring doubles; overflow leaves for brute.
        # `active` stays a LAZY chain — the qe checkpoint anti-joined
        # with the per-round done sets, each a filter of a checkpointed
        # topk — except for large batches, where re-evaluating it costs
        # more than one checkpoint job, and every ACTIVE_CHAIN_DEPTH
        # rounds, which bounds the chain for long-running small batches.
        nxt_hist, overflow = {}, 0
        for r, n in hist.items():
            left = n - n_done[f"r{r}"]
            if 2 * r > max_ring:
                overflow += left
            elif left:
                nxt_hist[2 * r] = left
        done_ids = topk.filter(first_done).select("query_id")
        if sum(n_done.values()) <= BROADCAST_KEY_ROWS:
            done_ids = F.broadcast(done_ids)
        nxt = (
            active.join(done_ids, "query_id", "left_anti")
            .withColumn("ring", F.col("ring") * 2)
        )
        if overflow:
            brute_parts.append(nxt.filter(F.col("ring") > max_ring))
            stats["overflow"] += overflow
        active = nxt.filter(F.col("ring") <= max_ring)
        hist = nxt_hist
        depth += 1
        if hist and (n_active > LAZY_ACTIVE_MAX
                     or depth >= ACTIVE_CHAIN_DEPTH):
            active = active.localCheckpoint(eager=True)
            depth = 0
    # long-tail fallback: hopeless + ring-overflow + round-budget leftovers
    # in one single-pass brute force (they are few by construction; the
    # union is a lazy chain over checkpointed parents)
    if hist:
        brute_parts.append(active)
    stats["leftover"] = (stats["hopeless"] + stats["overflow"]
                         + sum(hist.values()))
    if brute_parts:
        leftover = reduce(DataFrame.unionByName, brute_parts).select(
            "query_id", F.col("qlat").alias("lat"), F.col("qlon").alias("lon")
        )
        result_dfs.append(
            knn_bruteforce(points, leftover, k, metric=metric,
                           point_id=point_id)
        )
    _log.debug("knn_kring %s", stats)

    for df_ in to_unpersist:
        df_.unpersist()
    if not result_dfs:
        return spark.createDataFrame(
            [], "query_id string, rank int, point_id string, dist double"
        )
    out = reduce(DataFrame.unionByName, result_dfs)
    return out.select(
        "query_id", F.col("rank").cast("int").alias("rank"),
        "point_id", "dist",
    )


def idw_interpolate(
    points: DataFrame,
    queries: DataFrame,
    k: int = 8,
    power: float = 2.0,
    metric: str = "haversine",
    value_col: str = "value",
    point_id: str = "id",
    exact_hit_eps: float = 1e-9,
    **knn_kwargs,
) -> DataFrame:
    """(query_id, estimate, n_neighbors): inverse-distance-weighted
    interpolation of `value_col` at each query point (Shepard 1968) —
    the k nearest points vote with weight 1/dist^power.

    Composition, not a new kernel: neighbors come from `knn_auto` (the
    cost-dispatched brute/k-ring path with all its guarantees), values
    join back on the point id, and the estimate is ONE groupBy(query_id)
    of two sums.  A neighbor within `exact_hit_eps` wins outright (its
    value is returned exactly — the IDW weight would be infinite).
    Queries with no neighbor at all (empty points side) produce no row,
    matching the kNN contract."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if power <= 0:
        raise ValueError(f"power must be positive, got {power}")
    nn = knn_auto(points, queries, k, metric=metric, point_id=point_id,
                  **knn_kwargs)
    vals = points.select(F.col(point_id).alias("point_id"),
                         F.col(value_col).cast("double").alias("__v"))
    j = nn.join(vals, "point_id")
    hit = F.max(F.when(F.col("dist") <= exact_hit_eps,
                       F.struct(F.lit(1).alias("h"), F.col("__v"))))
    w = F.lit(1.0) / F.pow(F.col("dist"), F.lit(power))
    return (
        j.groupBy("query_id")
        .agg(
            hit.alias("__hit"),
            F.sum(F.when(F.col("dist") > exact_hit_eps,
                         w * F.col("__v"))).alias("__num"),
            F.sum(F.when(F.col("dist") > exact_hit_eps, w)).alias("__den"),
            F.count("*").alias("n_neighbors"),
        )
        .select(
            "query_id",
            F.coalesce(F.col("__hit.__v"),
                       F.col("__num") / F.col("__den")).alias("estimate"),
            "n_neighbors",
        )
    )

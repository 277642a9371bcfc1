"""Token-ring data distribution — Cassandra's placement model
(SURVEY.md §1.3, docs/01-migration-overview.md token ranges) surfaced
as an analytics operator: given a virtual-node ring, which node owns
each row, and how balanced is the ownership?

This is the report a migration plans capacity with (per-node row/byte
ownership before cutover) and the same machinery CDM's
``numParts``/token-range splitting rides on (plans/migrate.py).

Design
------
- Tokens are the portable 60-bit md5 draw (functions/hashing.md5_draw)
  so Spark, DuckDB, and driver-side Python all derive identical ring
  positions — the ring itself is pure data, not engine state.
- The ring is tiny (nodes·vnodes entries) and ships as a BROADCAST
  table of half-open token ranges ``(lo, hi] -> node``.  Each row
  computes its md5 token ONCE in a projection, then a broadcast
  range join assigns the owning slot — no shuffle of the data side,
  and the per-node report aggregates O(nodes) keys map-side.
- Why a join and not a scan-side array expression: a higher-order
  ``filter(tokens, t -> t >= row_token)`` lambda re-evaluates the
  captured token expression PER ELEMENT (HOFs are interpreted, no
  common-subexpression elimination), so a 64-vnode ring paid 64 md5
  computations per row — measured 17 s vs 2 s at sf0.1.  The join
  materializes the token into the row first, so md5 runs once.
- At 100 TB the broadcast is still O(nodes·vnodes) bytes and the
  data side never exchanges; only per-node aggregates move.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassandra_data_migration_spark.functions.hashing import md5_draw


def _py_token(seed: str, *vals) -> int:
    """Driver-side twin of md5_draw — same string form, same 60 bits."""
    s = ":".join([seed] + [str(v) for v in vals])
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def vnode_ring(
    num_nodes: int = 4, vnodes_per_node: int = 16, seed: str = "ring"
) -> list[tuple[int, int]]:
    """[(token, node)] sorted by token: each node claims
    ``vnodes_per_node`` deterministic positions on the ring."""
    entries = [
        (_py_token(seed, n, v), n)
        for n in range(num_nodes)
        for v in range(vnodes_per_node)
    ]
    entries.sort()
    return entries


def _slot_ranges(ring: list[tuple[int, int]]) -> list[tuple[int | None, int, int]]:
    """Half-open ranges ``(lo_exclusive, hi_inclusive, node)`` per
    vnode slot; the first slot's lo is None (ring start).  Tokens
    above the last vnode wrap to the first slot before the join."""
    out: list[tuple[int | None, int, int]] = []
    prev: int | None = None
    for tok, node in ring:
        out.append((prev, tok, node))
        prev = tok
    return out


def _assign_nodes(
    df: DataFrame,
    key_col: str,
    ranges: list[tuple[int | None, int, int]],
    seed: str,
) -> DataFrame:
    """One ``node`` row per (row, matching range): md5 token computed
    once per row in a projection, then a broadcast range join against
    the tiny ranges table.  For ``replica_sets``-expanded ranges the
    join fans each row out to its rf owners — after projection to the
    8-byte token, so the wide row never replicates."""
    spark = df.sparkSession
    slots = spark.createDataFrame(ranges, "lo long, hi long, node int")
    tok = md5_draw(seed + ":key", key_col)
    first_hi = ranges[0][1]
    last_hi = ranges[-1][1]
    toks = df.select(
        F.when(tok > F.lit(last_hi), F.lit(first_hi)).otherwise(tok).alias("_tok")
    )
    cond = (F.col("_tok") <= F.col("hi")) & (
        F.col("lo").isNull() | (F.col("_tok") > F.col("lo"))
    )
    return toks.join(F.broadcast(slots), cond, "inner").select("node")


def ring_ownership(
    df: DataFrame,
    key_col: str,
    num_nodes: int = 4,
    vnodes_per_node: int = 16,
    seed: str = "ring",
) -> DataFrame:
    """(node, n_rows, pct) ownership report over ``df`` keyed by
    ``key_col`` — the pre-cutover balance check.  With vnodes, spread
    concentrates toward 1/num_nodes; the pct column is what capacity
    review reads."""
    ring = vnode_ring(num_nodes, vnodes_per_node, seed)
    owned = _assign_nodes(df, key_col, _slot_ranges(ring), seed)
    total = df.count()
    return (
        owned.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("pct", F.round(F.col("n_rows") / F.lit(total), 4))
    )


def ring_sql(
    table: str,
    key_expr: str,
    num_nodes: int = 4,
    vnodes_per_node: int = 16,
    seed: str = "ring",
) -> str:
    """DuckDB twin of :func:`ring_ownership` (same ring literals)."""
    from cassandra_data_migration_spark.functions.hashing import md5_draw_sql

    ring = vnode_ring(num_nodes, vnodes_per_node, seed)
    tokens = "[" + ", ".join(str(t) for t, _ in ring) + "]"
    nodes = "[" + ", ".join(str(n) for _, n in ring) + "]"
    tok = md5_draw_sql(seed + ":key", key_expr)
    return f"""
        WITH assigned AS (
            SELECT ({nodes})[list_position({tokens},
                       COALESCE(list_min(list_filter({tokens},
                                t -> t >= {tok})), {ring[0][0]}))] AS node
            FROM {table}
        ),
        tot AS (SELECT COUNT(*) AS n FROM {table})
        SELECT node, COUNT(*) AS n_rows,
               ROUND(COUNT(*) * 1.0 / tot.n, 4) AS pct
        FROM assigned, tot
        GROUP BY node, tot.n
    """


def replica_sets(
    ring: list[tuple[int, int]], rf: int = 3
) -> list[tuple[int, list[int]]]:
    """[(token, [owners])] per vnode slot: walk clockwise from each
    vnode collecting the first ``rf`` DISTINCT nodes — Cassandra's
    SimpleStrategy placement.  Driver-side over the tiny ring; the
    result ships to executors as literals."""
    n_slots = len(ring)
    out = []
    for i, (tok, _) in enumerate(ring):
        owners: list[int] = []
        j = i
        while len(owners) < rf and j < i + n_slots:
            node = ring[j % n_slots][1]
            if node not in owners:
                owners.append(node)
            j += 1
        out.append((tok, owners))
    return out


def replica_ownership(
    df: DataFrame,
    key_col: str,
    num_nodes: int = 4,
    vnodes_per_node: int = 16,
    rf: int = 3,
    seed: str = "ring",
) -> DataFrame:
    """(node, n_replica_rows, pct_of_rows) under RF=``rf``: how many
    rows each node stores INCLUDING replicas — the capacity number a
    migration actually provisions for (RF× the primary ownership,
    rebalanced by the ring walk).

    Plan shape: same broadcast range join as :func:`ring_ownership`,
    with the ranges table pre-expanded to rf rows per slot — the join
    itself fans each row out to its replicas.  Rows fan out ×rf, but
    only AFTER projection to the 8-byte token — the wide row never
    replicates.
    """
    ring = vnode_ring(num_nodes, vnodes_per_node, seed)
    sets = replica_sets(ring, rf)
    ranges: list[tuple[int | None, int, int]] = []
    prev: int | None = None
    for tok, owners in sets:
        ranges.extend((prev, tok, n) for n in owners)
        prev = tok
    total = df.count()
    return (
        _assign_nodes(df, key_col, ranges, seed)
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_replica_rows"))
        .withColumn(
            "pct_of_rows",
            F.round(F.col("n_replica_rows") / F.lit(total), 4),
        )
    )


def topology_nodes(
    dcs: dict[str, int], racks_per_dc: int = 2
) -> list[tuple[int, str, int]]:
    """[(node_id, dc, rack)] — global node ids assigned contiguously
    per DC (node_id // 1000 is NOT meaningful; use the returned dc),
    racks round-robined inside each DC.  The reference keyspace is
    NetworkTopologyStrategy over named DCs
    (lab/init-scripts/01-create-schema.cql:4-8: dc1/datacenter1),
    and the ZDM runbook reasons about per-DC placement
    (docs/05-zdm-approach.md localDC settings)."""
    out: list[tuple[int, str, int]] = []
    nid = 0
    for dc in sorted(dcs):
        for i in range(dcs[dc]):
            out.append((nid, dc, i % racks_per_dc))
            nid += 1
    return out


def nts_ring(
    nodes: list[tuple[int, str, int]],
    vnodes_per_node: int = 16,
    seed: str = "ring",
) -> list[tuple[int, int]]:
    """[(token, node_id)] sorted — same deterministic vnode draw as
    :func:`vnode_ring`, over explicitly-described nodes."""
    entries = [
        (_py_token(seed, n, v), n)
        for n, _, _ in nodes
        for v in range(vnodes_per_node)
    ]
    entries.sort()
    return entries


def nts_replica_sets(
    ring: list[tuple[int, int]],
    nodes: list[tuple[int, str, int]],
    rf_per_dc: dict[str, int],
) -> list[tuple[int, list[int]]]:
    """[(token, [owners])] per vnode slot under
    NetworkTopologyStrategy: for each DC independently, walk the ring
    clockwise from the slot collecting ``rf_dc`` DISTINCT nodes,
    preferring one per RACK first (a node whose rack is already
    represented is deferred and only seated once every rack in the DC
    has a replica) — the public NTS placement rule
    (NetworkTopologyStrategy.calculateNaturalEndpoints).  Driver-side
    over the tiny ring; results ship as broadcast literals."""
    dc_of = {n: dc for n, dc, _ in nodes}
    rack_of = {n: r for n, _, r in nodes}
    n_slots = len(ring)
    out: list[tuple[int, list[int]]] = []
    for i, (tok, _) in enumerate(ring):
        owners: list[int] = []
        for dc in sorted(rf_per_dc):
            rf = rf_per_dc[dc]
            taken: list[int] = []
            seen_racks: set[int] = set()
            skipped: list[int] = []
            j = i
            while len(taken) < rf and j < i + n_slots:
                node = ring[j % n_slots][1]
                j += 1
                if dc_of[node] != dc or node in taken:
                    continue
                if rack_of[node] in seen_racks:
                    if node not in skipped:
                        skipped.append(node)
                    continue
                taken.append(node)
                seen_racks.add(rack_of[node])
            for node in skipped:  # racks exhausted: seat deferred nodes
                if len(taken) >= rf:
                    break
                taken.append(node)
            owners.extend(taken)
        out.append((tok, owners))
    return out


def replica_ownership_nts(
    df: DataFrame,
    key_col: str,
    dcs: dict[str, int] | None = None,
    rf_per_dc: dict[str, int] | None = None,
    racks_per_dc: int = 2,
    vnodes_per_node: int = 16,
    seed: str = "ring",
) -> DataFrame:
    """(dc, node, n_replica_rows, pct_of_rows) under
    NetworkTopologyStrategy — the per-DC capacity sheet a multi-DC
    migration provisions from (each DC holds rf_dc full copies, rack-
    spread).  Plan shape: identical to :func:`replica_ownership` —
    the NTS walk only changes WHICH literals the broadcast ranges
    table holds, never the data-side plan (one token projection, one
    broadcast range join, O(nodes) aggregate)."""
    dcs = dcs or {"dc1": 3, "dc2": 3}
    rf_per_dc = rf_per_dc or {dc: min(3, n) for dc, n in dcs.items()}
    nodes = topology_nodes(dcs, racks_per_dc)
    ring = nts_ring(nodes, vnodes_per_node, seed)
    sets = nts_replica_sets(ring, nodes, rf_per_dc)
    ranges: list[tuple[int | None, int, int]] = []
    prev: int | None = None
    for tok, owners in sets:
        ranges.extend((prev, tok, n) for n in owners)
        prev = tok
    total = df.count()
    dc_expr = F.create_map(
        *[x for n, dc, _ in nodes for x in (F.lit(n), F.lit(dc))]
    )
    return (
        _assign_nodes(df, key_col, ranges, seed)
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_replica_rows"))
        .select(
            dc_expr[F.col("node")].alias("dc"),
            "node",
            "n_replica_rows",
            F.round(F.col("n_replica_rows") / F.lit(total), 4).alias(
                "pct_of_rows"
            ),
        )
    )


def replica_nts_sql(
    table: str,
    key_expr: str,
    dcs: dict[str, int] | None = None,
    rf_per_dc: dict[str, int] | None = None,
    racks_per_dc: int = 2,
    vnodes_per_node: int = 16,
    seed: str = "ring",
) -> str:
    """DuckDB twin of :func:`replica_ownership_nts` (same ring and
    placement literals, derived by the same driver-side walk)."""
    from cassandra_data_migration_spark.functions.hashing import md5_draw_sql

    dcs = dcs or {"dc1": 3, "dc2": 3}
    rf_per_dc = rf_per_dc or {dc: min(3, n) for dc, n in dcs.items()}
    nodes = topology_nodes(dcs, racks_per_dc)
    ring = nts_ring(nodes, vnodes_per_node, seed)
    sets = nts_replica_sets(ring, nodes, rf_per_dc)
    tokens = "[" + ", ".join(str(t) for t, _ in sets) + "]"
    owners = (
        "["
        + ", ".join("[" + ", ".join(str(n) for n in ns) + "]" for _, ns in sets)
        + "]"
    )
    dc_case = " ".join(
        f"WHEN {n} THEN '{dc}'" for n, dc, _ in nodes
    )
    tok = md5_draw_sql(seed + ":key", key_expr)
    return f"""
        WITH assigned AS (
            SELECT unnest(({owners})[list_position({tokens},
                       COALESCE(list_min(list_filter({tokens},
                                t -> t >= {tok})), {sets[0][0]}))]) AS node
            FROM {table}
        ),
        tot AS (SELECT COUNT(*) AS n FROM {table})
        SELECT CASE node {dc_case} END AS dc,
               node, COUNT(*) AS n_replica_rows,
               ROUND(COUNT(*) * 1.0 / tot.n, 4) AS pct_of_rows
        FROM assigned, tot
        GROUP BY node, tot.n
    """


def replica_sql(
    table: str,
    key_expr: str,
    num_nodes: int = 4,
    vnodes_per_node: int = 16,
    rf: int = 3,
    seed: str = "ring",
) -> str:
    """DuckDB twin of :func:`replica_ownership`."""
    from cassandra_data_migration_spark.functions.hashing import md5_draw_sql

    ring = vnode_ring(num_nodes, vnodes_per_node, seed)
    sets = replica_sets(ring, rf)
    tokens = "[" + ", ".join(str(t) for t, _ in sets) + "]"
    owners = (
        "["
        + ", ".join("[" + ", ".join(str(n) for n in ns) + "]" for _, ns in sets)
        + "]"
    )
    tok = md5_draw_sql(seed + ":key", key_expr)
    return f"""
        WITH assigned AS (
            SELECT unnest(({owners})[list_position({tokens},
                       COALESCE(list_min(list_filter({tokens},
                                t -> t >= {tok})), {sets[0][0]}))]) AS node
            FROM {table}
        ),
        tot AS (SELECT COUNT(*) AS n FROM {table})
        SELECT node, COUNT(*) AS n_replica_rows,
               ROUND(COUNT(*) * 1.0 / tot.n, 4) AS pct_of_rows
        FROM assigned, tot
        GROUP BY node, tot.n
    """

"""Golden fixtures from the reference's unit tests and executable docs.

See FIXTURES.md — node ids and expected values are copied from:
- F1: algo/src/test/java/org/neo4j/gds/pagerank/PageRankTest.java:66-125
- F2: doc/modules/ROOT/pages/algorithms/page-rank.adoc result tables
- F3: doc/modules/ROOT/pages/algorithms/wcc.adoc
- F4: doc/modules/ROOT/pages/algorithms/label-propagation.adoc
- F5: doc/modules/ROOT/pages/algorithms/triangle-count.adoc +
      local-clustering-coefficient.adoc
"""

# ---- F1: PageRank unit fixture (11 nodes a..k = 0..10) ----------------------
F1_EDGES = [
    (1, 2), (2, 1), (3, 0), (3, 1), (4, 1), (4, 3), (4, 5), (5, 1), (5, 4),
    (6, 1), (6, 4), (7, 1), (7, 4), (8, 1), (8, 4), (9, 4), (10, 4),
]
F1_NODES = list(range(11))
F1_EXPECTED = {
    0: 0.3040965, 1: 3.5604297, 2: 3.1757906, 3: 0.3625935, 4: 0.7503465,
    5: 0.3625935, 6: 0.15, 7: 0.15, 8: 0.15, 9: 0.15, 10: 0.15,
}

# ---- F2: PageRank doc fixture (8 pages) -------------------------------------
# Home(0) About(1) Product(2) Links(3) SiteA(4) SiteB(5) SiteC(6) SiteD(7)
F2_EDGES = [
    (0, 1, 0.2), (0, 3, 0.2), (0, 2, 0.6),
    (1, 0, 1.0), (2, 0, 1.0),
    (4, 0, 1.0), (5, 0, 1.0), (6, 0, 1.0), (7, 0, 1.0),
    (3, 0, 0.8), (3, 4, 0.05), (3, 5, 0.05), (3, 6, 0.05), (3, 7, 0.05),
]
F2_NODES = list(range(8))
F2_EXPECTED_UNWEIGHTED = {
    0: 3.215681999884452,
    1: 1.0542700552146722, 2: 1.0542700552146722, 3: 1.0542700552146722,
    4: 0.3278578964488539, 5: 0.3278578964488539,
    6: 0.3278578964488539, 7: 0.3278578964488539,
}
F2_EXPECTED_WEIGHTED = {
    0: 3.53751028396339,
    2: 1.9357838291651097,
    1: 0.7452612763883698, 3: 0.7452612763883698,
    4: 0.18152677135466103, 5: 0.18152677135466103,
    6: 0.18152677135466103, 7: 0.18152677135466103,
}
F2_EXPECTED_TOL01 = {
    0: 1.5812450669583336,
    1: 0.5980194356381945, 2: 0.5980194356381945, 3: 0.5980194356381945,
    4: 0.23374955154166668, 5: 0.23374955154166668,
    6: 0.23374955154166668, 7: 0.23374955154166668,
}

# ---- F3: WCC doc fixture (6 users) ------------------------------------------
# Alice(0) Bridget(1) Charles(2) Doug(3) Mark(4) Michael(5)
F3_EDGES = [(0, 1, 0.5), (0, 2, 4.0), (4, 3, 1.1), (4, 5, 2.0)]
F3_NODES = list(range(6))
F3_EXPECTED = {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}
F3_EXPECTED_THRESHOLD_1 = {0: 0, 2: 0, 1: 1, 3: 3, 4: 3, 5: 3}

# ---- F4: Label propagation doc fixture (6 users, FOLLOW) --------------------
# Alice(0,seed 52) Bridget(1,21) Charles(2,43) Doug(3,21) Mark(4,19) Michael(5,52)
F4_EDGES = [
    (0, 1, 1.0), (0, 2, 10.0), (4, 3, 1.0), (1, 5, 1.0), (3, 4, 1.0),
    (5, 0, 1.0), (0, 5, 1.0), (1, 0, 1.0), (5, 1, 1.0), (2, 3, 1.0),
]
F4_NODES = list(range(6))
F4_SEEDS = {0: 52, 1: 21, 2: 43, 3: 21, 4: 19, 5: 52}
F4_EXPECTED_UNWEIGHTED = {0: 1, 1: 1, 5: 1, 2: 4, 3: 4, 4: 4}
F4_EXPECTED_WEIGHTED = {1: 2, 5: 2, 0: 4, 2: 4, 3: 4, 4: 4}
F4_EXPECTED_SEEDED = {2: 19, 3: 19, 4: 19, 0: 21, 1: 21, 5: 21}

# ---- F5: Triangle count / LCC doc fixture (6 people, UNDIRECTED) ------------
# Alice(0) Michael(1) Karin(2) Chris(3) Will(4) Mark(5)
F5_EDGES = [(1, 2), (1, 3), (4, 1), (5, 1), (5, 4), (0, 1), (4, 3), (3, 2)]
F5_NODES = list(range(6))
F5_EXPECTED_TRIANGLES = {1: 3, 3: 2, 4: 2, 2: 1, 5: 1, 0: 0}
F5_GLOBAL_TRIANGLES = 3
F5_EXPECTED_LCC = {
    2: 1.0, 5: 1.0, 3: 0.6666666666666666, 4: 0.6666666666666666,
    1: 0.3, 0: 0.0,
}


# ---- co-partitioned layout at N > 1 (plans/partitioning.layout_partitions) ----
#: session confs (set through the conftest ``spark_conf`` fixture) under
#: which the tiny fixtures get a layout of LAYOUT_N partitions: one
#: partition per 16 bytes of edge table, capped at LAYOUT_N
LAYOUT_N = 4
LAYOUT_CONF = {"spark.sql.adaptive.coalescePartitions.minPartitionSize": "16b",
               "spark.sql.shuffle.partitions": str(LAYOUT_N)}

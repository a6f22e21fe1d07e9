"""Graph algorithms as Pregel-style DataFrame iteration.

Re-expresses the reference's algorithm library
(crates/samyama-graph-algorithms: pagerank.rs, community.rs,
pathfinding.rs, cdlp.rs, lcc.rs, topology.rs) on Spark DataFrames.

PageRank, WCC, CDLP, BFS and SSSP (and SCC's reachability labels,
Cypher's deep var-length and ``shortestPath`` BFS in
``operators/traversal.py``, and SPARQL's ``+``/``*`` closures in
``rdf.py``) are vertex programs run by one kernel,
``util.superstep``, modelled on Pregelix's superstep (vertex ⨝
messages → group-by combine → update).  SCC's outer peel and MST's
Borůvka rounds keep their own loops.  The kernel:

- Below a size guard (``util.DRIVER_EDGE_GUARD`` edges, ×8 for BFS and
  SSSP, read at call time) one bounded Arrow probe collects the edges
  and a numpy kernel settles the fixpoint on the driver — the
  reference's own solvers are sequential.
- Above it, inside one ``iteration_scope`` (AQE off, shuffle partitions
  sized from the input), the edges are persisted hash-partitioned on
  ``src``, so each round's join against the sending vertices moves only
  the vertex side (shuffle-hash, never broadcast).  Each round's output
  is a lazy ``localCheckpoint`` materialized by the round's single
  action — a count of active rows, a row count, or PageRank's message
  sum — so a round costs one Spark job and lineage stays flat.  Loops
  with an ``active`` flag send only from active vertices and halt when
  none is left; WCC checks every 2 rounds, SCC every 3, the others
  every round.

No vertex state is collected on the distributed path; only scalars
cross to the driver.
"""

from samyama_graph_spark.algorithms.components import cdlp, wcc
from samyama_graph_spark.algorithms.pagerank import pagerank
from samyama_graph_spark.algorithms.paths import bfs, shortest_path_length, sssp
from samyama_graph_spark.algorithms.pca import PcaModel, pca_fit, pca_transform
from samyama_graph_spark.algorithms.scc import scc
from samyama_graph_spark.algorithms.topology import lcc, triangle_count

__all__ = [
    "pagerank",
    "wcc",
    "scc",
    "cdlp",
    "bfs",
    "sssp",
    "shortest_path_length",
    "triangle_count",
    "lcc",
    "PcaModel",
    "pca_fit",
    "pca_transform",
]

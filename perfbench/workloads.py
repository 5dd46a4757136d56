"""Workload definitions: which registered queries each workload runs,
why it was chosen, and the checks applied to outputs without an oracle.

Inputs are the seed-42 fixture tables at sf0.01, copied unchanged into
``perfbench/data/sf0.01`` so a checkout holds everything the benchmark
reads. The benchmark seed only permutes query order within each warm
pass; the cold pass runs the queries in the order listed here.
"""

from __future__ import annotations

import os

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

WORKLOADS: dict[str, dict] = {
    "spatial": {
        "queries": [
            "i65_hausdorff_similarity",
            "i69_frechet_similarity",
            "i48b_knn_local_index",
            "i70_cascaded_union_area",
        ],
        "why": (
            "GLONASS trajectory and geometry kernels; most of the pass is "
            "engine execution and Arrow/pandas UDF time (trajectory top-k "
            "refine, local kNN index, polygon union)."
        ),
    },
    "iterative": {
        "queries": [
            "n1_connected_components",
            "i48c_unbounded_knn",
            "k55_bpe_merge_learning",
            "k2b_minhash_lsh_dedup",
        ],
        "why": (
            "Eager-kernel queries whose builders run many small Spark jobs "
            "(rounds, checkpoints, collects); most of the pass is builder "
            "time, so materialization count and per-job overhead show."
        ),
    },
}

# Row counts of the workload queries without a DuckDB oracle, per
# fixture scale. sf0.01 as recorded by the full-registry mirror
# (MIRROR_r11.json); sf0.001 follows the same structure: one row per
# vehicle (i69), per district (i70) and per document (k2b).
ROWS_ONLY: dict[str, dict[str, int]] = {
    "sf0.001": {
        "i69_frechet_similarity": 15,
        "i70_cascaded_union_area": 75,
        "k2b_minhash_lsh_dedup": 500,
    },
    "sf0.01": {
        "i69_frechet_similarity": 150,
        "i70_cascaded_union_area": 750,
        "k2b_minhash_lsh_dedup": 500,
    },
}

# Which end-to-end metric each per-layer metric should move, and on which
# workload (written down before any optimisation is measured):
#
#   session.*, registry.*   setup_s                            both, equally
#   operators.*             pass_s, query_geomean_s,           iterative (builder time is
#                           first_pass_s                       ~90% of its pass); little on spatial
#   sources.*               pass_s, first_pass_s               both; the sf0.01 scan is small
#   engine.*                pass_s, query_tail_s               spatial; engine.tasks and
#                           (gc_s, spill_mb: peak RSS)         core_busy also on iterative
#   python.*                pass_s, query_tail_s               spatial; zero on iterative
#   <module>.build_s/exec_s as operators.* / engine.*          the workload holding the module
#   trace.pass_s            none: minus the untraced pass_s    both
#                           it is the tracing overhead

"""The benchmark's workloads: inputs, sizes and fixed operation lists."""

# Declared queries of the sweep, a fixed sample across graft's query
# modules: relational (Relational, Relational3, Temporal, Sketches), table
# lifecycle (GraftQueries) and LLM-pipeline operators (Similarity, Dedup2,
# Curation). Each has a DuckDB oracle that stays fast at this size. Four
# passes of eight keep each query's median clear of one slow pass.
#
# A run stops after `min_passes` passes once `--seconds` have passed.
# The first `warm_passes` warm up: their answers are checked, their times
# not counted, so 4 passes count. Sweep query time falls by about a
# quarter over the first two passes as the JIT compiles, then by about 1%
# a pass; lake operations settle after one round.
# `pass_floor_s` is half the fastest pass measured (about 5 s for either
# workload on 4 cores), so ceil(seconds / pass_floor_s) query orders or
# CDC rounds always cover a run.
QUERIES = ["q5_multi_join", "q_mode", "q_asof_join", "q_sketch_rollup", "q_graft_mor",
           "q_ann_lsh", "q_dedup_fuzzy", "q_tfidf_terms"]

WORKLOADS = {
    "query_sweep": {
        "kind": "sweep", "gen": {"sf": 0.1}, "queries": QUERIES, "warmup_query": "q_string",
        "setup_reps": 5, "warm_passes": 2, "min_passes": 6, "pass_floor_s": 2.5},
    "lake_cdc": {
        "kind": "lake", "rows": 40_000, "lookups": 6,
        "target_rows": 2000, "compact_every": 3, "retain": 6,
        "setup_reps": 3, "warm_passes": 1, "min_passes": 5, "pass_floor_s": 2.5},
}

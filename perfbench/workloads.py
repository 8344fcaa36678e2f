"""What each workload runs.

A run makes whole rounds of the same operations: one cold round in the
fresh session, then WARM_ROUNDS warm rounds, whatever ``--seconds``
says, so both the estimators and the share of failed operations are the
same in every run. The lists are a subset of the registry chosen to
keep one run, set-up included, within the benchmark's time budget on a
4-core box; README.md gives the sizing.
"""

from __future__ import annotations

QUERIES = {
    # one query per registry family, no Python workers
    "sql_batch": [
        "flagship_pricing_join",   # join + agg + sort
        "rollup_sums",             # agg (rollup)
        "sort_global_rank",        # sort
        "set_intersect_except",    # set
        "chain_transforms",        # transform
        "sink_partitioned_roundtrip",  # partitioned write + read back
        "window_session",          # session windows
    ],
    "corpus_ops": [
        "sim_near_dup_embeddings",  # bucketed pairs, duplicate_components' localCheckpoint loop
        "text_token_quality",      # text functions
        "pandas_udaf_range",       # pandas UDAF (Arrow worker traffic)
    ],
}
WORKLOADS = tuple(QUERIES)

REGISTRY_TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

# warm rounds after the cold one; warm_s takes each operation's minimum
WARM_ROUNDS = 3

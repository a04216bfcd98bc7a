"""The benchmark's workloads: named query lists from the catalog.

Each workload is a closed loop with one client: one process issues one
query at a time and waits for it. The catalog's harnesses all run queries
serially, and ``caches.persistent_rdd_ids`` relies on that. Why each
workload was chosen is written once, in ``BENCHMARK.json``.

``sf`` is the scale factor of the tables a workload reads. single-pass runs
at sf 0.1, the scale of the catalog's own benchmark. driver-loop runs at
sf 0.01: at sf 0.1 one warm pass of it takes about 20 s and its cold pass
about 30 s on 4 cores, which does not fit the benchmark's time per run.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "driver-loop": {
        "sf": 0.01,
        "queries": [
            "graph_pagerank",
            "graph_label_propagation",
            "stream_stateful_user_totals",
        ],
    },
    "single-pass": {
        "sf": 0.1,
        "queries": [
            "mr_word_count",
            "mr_grep",
            "mr_sort_topn",
            "mr_inverted_index",
            "mr_key_count",
            "mr_per_key_fold",
            "mr_posting_pairs",
            "mr_generic_contract_word_count",
            "txt_tfidf_top_terms",
            "txt_top_bigrams",
            "rel_sql_api_q3",
            "rel_semi_join",
            "rel_window_lag_rank",
            "rel_cube",
        ],
    },
}

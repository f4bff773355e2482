"""The benchmark's workloads: which contract queries each one runs, and
why it is in the benchmark.

Each query is built with ``QUERIES[name](spark, data_dir)`` and run to
the ``noop`` sink, one at a time, the way a betl ``Pipeline`` submits
work (a closed loop with one client).

The two workloads split the layers between them: ``kimball_etl`` runs
``pipeline``, ``dataflow``, ``defaults`` and ``io`` but no ``operators``
or ``streaming`` code, and ``curation_stream`` the reverse, so each is
the other's control.
"""

WORKLOADS = {
    "kimball_etl": {
        "why": "the paper's Kimball surface; queries through Pipeline, DataFlow, surrogate keys and staged parquet writes",
        "queries": ["star_schema_pipeline", "scd2_dimension", "sk_dimension"],
    },
    "curation_stream": {
        "why": "scale operators with eager localCheckpoint, then availableNow micro-batches through applyInPandasWithState",
        "queries": ["semantic_dedup", "token_count_bpe", "events_stream_stateful"],
    },
}

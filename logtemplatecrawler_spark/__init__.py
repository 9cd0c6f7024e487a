"""PySpark-native web-scale crawl scheduler + log-template extraction engine.

A from-scratch re-imagination (NOT a port) of the capabilities of
tassadarius/LogTemplateCrawler (reference at /root/reference, LGPL-3.0):

* ``core``      — pure-Python, Spark-free re-implementation of the reference's
                  template pipeline semantics (detect → extract → parse →
                  formalize → filter).  Shared by the vectorized Arrow UDFs
                  and by the pytest oracle harness, and pinned by golden tests.
* ``functions`` — native ``pyspark.sql.functions`` column expressions for every
                  predicate/projection the reference implements imperatively.
* ``operators`` — Arrow UDF wrappers around ``core`` plus relational
                  operators (dedup windows, politeness queues, anti-joins).
* ``sources``   — pages/seeds/robots/frontier table readers + writers
                  (parquet-backed with checkpoint/manifest semantics).
* ``plans``     — assembled dataflow plans (the template pipeline, export
                  queries, training-data pipeline ops).
* ``crawl``     — the URL-frontier + fetch scheduler: URL-seen filter,
                  per-host politeness budgets, robots gating, priority queue,
                  salted partitioning, round loop with resumable checkpoints.
"""

__version__ = "0.1.0"

"""sortify_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference system (an AI document
management + RAG Q&A service; see SURVEY.md).

Everything is expressed Spark-first: DataFrame/SQL plans optimized by
Catalyst, Arrow-vectorized pandas UDFs only where built-ins cannot express
the semantics (text chunking, embedding stubs, per-group clustering).

Layout
------
- ``session``    : SparkSession builder tuned for the target workload.
- ``tables``     : loaders/schemas for the test tables and engine tables.
- ``operators/`` : relational core (filters, aggregates, windows, set ops,
                   pagination) mirroring SURVEY.md §2.2-2.7.
- ``functions/`` : scalar/vector column functions (§2.8).
- ``search/``    : vector top-k + rank-fusion pipelines (§2.5, §2.10).
- ``dedup``      : exact/MinHash-LSH/SimHash/n-gram/embedding dedup.
- ``textstats``  : language-ID, quality scoring, token counts, fingerprints.
- ``clustering`` : per-group clustering with the reference's tiering
                   contract (§2.9).
- ``metrics``    : retrieval quality metrics Hit@k/MRR/nDCG (§5).
- ``plans/``     : dynamic query-spec → DataFrame compiler (P8).
"""

__version__ = "0.1.0"

"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference semantic-similarity MapReduce system
(lizgo99/Semantic-Similarity-System-Using-AWS-MapReduce), re-expressed Spark-first.

Layout:
    session      - SparkSession builder tuned for local[N] testing and
                   cluster-scale defaults (AQE, partitions, Arrow).
    schemas      - explicit StructTypes for every logical relation R0-R5
                   (SURVEY.md §1.1) plus the driver fixture tables.
    functions/   - the Porter stemmer (scalar function and UDF).
    sources/     - readers: syntactic-ngram corpus text, gold-standard
                   word pairs, parquet fixture tables.
    operators/   - the relational operator inventory (SURVEY.md §2):
                   counts, association measures, pair-vector similarity,
                   dedup, similarity search (one array dot/cosine
                   kernel in operators/ann.py), top-k.
    plans/       - end-to-end pipeline compositions (the reference's
                   5-stage job flow as one lazy DataFrame plan).
    streaming/   - Structured Streaming operators over the events table.
    ml/          - RandomForest train/eval (reference Step5 equivalent).
"""

__version__ = "0.1.0"

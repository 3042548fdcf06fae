from semantic_similarity_system_using_aws_mapreduce_spark.sources.biarcs import read_biarcs, token_emissions
from semantic_similarity_system_using_aws_mapreduce_spark.sources.bucketing import write_bucketed
from semantic_similarity_system_using_aws_mapreduce_spark.sources.gold import read_gold_standard
from semantic_similarity_system_using_aws_mapreduce_spark.sources.jsonl import read_jsonl_documents

__all__ = [
    "read_biarcs",
    "token_emissions",
    "read_gold_standard",
    "write_bucketed",
    "read_jsonl_documents",
]

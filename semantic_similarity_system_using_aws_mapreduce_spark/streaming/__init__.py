"""Structured Streaming over the documents table: continuous-ingest
curation (documents.py), its paragraph-level dedup (paragraphs.py) and
the BM25 retrieval tables it maintains (retrieval.py)."""

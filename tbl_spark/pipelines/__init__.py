"""Training-data pipeline operators over the documents/embeddings tables:
deduplication, similarity search, text analysis, packing, sampling, and
multimodal plumbing (media payloads, pure-numpy PPM/BMP decode)."""

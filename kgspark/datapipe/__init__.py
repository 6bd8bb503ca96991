"""Large-scale training-data pipeline operators (BASELINE extra scope):
dedup (exact / substring-span / MinHash-LSH / SimHash / n-gram Jaccard /
embedding-cosine), ANN similarity search, text analysis, bigram-LM quality
scoring, curation (decontamination / repetition / URL dedup / PII),
chunking + sequence packing, and stratified sampling."""

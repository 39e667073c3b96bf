"""DataFrame -> DataFrame operators: dedup / near-dup (exact, MinHash,
SimHash, incremental, clustering), similarity search (brute-force, LSH,
IVF, PQ, exact MIPS), as-of and range joins, aggregation cubes +
sketches (HLL/CMS/DDSketch/KMV) + experiment and model-eval statistics
+ incremental aggregate maintenance + table profiler, PageRank and
triangle counting, training-corpus prep (chunking, PII, contamination,
sampling, splits, LM quality scoring, line dedup, BPE tokenizer
training, negative sampling, curriculum ordering, vocabulary coverage,
Kneser-Ney scoring), unigram-LM tokenizer training (unigram_lm.py),
ranking/retrieval (BM25, MMR), funnels + retention matrices,
ALS matrix factorization with MIPS recommendation serving, skew-split
joins (hot_key_split_join), feature engineering (standardization,
quantile bins, target encoding, weight of evidence), dimensionality
reduction (PCA, JL, Mahalanobis), and multimodal feature extraction."""

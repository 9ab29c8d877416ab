"""North-star extensions: the operations a large-scale training-data
pipeline needs, designed shuffle-first for 100 TB.

* dedup.py      exact, MinHash+LSH and n-gram Jaccard near-dup pairs,
                and the stored gram log (one gram-hash array per doc)
* similarity.py cosine / squared-L2 kernels and brute-force top-k
* retrieval.py, ann_store.py  stored BM25 and IVF-PQ indexes
* textstats.py  language-ID, quality scoring, token counting,
                document fingerprinting
* multimodal.py opaque binary columns with typed metadata (manifest)

Design rules: no driver-side materialization, candidate generation is
always key-bucketed (band join) so the pair space never goes O(n^2),
high-frequency buckets are capped explicitly (logged, not silent), and
every hash is a portable integer fold so results are reproducible
across engines (the DuckDB oracle runs the same arithmetic).
"""

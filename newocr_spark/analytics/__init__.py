"""Large-scale training-data pipeline operations over the documents table:
deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard), text analysis
(language id, quality scoring, token counting, fingerprinting) and corpus
curation (cleaning, decontamination, packing, selection).

Everything here is built from pyspark.sql built-ins (JVM-side, codegen'd),
apart from a few vectorized pandas kernels where no built-in fits (the
n-gram bitmap Jaccard in dedup.py). Each operation ships with a
DuckDB-equivalent oracle SQL string used by the driver's correctness
harness (__spark_entry__.py).
"""

from .dedup import exact_duplicates, minhash_lsh_pairs, ngram_jaccard_pairs, simhash_docs  # noqa: F401
from .textstats import doc_quality, lang_id  # noqa: F401

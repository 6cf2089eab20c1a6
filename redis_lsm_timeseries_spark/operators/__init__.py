"""Engine operators: DataFrame-in / DataFrame-out transformations.

- ``lww``        last-write-wins merge (the reference's read-time dedup, O6)
- ``dedup``      exact + near-duplicate detection over documents
- ``components`` connected components over candidate pairs (large-star/
                 small-star) + canonical-doc selection — the dedup
                 pipeline's transitive 'keep one copy' final stage
- ``skew``       salting for skewed bucket-local self-joins
- ``similarity`` embedding similarity search (brute-force, LSH, IVF)
- ``ann_index``  persistent IVF index as one atomic manifest commit
- ``text``       text analysis: language ID, quality score, tokens, URLs
- ``lm``         unigram/bigram language-model quality scoring
- ``packing``    concat-and-chunk and no-split sequence packing
- ``sampling``   deterministic hash-mod mixing and hash splits
- ``filtering``  domain blocklists + one-row corpus report card
- ``pipeline``   one-call batch curation composing the above with
                 auditable per-document drop reasons
- ``resample``   regular-grid gap filling (LOCF / linear), M4
                 downsampling, rolling z-score, EWMA
- ``grouped``    applyInPandas per-group trend
- ``bucketed``   shuffle-free co-located joins over bucketed tables
- ``multimodal`` opaque-binary column plumbing (decode stubs, real Spark shape)
- ``merge``      row-level MERGE / DELETE (copy-on-write or deletion vectors)
- ``dml``        predicate-level UPDATE / DELETE
- ``zorder``     Z-order clustering for multi-column data skipping
- ``copy_into``  idempotent bulk-file ingest (COPY INTO)
"""

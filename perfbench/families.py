"""Gate query families and the fixed subset the timed sweep measures.

Each of the 110 ``__spark_entry__.queries()`` entries belongs to exactly one
family, chosen by the module it calls; the query-name prefix identifies that
module:

- extract: ``operators.extract`` / ``parse`` / ``diff`` / ``serialize`` /
  ``transform`` (the HTML kernel and its siblings), 14 queries
- media: ``operators.multimodal`` / ``layout`` (binary decodes, PDF), 18
- dedup: ``functions.dedup`` / ``similarity`` / ``clustering`` and the bloom
  decontamination, 18
- sql: TPC-H-like and ``events`` queries, plain Spark SQL, 20
- corpus: everything else (``functions.text`` / ``bpe`` / ``graph`` / ``url``
  / ``crawl`` / ``robots`` / ``sketch`` / ``sampling``, ``sources.warc``,
  ``operators.pipeline``), 40
"""

from __future__ import annotations

FAMILIES = ("extract", "media", "dedup", "corpus", "sql")

_PREFIXES = (
    ("extract", ("extract_", "parse_", "diff_", "generate_", "transform_")),
    ("media", ("multimodal_", "layout_")),
    ("dedup", ("dedup_", "similarity_", "embedding_", "kmeans_", "decontaminate_",
               "sketch_bloom_")),
    ("sql", ("tpch_", "events_")),
)


def family(query: str) -> str:
    for fam, prefixes in _PREFIXES:
        if query.startswith(prefixes):
            return fam
    return "corpus"


# The timed sweep runs these 5 queries, one per family: one warm pass over all
# 110 takes about a minute on 4 cores, and a run has to hold at least three
# timed passes within a budget of about 50 s. Each pick is one of the cheaper
# queries of its family that still runs the family's typical plan: the HTML
# kernel, a binary decode in Python, a cosine self-join, a multi-job sketch
# aggregation, window functions. The costliest cells (dedup_semantic,
# text_bpe_vocab, graph_pagerank, ...) are left to the traced run, which
# executes every other query once, cold, for its per-query wall, jobs, stages
# and Exchanges.
SWEEP = (
    "extract_flagship",
    "multimodal_png_decode",
    "dedup_embedding_cosine",
    "sketch_hll_users",
    "events_sessionize",
)

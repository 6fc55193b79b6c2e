"""kgspark — PySpark-native knowledge-graph construction engine.

Built from scratch (NOT a port) with the query/data-processing capabilities
of the reference `jburnford/Canada-History-Knowledge-Graph` (a single-node
pandas/geopandas pipeline, studied at /root/reference — see SURVEY.md for the
operator-by-operator mapping with file:line citations).

Pipeline stages (SURVEY.md §7.2):
  pages (url, warc_ts, html, text, lang)
    -> extract   (boilerplate-stripped text, byte-identical per url)
    -> mentions  (gazetteer mention detection, vectorized Arrow UDF)
    -> link      (blocked fuzzy entity linking vs broadcast alias index)
    -> relations (pattern relation extraction -> raw triples)
    -> canonicalize (MinHash-LSH blocking + connected components + consensus)
    -> materialize  (partitioned entities/edges/lineage tables, resumable)

Everything is DataFrame-native: no per-row Python, no driver-side
accumulation; Python appears only in vectorized pandas/Arrow UDFs.
"""

__version__ = "0.1.0"

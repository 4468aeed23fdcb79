"""ocds_entity_extract_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of
ProjectPODER/ocds-entity-extract (reference: /root/reference, Node.js).

Not a port: the reference's sequential upsert-with-merge over driver-memory
dicts (reference index.js:48-55, 83-96) is re-expressed as declarative
DataFrame grouped aggregation; its dict probes become broadcast/shuffle joins;
its implicit entity graph becomes an explicit (subj, pred, obj) triples
DataFrame resolved via MinHash-LSH blocking + connected components.

Pipeline: pages(url, warc_ts, html, text, lang)
  -> extract_text (Arrow pandas UDF, byte-stable per url)
  -> mention/membership span regexes (fused into the same Arrow pass)
  -> classify (broadcast CSV override join + keyword/suffix rules)
  -> entity merge (groupBy(entity_id) — reference extract.js upserts)
  -> MinHash-LSH blocking -> candidate scoring -> connected components
  -> canonical triples, partitioned write + lineage + checkpoint/resume.
"""

__version__ = "0.1.0"

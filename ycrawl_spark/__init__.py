"""ycrawl_spark — a from-scratch PySpark-native crawl-analytics engine.

Re-expresses the capabilities of the reference crawler (yyyaaan/yCrawl,
surveyed in SURVEY.md) as an idiomatic Spark DataFrame/SQL engine:

- URL frontier as a bucketed DataFrame/table (reference:
  Coordinator/main.py:34-61 regenerates an in-memory list per call).
- URL-seen membership as one exact join of the frontier against the
  fetch_log-derived crawl state per crawl (re)entry; Bloom and cuckoo
  filter primitives are tested against the exact anti-join
  (reference: GCS prefix listing, Coordinator/main.py:8-25,68).
- Politeness / priority scheduling as window functions
  (reference: serial paced dispatch, Worker/main.py:51-68).
- Fetch + decode + validate as Arrow-vectorized mapInPandas stages
  (reference: puppeteer per-URL process, Worker/node_handler.js).
- Checkpoint/resume via a manifest-backed table facade
  (reference: 0_meta_on_completion.json, Frontend/functions.py:17-35).

Everything here derives from public knowledge only: the Apache Spark /
PySpark API and the reference repo's observable behavior.
"""

__version__ = "0.1.0"

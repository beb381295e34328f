"""tesseract_rs_spark — a brand-new PySpark-native text-extraction engine.

Re-expresses the extraction capabilities of the reference
(cafercangundogdu/tesseract-rs, surveyed in SURVEY.md) as a Spark-first
pipeline over Common-Crawl-style page tables
``(url string, warc_ts timestamp, html binary, text string, lang string)``:

- decode ``html:binary`` page payloads (HTML bytes),
- segment into a block > paragraph > line > word hierarchy
  (reference hierarchy: /root/reference/src/enums.rs:48-54),
- classify and strip boilerplate (the web-text analog of the reference's
  layout analysis, /root/reference/src/api.rs:1353-1364),
- assemble byte-stable extracted text per url
  (assembly contract of get_utf8_text, /root/reference/src/api.rs:1303-1328),
- never fail a job on one corrupt page: per-row status + failure spans
  (error model: /root/reference/src/error.rs:6-41).

Every Python stage is Arrow-vectorized — zero per-row Python UDFs.  The
per-document stages (extraction, OCR, media, image-layer PDF rendering,
MinHash and SimHash signatures, LSH/IVF/IMI embedding assignment) cross
the Arrow boundary through one helper, ``operators.arrow.map_docs``,
which hands each batch body its Arrow payload column.  Only the grouped
PDF round-trip (``applyInPandas``), the two page generators and two
per-batch partial aggregates (glyph learning, distributed k-means) use
``mapInPandas``/``mapInArrow`` themselves.  Python workers start through
``worker_daemon`` (see ``session.get_spark``).
"""

__version__ = "0.1.0"

from tesseract_rs_spark.config import ExtractConfig  # noqa: F401

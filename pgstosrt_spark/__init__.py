"""pgstosrt_spark — a PySpark-native extraction engine.

A from-scratch re-expression of the PGS-subtitle extraction semantics of
Tentacule/PgsToSrt (reference at /root/reference, studied for *what* it
computes, not *how*) over Iceberg/parquet tables of interleaved text+media
documents:

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

Architecture (Spark-first):
  * ``pgs/``       — pure-Python/numpy decode core (segment parse, display-set
                     state machine, RLE decode, palette LUT, duplicate merge,
                     deterministic glyph OCR).  No Spark imports; unit-tested
                     against the reference semantics cited per function.
  * ``kernels.py`` — Arrow-vectorized ``mapInArrow``/``mapInPandas`` kernels
                     wrapping the core (never per-row Python UDFs).
  * ``pipeline.py``— the DataFrame plans: by default one scan -> per-document
                     kernel, no shuffle; ``two_phase`` explodes payloads and
                     rebalances compositions for skew, then re-merges.
  * ``functions/`` — training-data ops (dedup, language-ID, quality, tokens,
                     fingerprints, ANN similarity) as built-in ``F.*``
                     expressions wherever possible.
  * ``fixtures/``  — deterministic PGS *encoder* (the inverse pipeline) used
                     to synthesize test/bench corpora; no external data.
"""

__version__ = "0.1.0"

"""xhs_ocr_spark — a from-scratch PySpark-native main-content extraction engine.

Re-expresses the semantics of the reference pipeline (Fun-Fox/XHS-OCR, a
single-threaded Python OCR/ETL tool) as an idiomatic Spark job:

- interleaved text+media documents: ``doc_id string,
  spans array<struct<kind string, text string, media_ref string, offset int>>``
- media spans routed through a batched ``mapInArrow`` OCR stage with a
  per-executor engine (reference: one subprocess + one shared temp file per
  image, core/run.py:342-514),
- text spans through a vectorized boilerplate classifier,
- both re-merged and re-ordered by offset (window/group semantics),
- relational merge stages (related/unrelated) mirroring db/data_dms.py,
- resumable per-partition checkpoints with lineage + metrics.

No code is copied from the reference; file:line citations in docstrings point
at the behavior being re-implemented.
"""

from . import _zipguard  # noqa: F401  (per-task zip re-read guard, see module)

__version__ = "0.1.0"

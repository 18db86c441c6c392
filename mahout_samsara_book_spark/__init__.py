"""mahout_samsara_book_spark — a PySpark-native analytics engine with the
capabilities of the Samsara linear-algebra DSL exercised by
``andrewpalumbo/mahout-samsara-book``, rebuilt Spark-first.

Layers (see SURVEY.md §7):

- :mod:`.drm` — distributed row-matrix layer: a thin wrapper over a
  DataFrame ``(row_id: long, features: array<double>)`` implementing the
  DRM operator surface (SURVEY §2A) as mostly pure Spark SQL expressions,
  with an Arrow (``mapInArrow``) block codec for the block ops.
- :mod:`.kernels` — in-core numpy kernels (SURVEY §2B): deterministic
  matrix views, solve, distance matrices, t-distribution stats.
- :mod:`.algorithms` — the reference's algorithms (SURVEY §2C): ridge
  regression + coefficient t-tests, TWCNB complement naive Bayes, BFGS,
  Bahmani k-means|| sketch.
- :mod:`.functions` — text/vector scalar function layer (SURVEY §2D +
  north-star text analysis).
- :mod:`.operators` — large-scale data-pipeline operators (dedup,
  similarity search, multimodal columns).
- :mod:`.sources` — table readers and model I/O.
- :mod:`.streaming` — structured-streaming scoring.
"""

from mahout_samsara_book_spark.drm.drm import Drm
from mahout_samsara_book_spark.engine import SamsaraContext
from mahout_samsara_book_spark.session import get_spark

__all__ = ["Drm", "SamsaraContext", "get_spark"]
__version__ = "0.1.0"
